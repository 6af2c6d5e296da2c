package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Thirty-fifth analytics pack (round 6, session 8): Hurst exponent
  * by rescaled-range analysis, extreme-value tail diagnostics (mean
  * excess + Hill estimator), Benjamini–Hochberg FDR over exact
  * permutation p-values, classical seasonal decomposition, and
  * Laspeyres/Paasche/Fisher price indices.
  *
  * Exactness discipline unchanged: R/S ranges ride integer dollar
  * cumulative sums (Z·w = w·Σ_{≤t} − t·Σ stays BIGINT), p-values are
  * exact rationals compared by integer cross-multiplication, ln terms
  * land on the 1e-6 BIGINT grid before summing, and every seasonal
  * component quantizes before cross-year averaging. */
object Analytics35 {

  /** q281 R/S window sizes (log-spaced; blocks with a short tail are
    * dropped). */
  private val HurstWindows = Seq(16, 32, 64, 128)

  /** q283 BH level α = 1/10 as integers (numerator over denominator). */
  private val AlphaNum = 1
  private val AlphaDen = 10

  /** q283 permutation replicas (p = (1 + extreme)/(R + 1)). */
  private val PermR = 199

  /** The daily revenue series in WHOLE DOLLARS (BIGINT — cents would
    * overflow w·Σx² in the 128-day R/S blocks). */
  private[queries] def dailyDollars(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("day"))
      .agg(round(sum(dec("o_totalprice")).cast("double")).cast("long")
        .as("x"))

  private[queries] val DailyDollarsSql =
    """SELECT CAST(date_diff('day', DATE '1970-01-01',
      |    CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
      |  CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
      |    AS DOUBLE)) AS BIGINT) AS x
      |FROM orders GROUP BY 1""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- Hurst exponent via rescaled-range analysis (Hurst 1951;
    // ---- Mandelbrot-Wallis): for each window size w, partition the
    // ---- daily dollar series into w-day blocks; R = range of the
    // ---- cumulative deviation walk, S = population std, both exact:
    // ---- Z_t·w = w·Σ_{≤t}x − t·Σx and S²w² = w·Σx² − (Σx)² stay
    // ---- BIGINT. Per-block R/S quantizes to micro-units before the
    // ---- per-w mean; H = the log-log OLS slope over the four
    // ---- (ln w, ln R/S) points, extracted as a FIXED 4-term tree. --
    Q("q281_hurst_rs",
      (s, dir) => {
        val base = dailyDollars(s, dir)
          .withColumn("rn", row_number().over(Window.orderBy("day")) - 1)
          .localCheckpoint(true) // four window sizes re-scan it
        val ws = HurstWindows.map { w =>
          val blk = base.withColumn("blk", expr(s"rn div $w"))
          val wb = Window.partitionBy("blk")
          val wrun = Window.partitionBy("blk").orderBy("rn")
          blk
            .withColumn("nb", count(lit(1)).over(wb))
            .where(col("nb") === w)
            .withColumn("sx", sum(col("x")).over(wb))
            .withColumn("sxx", sum(col("x") * col("x")).over(wb))
            .withColumn("t", row_number().over(wrun))
            .withColumn("cum", sum(col("x")).over(wrun))
            .withColumn("zw", lit(w.toLong) * col("cum") -
              col("t") * col("sx"))
            .groupBy("blk")
            .agg(first(col("sx")).as("sx"), first(col("sxx")).as("sxx"),
              max(col("zw")).as("zmax"), min(col("zw")).as("zmin"))
            // w·sxx and sx² overflow BIGINT once daily dollars triple
            // (caught by the sf0.3 sweep) — widen to DECIMAL(38,0)
            // before the products, exactly as the oracle widens to
            // HUGEINT; the quotient is double either way
            .select(round(lit(1e6) *
              (col("zmax") - col("zmin")).cast("double") /
              sqrt((lit(w.toLong).cast(DecimalType(38, 0)) * col("sxx") -
                col("sx").cast(DecimalType(38, 0)) * col("sx"))
                .cast("double"))).cast("long")
              .as("rsu"))
            .agg(count(lit(1)).as("n_blocks"), sum(col("rsu")).as("srsu"))
            .select(lit(w).as("w"), col("n_blocks"),
              round(col("srsu").cast("double") / col("n_blocks")
                .cast("double") / lit(1e6), 6).as("mean_rs"))
        }
        val pts = ws.reduce(_ unionByName _)
          .select(col("w"), col("n_blocks"), col("mean_rs"),
            round(log(col("w").cast("double")) * 1e6).cast("long").as("lw"),
            round(log(col("mean_rs")) * 1e6).cast("long").as("lrs"))
        val h = pts.agg(count(lit(1)).as("k"), sum(col("lw")).as("slw"),
            sum(col("lrs")).as("slr"),
            sum(col("lw") * col("lw")).as("slw2"),
            sum(col("lw") * col("lrs")).as("slwr"))
          .select(round((col("k") * col("slwr") - col("slw") * col("slr"))
            .cast("double") /
            (col("k") * col("slw2") - col("slw") * col("slw"))
              .cast("double"), 6).as("hurst"))
        pts.crossJoin(broadcast(h))
          .select(col("w"), col("n_blocks"), col("mean_rs"), col("hurst"))
          .orderBy("w")
      },
      Some {
        val perW = HurstWindows.map { w =>
          s"""SELECT $w AS w, CAST(COUNT(*) AS BIGINT) AS n_blocks,
             |  ROUND(CAST(SUM(rsu) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE) / 1e6, 6) AS mean_rs
             |FROM (
             |  SELECT blk,
             |    CAST(ROUND(1e6 * CAST(MAX(zw) - MIN(zw) AS DOUBLE)
             |      / sqrt(CAST(CAST($w AS HUGEINT) * ANY_VALUE(sxx)
             |        - CAST(ANY_VALUE(sx) AS HUGEINT) * ANY_VALUE(sx)
             |        AS DOUBLE)))
             |      AS BIGINT) AS rsu
             |  FROM (
             |    SELECT blk, sx, sxx,
             |      $w * cum - t * sx AS zw
             |    FROM (
             |      SELECT rn // $w AS blk, x,
             |        COUNT(*) OVER (PARTITION BY rn // $w) AS nb,
             |        SUM(x) OVER (PARTITION BY rn // $w) AS sx,
             |        SUM(x * x) OVER (PARTITION BY rn // $w) AS sxx,
             |        ROW_NUMBER() OVER (PARTITION BY rn // $w
             |          ORDER BY rn) AS t,
             |        SUM(x) OVER (PARTITION BY rn // $w ORDER BY rn
             |          ROWS UNBOUNDED PRECEDING) AS cum
             |      FROM base
             |    ) WHERE nb = $w
             |  )
             |  GROUP BY blk
             |)""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH base AS MATERIALIZED (
           |  SELECT day, x,
           |    ROW_NUMBER() OVER (ORDER BY day) - 1 AS rn
           |  FROM (${DailyDollarsSql.replace("\n", "\n  ")})
           |), pts AS MATERIALIZED (
           |  SELECT w, n_blocks, mean_rs,
           |    CAST(ROUND(ln(CAST(w AS DOUBLE)) * 1e6) AS BIGINT) AS lw,
           |    CAST(ROUND(ln(mean_rs) * 1e6) AS BIGINT) AS lrs
           |  FROM ($perW)
           |), h AS (
           |  SELECT ROUND(CAST(COUNT(*) * SUM(lw * lrs)
           |      - SUM(lw) * SUM(lrs) AS DOUBLE)
           |    / CAST(COUNT(*) * SUM(lw * lw)
           |      - SUM(lw) * SUM(lw) AS DOUBLE), 6) AS hurst
           |  FROM pts
           |)
           |SELECT w, n_blocks, mean_rs, hurst
           |FROM pts CROSS JOIN h
           |ORDER BY w""".stripMargin
      }),

    // ---- extreme-value tail diagnostics on order values: for the
    // ---- 90th/95th/99th exact-order-statistic thresholds, the mean
    // ---- excess (integer cent sums) and the Hill tail-index
    // ---- estimate over the exceedances — ln(x/u) on the micro-unit
    // ---- grid before the sum, so the estimator is order-free. ------
    Q("q282_evt_tail",
      (s, dir) => {
        val v = t(s, dir, "orders")
          .select(round(col("o_totalprice") * 100).cast("long").as("c"),
            col("o_orderkey"))
        val n = v.count()
        // exact percentile thresholds via distributed rank (orders-grain)
        val ranked = graft.operators.Ranks
          .withGlobalRank(v, Seq(col("c"), col("o_orderkey")), "rn")
        val thr = ranked
          .join(broadcast(s.createDataFrame(Seq((90, n * 90L / 100),
              (95, n * 95L / 100), (99, n * 99L / 100)))
            .toDF("pct", "rn")), Seq("rn"))
          .select(col("pct"), col("c").as("u"))
        v.crossJoin(broadcast(thr))
          .where(col("c") > col("u"))
          .select(col("pct"), col("u"), col("c"),
            round(log(col("c").cast("double") / col("u").cast("double")) *
              1e6).cast("long").as("lnu"))
          .groupBy("pct", "u")
          .agg(count(lit(1)).as("n_exceed"),
            sum(col("c") - col("u")).as("sexc"), sum(col("lnu")).as("slnu"))
          .select(col("pct"),
            round(col("u").cast("double") / 100.0, 2).as("threshold"),
            col("n_exceed"),
            round(col("sexc").cast("double") / col("n_exceed")
              .cast("double") / 100.0, 6).as("mean_excess"),
            round(col("slnu").cast("double") / col("n_exceed")
              .cast("double") / 1e6, 6).as("hill_h"),
            round(lit(1e6) * col("n_exceed").cast("double") /
              col("slnu").cast("double"), 6).as("tail_index"))
          .orderBy("pct")
      },
      Some("""WITH v AS (
             |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c,
             |    o_orderkey
             |  FROM orders
             |), ranked AS (
             |  SELECT c, ROW_NUMBER() OVER (ORDER BY c, o_orderkey) AS rn
             |  FROM v
             |), thr AS (
             |  SELECT p.pct, r.c AS u
             |  FROM (VALUES (90), (95), (99)) p(pct)
             |  JOIN ranked r
             |    ON r.rn = p.pct * (SELECT COUNT(*) FROM v) // 100
             |), exc AS (
             |  SELECT pct, u, c,
             |    CAST(ROUND(ln(CAST(c AS DOUBLE) / CAST(u AS DOUBLE)) * 1e6)
             |      AS BIGINT) AS lnu
             |  FROM v CROSS JOIN thr
             |  WHERE c > u
             |)
             |SELECT pct, ROUND(CAST(u AS DOUBLE) / 100.0, 2) AS threshold,
             |  CAST(COUNT(*) AS BIGINT) AS n_exceed,
             |  ROUND(CAST(SUM(c - u) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE) / 100.0, 6) AS mean_excess,
             |  ROUND(CAST(SUM(lnu) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE) / 1e6, 6) AS hill_h,
             |  ROUND(1e6 * CAST(COUNT(*) AS DOUBLE)
             |    / CAST(SUM(lnu) AS DOUBLE), 6) AS tail_index
             |FROM exc
             |GROUP BY pct, u
             |ORDER BY pct""".stripMargin)),

    // ---- Benjamini–Hochberg FDR over EXACT permutation p-values:
    // ---- per nation, an md5-parity sign-flip permutation test of
    // ---- the segment/balance statistic (the q223 machinery, one test
    // ---- per nation); p = (1+extreme)/(R+1) stays a rational, and
    // ---- the BH step-up condition p_(i) ≤ α·i/m is evaluated by
    // ---- integer cross-multiplication — no float in the decision. --
    Q("q283_bh_fdr",
      (s, dir) => {
        val d = t(s, dir, "customer").select(
          col("c_custkey"), col("c_nationkey").as("nation"),
          round(col("c_acctbal") * 100).cast("long").as("x"),
          when(col("c_mktsegment") === "BUILDING", 1L).otherwise(-1L)
            .as("sg"))
        val obs = d.groupBy("nation").agg(sum(col("sg") * col("x"))
          .as("t_obs"))
        val perms = d
          .select(col("c_custkey"), col("nation"), col("x"),
            explode(sequence(lit(0), lit(PermR - 1))).as("r"))
          .select(col("nation"), col("r"), (lit(1L) - lit(2L) *
            (conv(substring(md5(concat(col("c_custkey").cast("string"),
              lit(":"), col("r").cast("string"))), 32, 1), 16, 10)
              .cast("long") % 2L)).as("sg"), col("x"))
          .groupBy("nation", "r").agg(sum(col("sg") * col("x")).as("tr"))
        val pv = perms.join(broadcast(obs), Seq("nation"))
          .groupBy("nation")
          .agg(first(col("t_obs")).as("t_obs"),
            sum(when(abs(col("tr")) >= abs(col("t_obs")), 1L)
              .otherwise(0L)).as("n_extreme"))
          .withColumn("m", count(lit(1)).over(Window.partitionBy(lit(0))))
          .withColumn("i", row_number().over(
            Window.orderBy(col("n_extreme"), col("nation"))))
        // BH: k* = max { i : (1+c_i)·αDen·m ≤ (R+1)·αNum·i }
        val ok = (col("n_extreme") + 1L) * AlphaDen * col("m") <=
          lit((PermR + 1).toLong) * AlphaNum * col("i")
        val kstar = pv.agg(coalesce(max(when(ok, col("i"))), lit(0L))
          .as("kstar"))
        pv.crossJoin(broadcast(kstar))
          .select(col("nation"), col("t_obs"), col("n_extreme"),
            round((col("n_extreme") + 1L).cast("double") /
              lit((PermR + 1).toDouble), 6).as("p_value"),
            col("i").cast("long").as("p_rank"), (col("i") <= col("kstar"))
              .as("rejected"))
          .orderBy("p_rank")
      },
      Some(s"""WITH d AS (
             |  SELECT c_custkey, c_nationkey AS nation,
             |    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS x,
             |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE -1 END
             |      AS sg
             |  FROM customer
             |), obs AS (
             |  SELECT nation, CAST(SUM(sg * x) AS BIGINT) AS t_obs
             |  FROM d GROUP BY nation
             |), perms AS (
             |  SELECT nation, r.r,
             |    CAST(SUM((1 - 2 * (('0x' || substr(md5(
             |      CAST(c_custkey AS VARCHAR) || ':' ||
             |        CAST(r.r AS VARCHAR)), 32, 1))::BIGINT % 2)) * x)
             |      AS BIGINT) AS tr
             |  FROM d CROSS JOIN range($PermR) r(r)
             |  GROUP BY nation, r.r
             |), pv AS (
             |  SELECT p.nation, ANY_VALUE(o.t_obs) AS t_obs,
             |    CAST(SUM(CASE WHEN ABS(p.tr) >= ABS(o.t_obs)
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
             |  FROM perms p JOIN obs o ON p.nation = o.nation
             |  GROUP BY p.nation
             |), ranked AS (
             |  SELECT nation, t_obs, n_extreme,
             |    COUNT(*) OVER () AS m,
             |    ROW_NUMBER() OVER (ORDER BY n_extreme, nation) AS i
             |  FROM pv
             |), ks AS (
             |  SELECT COALESCE(MAX(CASE WHEN (n_extreme + 1) * $AlphaDen * m
             |      <= ${PermR + 1} * $AlphaNum * i THEN i END), 0) AS kstar
             |  FROM ranked
             |)
             |SELECT nation, t_obs, n_extreme,
             |  ROUND(CAST(n_extreme + 1 AS DOUBLE) / ${PermR + 1}.0, 6)
             |    AS p_value,
             |  i AS p_rank, i <= kstar AS rejected
             |FROM ranked CROSS JOIN ks
             |ORDER BY p_rank""".stripMargin)),

    // ---- classical additive seasonal decomposition (the STL-lite /
    // ---- X-11 first pass): trend = centered 2×12 moving average of
    // ---- the monthly series, seasonal = per-calendar-month mean of
    // ---- the detrended values re-centered to sum 0, residual = the
    // ---- rest. Every component quantizes to micro-units before any
    // ---- cross-year average, so the decomposition is exact. --------
    Q("q284_seasonal_decompose",
      (s, dir) => {
        // month lattice (≤ 84 rows, 1995-2001): bounded checkpoint — the
        // centered-MA windows below are certified lattice-grain
        val monthly = graft.operators.Lattice.checkpointBounded(
          t(s, dir, "orders")
            .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("mon"),
              month(col("o_orderdate")).as("moy"))
            .agg(sum(dec("o_totalprice")).cast("double").as("rev")),
          1000, "q284 yyyy-MM month grid")
        val wo = Window.orderBy("mon")
        val w12a = wo.rowsBetween(-6, 5)
        val w12b = wo.rowsBetween(-5, 6)
        val base = monthly
          .withColumn("rn", row_number().over(wo))
          .withColumn("nm", count(lit(1)).over(Window.partitionBy(lit(0))))
          .withColumn("s12a", sum(col("rev").cast(
            org.apache.spark.sql.types.DecimalType(28, 2))).over(w12a))
          .withColumn("s12b", sum(col("rev").cast(
            org.apache.spark.sql.types.DecimalType(28, 2))).over(w12b))
          .where(col("rn") > 6 && col("rn") <= col("nm") - 6)
          .withColumn("trendu",
            round(lit(1e6) * (col("s12a").cast("double") +
              col("s12b").cast("double")) / 24.0).cast("long"))
          .withColumn("detru",
            round(col("rev") * 1e6).cast("long") - col("trendu"))
        // FLOOR division (not Spark's truncating div): detrended sums
        // go negative, where DuckDB's // floors — the double quotient
        // is exact (sums stay far under 2^53)
        val seas = base.groupBy("moy")
          .agg(floor(sum(col("detru")).cast("double") /
            count(lit(1)).cast("double")).cast("long").as("su"))
        val seasAdj = seas
          .crossJoin(broadcast(seas.agg(floor(sum(col("su")).cast("double") /
            count(lit(1)).cast("double")).cast("long").as("gu"))))
          .select(col("moy"), (col("su") - col("gu")).as("seasu"))
        base.join(broadcast(seasAdj), Seq("moy"))
          .select(col("mon"), col("rev"),
            round(col("trendu").cast("double") / 1e6, 6).as("trend"),
            round(col("seasu").cast("double") / 1e6, 6).as("seasonal"),
            round((col("detru") - col("seasu")).cast("double") / 1e6, 6)
              .as("residual"))
          .orderBy("mon")
      },
      Some("""WITH monthly AS (
             |  SELECT strftime(o_orderdate, '%Y-%m') AS mon,
             |    CAST(EXTRACT(month FROM o_orderdate) AS INT) AS moy,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
             |      AS rev
             |  FROM orders GROUP BY 1, 2
             |), base AS MATERIALIZED (
             |  SELECT mon, moy, rev,
             |    CAST(ROUND(1e6 * (CAST(s12a AS DOUBLE)
             |      + CAST(s12b AS DOUBLE)) / 24.0) AS BIGINT) AS trendu,
             |    CAST(ROUND(rev * 1e6) AS BIGINT)
             |      - CAST(ROUND(1e6 * (CAST(s12a AS DOUBLE)
             |        + CAST(s12b AS DOUBLE)) / 24.0) AS BIGINT) AS detru
             |  FROM (
             |    SELECT mon, moy, rev,
             |      ROW_NUMBER() OVER (ORDER BY mon) AS rn,
             |      COUNT(*) OVER () AS nm,
             |      SUM(CAST(rev AS DECIMAL(28,2))) OVER
             |        (ORDER BY mon ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING)
             |        AS s12a,
             |      SUM(CAST(rev AS DECIMAL(28,2))) OVER
             |        (ORDER BY mon ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING)
             |        AS s12b
             |    FROM monthly
             |  ) WHERE rn > 6 AND rn <= nm - 6
             |), seas AS (
             |  SELECT moy, CAST(FLOOR(CAST(SUM(detru) AS DOUBLE)
             |    / COUNT(*)) AS BIGINT) AS su
             |  FROM base GROUP BY moy
             |), sadj AS (
             |  SELECT moy, su - (SELECT CAST(FLOOR(CAST(SUM(su) AS DOUBLE)
             |    / COUNT(*)) AS BIGINT) FROM seas) AS seasu
             |  FROM seas
             |)
             |SELECT b.mon, b.rev,
             |  ROUND(CAST(b.trendu AS DOUBLE) / 1e6, 6) AS trend,
             |  ROUND(CAST(s.seasu AS DOUBLE) / 1e6, 6) AS seasonal,
             |  ROUND(CAST(b.detru - s.seasu AS DOUBLE) / 1e6, 6)
             |    AS residual
             |FROM base b JOIN sadj s ON b.moy = s.moy
             |ORDER BY b.mon""".stripMargin)),

    // ---- index-number theory: Laspeyres / Paasche / Fisher price
    // ---- indices for 1996 against the 1995 base, over parts traded
    // ---- in BOTH years. Unit prices land on the integer cent grid
    // ---- (round(100·Σext/Σqty)); the index numerators/denominators
    // ---- are then exact Σ price·quantity BIGINTs, and Fisher is one
    // ---- sqrt on the fixed tree. -----------------------------------
    Q("q285_price_index",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .join(t(s, dir, "orders").select(col("o_orderkey"),
            year(col("o_orderdate")).as("yr")),
            col("l_orderkey") === col("o_orderkey"))
          .where(col("yr").isin(1995, 1996))
          .groupBy(col("l_partkey").as("pk"), col("yr"))
          .agg(round(lit(100.0) *
            sum(dec("l_extendedprice")).cast("double") /
            sum(col("l_quantity")).cast("double")).cast("long").as("p"),
            sum(col("l_quantity").cast("long")).as("q"))
        val base = li.where(col("yr") === 1995)
          .select(col("pk"), col("p").as("p0"), col("q").as("q0"))
        val cur = li.where(col("yr") === 1996)
          .select(col("pk"), col("p").as("p1"), col("q").as("q1"))
        base.join(cur, Seq("pk"))
          .agg(count(lit(1)).as("n_parts"),
            sum(col("p1") * col("q0")).as("l_num"),
            sum(col("p0") * col("q0")).as("l_den"),
            sum(col("p1") * col("q1")).as("p_num"),
            sum(col("p0") * col("q1")).as("p_den"))
          .select(col("n_parts"),
            round(col("l_num").cast("double") / col("l_den").cast("double"),
              6).as("laspeyres"),
            round(col("p_num").cast("double") / col("p_den").cast("double"),
              6).as("paasche"),
            round(sqrt((col("l_num").cast("double") /
                col("l_den").cast("double")) *
              (col("p_num").cast("double") / col("p_den").cast("double"))),
              6).as("fisher"))
      },
      Some("""WITH li AS (
             |  SELECT l_partkey AS pk,
             |    CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
             |    CAST(ROUND(100.0
             |      * CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
             |        AS DOUBLE)
             |      / CAST(SUM(l_quantity) AS DOUBLE)) AS BIGINT) AS p,
             |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  WHERE EXTRACT(year FROM o_orderdate) IN (1995, 1996)
             |  GROUP BY 1, 2
             |)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
             |  ROUND(CAST(SUM(c.p * b.q) AS DOUBLE)
             |    / CAST(SUM(b.p * b.q) AS DOUBLE), 6) AS laspeyres,
             |  ROUND(CAST(SUM(c.p * c.q) AS DOUBLE)
             |    / CAST(SUM(b.p * c.q) AS DOUBLE), 6) AS paasche,
             |  ROUND(sqrt((CAST(SUM(c.p * b.q) AS DOUBLE)
             |      / CAST(SUM(b.p * b.q) AS DOUBLE))
             |    * (CAST(SUM(c.p * c.q) AS DOUBLE)
             |      / CAST(SUM(b.p * c.q) AS DOUBLE))), 6) AS fisher
             |FROM (SELECT pk, p, q FROM li WHERE yr = 1995) b
             |JOIN (SELECT pk, p, q FROM li WHERE yr = 1996) c USING (pk)""".stripMargin))
  )
}
