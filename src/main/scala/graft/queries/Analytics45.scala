package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import Analytics44.{monthlySeries, olsFit, MonthlySql, OlsSql}

/** Forty-fifth analytics pack (round 6, session 9): serial-dependence
  * tests and robust estimation — the Ljung-Box portmanteau test, the
  * Wald-Wolfowitz runs test, a Huber M-estimator of location (3 IRLS
  * steps), Bradley-Terry strengths from monthly segment contests, and
  * the XmR individuals control chart.
  *
  * Exactness discipline: autocovariance numerators are exact integer
  * products (HUGEINT / DECIMAL38 across the exchange); every
  * iterative reweighting sums grid-rounded DECIMAL terms so the 3
  * fixed iterations produce identical doubles in both engines. */
object Analytics45 {

  private val LbLags = 12
  private val D38 = DecimalType(38, 0)
  private val D19 = DecimalType(19, 0)

  val all: Seq[Q] = Seq(

    // ---- Ljung-Box portmanteau on the monthly-trend OLS residuals:
    // ---- r_k from exact µ-residual cross products for k = 1..12,
    // ---- Q = n(n+2)·Σ r_k²/(n−k) with the k-terms summed on the
    // ---- round-9 DECIMAL grid. The joint-serial-dependence partner
    // ---- of q327's lag-1 DW. ----------------------------------------
    Q("q331_ljung_box",
      (s, dir) => {
        val monthly = monthlySeries(s, dir)
        val fit = olsFit(monthly)
        val resid = monthly.crossJoin(broadcast(fit))
          .select(col("x"), col("n"),
            round((col("rev").cast("double") - col("a") -
              col("b") * col("x").cast("double")) * 1e6).cast("long")
              .as("e"))
          .localCheckpoint(true)
        val den = resid.agg(sum(col("e").cast(D38) * col("e").cast(D19))
          .cast("double").as("den"))
        val ks = resid.sparkSession.range(1, LbLags + 1).toDF("k")
        val nums = resid.as("a").crossJoin(ks)
          .join(resid.select(col("x").as("bx"), col("e").as("be")),
            col("bx") === col("a.x") - col("k"))
          .groupBy("k")
          .agg(sum(col("a.e").cast(D38) * col("be").cast(D19))
            .cast("double").as("num"), first(col("a.n")).as("n"))
        nums.crossJoin(broadcast(den))
          .select(col("n"), col("k"),
            (col("num") / col("den")).as("rk"))
          .select(col("n"), col("k"), col("rk"),
            round(col("rk") * col("rk") /
              (col("n") - col("k")).cast("double"), 9)
              .cast(DecimalType(38, 9)).as("term"))
          .groupBy("n")
          .agg(sum(col("term")).cast("double").as("tsum"),
            max(abs(col("rk"))).as("max_abs_r"))
          .select(col("n").as("n_months"), lit(LbLags).cast("long").as("df"),
            round(col("n").cast("double") * (col("n") + 2L).cast("double") *
              col("tsum"), 6).as("q_stat"),
            round(col("max_abs_r"), 6).as("max_abs_r"))
      },
      Some(s"""WITH $MonthlySql, $OlsSql, resid AS MATERIALIZED (
             |  SELECT x, n,
             |    CAST(ROUND((CAST(rev AS DOUBLE) - a
             |      - b * CAST(x AS DOUBLE)) * 1e6) AS BIGINT) AS e
             |  FROM monthly CROSS JOIN fit
             |), den AS (
             |  SELECT CAST(SUM(CAST(e AS HUGEINT) * CAST(e AS HUGEINT))
             |    AS DOUBLE) AS den
             |  FROM resid
             |), nums AS (
             |  SELECT k,
             |    CAST(SUM(CAST(a.e AS HUGEINT) * CAST(b.e AS HUGEINT))
             |      AS DOUBLE) AS num,
             |    ANY_VALUE(a.n) AS n
             |  FROM resid a
             |  CROSS JOIN (SELECT UNNEST(range(1, ${LbLags + 1})) AS k) ks
             |  JOIN resid b ON b.x = a.x - k
             |  GROUP BY k
             |), terms AS (
             |  SELECT n, k, num / den AS rk,
             |    CAST(ROUND((num / den) * (num / den)
             |      / CAST(n - k AS DOUBLE), 9) AS DECIMAL(38, 9)) AS term
             |  FROM nums CROSS JOIN den
             |)
             |SELECT n AS n_months, CAST($LbLags AS BIGINT) AS df,
             |  ROUND(CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE)
             |    * CAST(SUM(term) AS DOUBLE), 6) AS q_stat,
             |  ROUND(MAX(ABS(rk)), 6) AS max_abs_r
             |FROM terms GROUP BY n""".stripMargin)),

    // ---- Wald-Wolfowitz runs test: is the monthly revenue's
    // ---- above/below-median sign sequence random? Exact two-middle
    // ---- median (×2 cents to stay integral), equal-to-median months
    // ---- excluded, runs counted over the month order, normal
    // ---- approximation from exact n1/n2/R. --------------------------
    Q("q332_runs_test",
      (s, dir) => {
        val monthly = monthlySeries(s, dir)
        val ranked = monthly.withColumn("rn",
          row_number().over(Window.orderBy(asc("rev"), asc("ym")))
            .cast("long"))
        val med = ranked.crossJoin(broadcast(
            monthly.agg(count(lit(1)).as("nm"))))
          .agg(sum(when(col("rn") === expr("(nm + 1) div 2"), col("rev"))
            .otherwise(0L)).as("m1"),
            sum(when(col("rn") === expr("(nm + 2) div 2"), col("rev"))
              .otherwise(0L)).as("m2"))
          .select((col("m1") + col("m2")).as("med2"))
        val signs = monthly.crossJoin(broadcast(med))
          .where(col("rev") * 2 =!= col("med2"))
          .select(col("x"), (col("rev") * 2 > col("med2")).cast("long")
            .as("s"))
        val runs = signs
          .withColumn("sp", lag(col("s"), 1).over(Window.orderBy("x")))
          .agg(sum(when(col("sp").isNull || col("s") =!= col("sp"), 1L)
            .otherwise(0L)).as("r"),
            sum(col("s")).as("n1"),
            sum(lit(1L) - col("s")).as("n2"))
        runs.select(col("r"), col("n1"), col("n2"),
            (lit(2.0) * col("n1") * col("n2") /
              (col("n1") + col("n2")).cast("double") + lit(1.0)).as("er"),
            (lit(2.0) * col("n1") * col("n2") *
              (lit(2.0) * col("n1") * col("n2") - col("n1") - col("n2")) /
              ((col("n1") + col("n2")).cast("double") *
                (col("n1") + col("n2")).cast("double") *
                (col("n1") + col("n2") - 1L).cast("double"))).as("vr"))
          .select(col("r").as("runs"), col("n1"), col("n2"),
            round(col("er"), 6).as("expected_runs"),
            round((col("r").cast("double") - col("er")) / sqrt(col("vr")),
              6).as("z"))
      },
      Some(s"""WITH $MonthlySql, ranked AS (
             |  SELECT rev, x,
             |    CAST(ROW_NUMBER() OVER (ORDER BY rev, ym) AS BIGINT)
             |      AS rn,
             |    CAST(COUNT(*) OVER () AS BIGINT) AS nm
             |  FROM monthly
             |), med AS (
             |  SELECT CAST(SUM(CASE WHEN rn = (nm + 1) // 2 THEN rev
             |      ELSE 0 END)
             |    + SUM(CASE WHEN rn = (nm + 2) // 2 THEN rev ELSE 0 END)
             |    AS BIGINT) AS med2
             |  FROM ranked
             |), signs AS (
             |  SELECT x,
             |    CASE WHEN rev * 2 > med2 THEN 1 ELSE 0 END AS s
             |  FROM monthly CROSS JOIN med
             |  WHERE rev * 2 <> med2
             |), runs AS (
             |  SELECT
             |    CAST(SUM(CASE WHEN sp IS NULL OR s <> sp THEN 1 ELSE 0
             |      END) AS BIGINT) AS r,
             |    CAST(SUM(s) AS BIGINT) AS n1,
             |    CAST(SUM(1 - s) AS BIGINT) AS n2
             |  FROM (SELECT s, LAG(s, 1) OVER (ORDER BY x) AS sp
             |        FROM signs)
             |), pieces AS (
             |  SELECT r, n1, n2,
             |    2.0 * n1 * n2 / CAST(n1 + n2 AS DOUBLE) + 1.0 AS er,
             |    2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
             |      / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
             |        * CAST(n1 + n2 - 1 AS DOUBLE)) AS vr
             |  FROM runs
             |)
             |SELECT r AS runs, n1, n2,
             |  ROUND(er, 6) AS expected_runs,
             |  ROUND((CAST(r AS DOUBLE) - er) / sqrt(vr), 6) AS z
             |FROM pieces""".stripMargin)),

    // ---- Huber M-estimator of order-value location: median start,
    // ---- MAD scale (both exact two-middle order statistics), three
    // ---- IRLS steps with ψ-weights min(1, k/|x−m|); the weighted
    // ---- means sum grid-rounded DECIMAL terms, so each iterate is
    // ---- engine-identical. The robust-location partner of q170's
    // ---- winsorized moments. ----------------------------------------
    Q("q333_huber_location",
      (s, dir) => {
        import s.implicits._
        import graft.operators.Select
        // The whole chain is scalar-valued: two exact order-statistic
        // pairs (median, MAD) and three IRLS scalars. Selection
        // (bounded-histogram refinement, Select scaladoc) reads each
        // median pair off in 2 scan-aggregations — no range exchange,
        // no checkpoint, no rank join — and the IRLS estimates thread
        // through as driver literals (1-row metadata, the centroid
        // class). 8 dependent jobs total, each a map-side-combined
        // scan of one pruned column; the r7 rank formulation paid ~12.
        // The 8 dependent jobs all scan the same one-column projection;
        // sf-bench parquet is a single row group (single-task scans),
        // so repartition + cache once and every subsequent round runs
        // 32-way in-memory. Released before returning — the result is
        // a driver-built 1-row relation, so nothing leaks into the
        // suite's block manager.
        val data = t(s, dir, "orders")
          .select(round(col("o_totalprice") * 100).cast("long").as("x"))
          .repartition(s.sparkContext.defaultParallelism)
          .persist()
        try {
        val st = Select.longStats(data, col("x"))
        val ks = Seq((st.n + 1) / 2, (st.n + 2) / 2).distinct
        val med = Select.kthLong(data, col("x"), ks, Some(st),
          buckets = 1 << 16)
        val med2 = ks.map(med).sum * (if (ks.size == 1) 2 else 1)
        val dev = data.select(abs(col("x") * 2 - med2).as("d2"))
        // d2 ∈ [0, 2·max(|x|) + |med2|] — same stats, no extra job
        val dst = Select.LongStats(st.n, 0L,
          math.max(math.abs(2 * st.hi - med2), math.abs(2 * st.lo - med2)))
        val madv = Select.kthLong(dev, col("d2"), ks, Some(dst),
          buckets = 1 << 16)
        val mad4 = ks.map(madv).sum * (if (ks.size == 1) 2 else 1)
        val m0 = med2.toDouble / 2.0
        val mad = mad4.toDouble / 4.0
        val kk = 1.5 * mad4.toDouble / 4.0
        // IRLS: each step's weighted mean is one aggregation with the
        // previous estimate as a literal — arithmetic identical to the
        // r7 column form (same round/cast grid, same ψ-weights)
        var m = m0
        for (_ <- 1 to 3) {
          val r = data
            .select(least(lit(1.0), lit(kk) /
              abs(col("x").cast("double") - m)).as("w"), col("x"))
            .select(round(col("w") * col("x").cast("double"), 6)
              .cast(DecimalType(38, 6)).as("wx"),
              round(col("w"), 9).cast(DecimalType(38, 9)).as("wt"))
            .agg(sum(col("wx")).cast("double").as("swx"),
              sum(col("wt")).cast("double").as("swt")).head()
          m = r.getDouble(0) / r.getDouble(1)
        }
        // final rounding through the SAME Spark round() the r7 column
        // form used (engine-identical HALF_UP on doubles)
        Seq((st.n, m0, mad, m)).toDF("n", "m0", "madr", "m3")
          .select(col("n"),
            round(col("m0") / 100.0, 2).as("median"),
            round(col("madr") / 100.0, 2).as("mad"),
            round(col("m3") / 100.0, 2).as("huber_m"),
            round((col("m3") - col("m0")) / 100.0, 2).as("shift"))
        } finally data.unpersist()
      },
      Some("""WITH data AS MATERIALIZED (
             |  SELECT o_orderkey AS key,
             |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x
             |  FROM orders
             |), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nm FROM data),
             |med AS (
             |  SELECT CAST(SUM(CASE WHEN rn = (nm + 1) // 2 THEN x
             |      ELSE 0 END)
             |    + SUM(CASE WHEN rn = (nm + 2) // 2 THEN x ELSE 0 END)
             |    AS BIGINT) AS med2
             |  FROM (SELECT x, nm,
             |      CAST(ROW_NUMBER() OVER (ORDER BY x, key) AS BIGINT)
             |        AS rn
             |    FROM data CROSS JOIN nn)
             |), mads AS (
             |  SELECT CAST(SUM(CASE WHEN rn = (nm + 1) // 2 THEN d2
             |      ELSE 0 END)
             |    + SUM(CASE WHEN rn = (nm + 2) // 2 THEN d2 ELSE 0 END)
             |    AS BIGINT) AS mad4
             |  FROM (SELECT d2, nm,
             |      CAST(ROW_NUMBER() OVER (ORDER BY d2, key) AS BIGINT)
             |        AS rn
             |    FROM (SELECT key, ABS(x * 2 - med2) AS d2
             |          FROM data CROSS JOIN med) CROSS JOIN nn)
             |), params AS (
             |  SELECT CAST(med2 AS DOUBLE) / 2.0 AS m0,
             |    CAST(mad4 AS DOUBLE) / 4.0 AS mad,
             |    1.5 * CAST(mad4 AS DOUBLE) / 4.0 AS kk
             |  FROM med CROSS JOIN mads
             |), it1 AS (
             |  SELECT m0, mad, kk,
             |    CAST(SUM(CAST(ROUND(LEAST(1.0, kk / ABS(CAST(x AS DOUBLE)
             |        - m0)) * CAST(x AS DOUBLE), 6) AS DECIMAL(38, 6)))
             |      AS DOUBLE)
             |    / CAST(SUM(CAST(ROUND(LEAST(1.0, kk
             |        / ABS(CAST(x AS DOUBLE) - m0)), 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS m1
             |  FROM data CROSS JOIN params GROUP BY 1, 2, 3
             |), it2 AS (
             |  SELECT m0, mad, kk,
             |    CAST(SUM(CAST(ROUND(LEAST(1.0, kk / ABS(CAST(x AS DOUBLE)
             |        - m1)) * CAST(x AS DOUBLE), 6) AS DECIMAL(38, 6)))
             |      AS DOUBLE)
             |    / CAST(SUM(CAST(ROUND(LEAST(1.0, kk
             |        / ABS(CAST(x AS DOUBLE) - m1)), 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS m2
             |  FROM data CROSS JOIN it1 GROUP BY 1, 2, 3
             |), it3 AS (
             |  SELECT m0, mad, kk,
             |    CAST(SUM(CAST(ROUND(LEAST(1.0, kk / ABS(CAST(x AS DOUBLE)
             |        - m2)) * CAST(x AS DOUBLE), 6) AS DECIMAL(38, 6)))
             |      AS DOUBLE)
             |    / CAST(SUM(CAST(ROUND(LEAST(1.0, kk
             |        / ABS(CAST(x AS DOUBLE) - m2)), 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS m3
             |  FROM data CROSS JOIN it2 GROUP BY 1, 2, 3
             |)
             |SELECT (SELECT nm FROM nn) AS n,
             |  ROUND(m0 / 100.0, 2) AS median,
             |  ROUND(mad / 100.0, 2) AS mad,
             |  ROUND(m3 / 100.0, 2) AS huber_m,
             |  ROUND((m3 - m0) / 100.0, 2) AS shift
             |FROM it3""".stripMargin)),

    // ---- Bradley-Terry strengths from monthly segment revenue
    // ---- contests: each month every segment pair plays (strict
    // ---- revenue win, ties void); three MM iterations over the
    // ---- 5-item lattice from p=1, normalized to shares. Grid-rounded
    // ---- pair terms keep the iterates engine-identical. -------------
    Q("q334_bradley_terry",
      (s, dir) => {
        // NOTE r12: loadParallel was tried here and measured +35% — the
        // (ym, seg) aggregate collapses 150k rows to a ≤420-row lattice,
        // so the round-robin exchange costs more than the single-task
        // probe it parallelizes. Kept on the plain scan deliberately.
        val seg = t(s, dir, "orders")
          .join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment").as("seg"))),
            col("o_custkey") === col("c_custkey"))
          .groupBy((year(col("o_orderdate")) * 100 +
            month(col("o_orderdate"))).cast("long").as("ym"), col("seg"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev"))
          .localCheckpoint(true)
        val wins = seg.as("a").join(seg.as("b"),
            col("a.ym") === col("b.ym") && col("a.seg") =!= col("b.seg") &&
              col("a.rev") > col("b.rev"))
          .groupBy(col("a.seg").as("i"), col("b.seg").as("j"))
          .agg(count(lit(1)).as("w"))
        val games = wins.select(col("i"), col("j"), col("w"))
          .unionByName(wins.select(col("j").as("i"), col("i").as("j"),
            lit(0L).as("w")))
          .groupBy("i", "j").agg(sum(col("w")).as("w"))
        val pairs = games.as("g1").join(
            games.select(col("i").as("j2"), col("j").as("i2"),
              col("w").as("wr")),
            col("g1.i") === col("i2") && col("g1.j") === col("j2"))
          .select(col("i"), col("j"), col("w"), (col("w") + col("wr"))
            .as("nij"))
        // the contest lattice is ≤20 rows (segment × segment directed
        // pairs) — iterate the MM updates on the driver (the q207/q250
        // metadata-sized-loop pattern) with the same HALF_UP round-9
        // grid the oracle uses, instead of 3 checkpointed join rounds.
        // collectBounded fails fast if the lattice ever outgrows that.
        val pr = graft.operators.Lattice.collectBounded(
            pairs.select(col("i"), col("j"), col("w"), col("nij")),
            1000, "q334 segment-pair contest lattice")
          .map(r => (r.getString(0), r.getString(1), r.getLong(2),
            r.getLong(3)))
        val items = pr.map(_._1).distinct.sorted
        val wi = items.map(i => i -> pr.filter(_._1 == i).map(_._3).sum)
          .toMap
        def grid(x: Double, scale: Int): java.math.BigDecimal =
          java.math.BigDecimal.valueOf(x)
            .setScale(scale, java.math.RoundingMode.HALF_UP)
        var p = items.map(i => i -> 1.0).toMap
        for (_ <- 1 to 3) {
          val d = items.map { i =>
            val s = pr.filter(_._1 == i)
              .map(e => grid(e._4.toDouble / (p(i) + p(e._2)), 9))
              .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
            i -> s.doubleValue()
          }.toMap
          p = items.map(i => i -> wi(i).toDouble / d(i)).toMap
        }
        val tp = items.map(i => grid(p(i), 9))
          .foldLeft(java.math.BigDecimal.ZERO)(_.add(_)).doubleValue()
        val out = items.map(i => (i, wi(i), p(i), tp))
        pairs.sparkSession.createDataFrame(out.toSeq)
          .toDF("segment", "wins", "p", "tp")
          .select(col("segment"), col("wins"),
            round(col("p"), 6).as("p_raw"),
            round(col("p") / col("tp"), 6).as("strength"))
          .orderBy("segment")
      },
      Some("""WITH seg AS MATERIALIZED (
             |  SELECT YEAR(o_orderdate) * 100 + MONTH(o_orderdate) AS ym,
             |    c_mktsegment AS seg,
             |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
             |      AS BIGINT) AS rev
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  GROUP BY 1, 2
             |), wins AS (
             |  SELECT a.seg AS i, b.seg AS j,
             |    CAST(COUNT(*) AS BIGINT) AS w
             |  FROM seg a JOIN seg b ON a.ym = b.ym AND a.seg <> b.seg
             |    AND a.rev > b.rev
             |  GROUP BY 1, 2
             |), games AS (
             |  SELECT i, j, CAST(SUM(w) AS BIGINT) AS w FROM (
             |    SELECT i, j, w FROM wins
             |    UNION ALL SELECT j, i, 0 FROM wins)
             |  GROUP BY 1, 2
             |), pairs AS MATERIALIZED (
             |  SELECT g1.i AS i, g1.j AS j, g1.w AS w,
             |    CAST(g1.w + g2.w AS BIGINT) AS nij
             |  FROM games g1 JOIN games g2 ON g1.i = g2.j AND g1.j = g2.i
             |), big_w AS (
             |  SELECT i, CAST(SUM(w) AS BIGINT) AS wi FROM pairs GROUP BY i
             |), p0 AS (SELECT i, 1.0 AS p FROM big_w),
             |it1 AS (
             |  SELECT pr.i, CAST(wi AS DOUBLE) / CAST(SUM(
             |      CAST(ROUND(CAST(nij AS DOUBLE) / (pi.p + pj.p), 9)
             |        AS DECIMAL(38, 9))) AS DOUBLE) AS p
             |  FROM pairs pr
             |  JOIN p0 pi ON pr.i = pi.i JOIN p0 pj ON pr.j = pj.i
             |  JOIN big_w ON pr.i = big_w.i
             |  GROUP BY pr.i, wi
             |), it2 AS (
             |  SELECT pr.i, CAST(wi AS DOUBLE) / CAST(SUM(
             |      CAST(ROUND(CAST(nij AS DOUBLE) / (pi.p + pj.p), 9)
             |        AS DECIMAL(38, 9))) AS DOUBLE) AS p
             |  FROM pairs pr
             |  JOIN it1 pi ON pr.i = pi.i JOIN it1 pj ON pr.j = pj.i
             |  JOIN big_w ON pr.i = big_w.i
             |  GROUP BY pr.i, wi
             |), it3 AS (
             |  SELECT pr.i, CAST(wi AS DOUBLE) / CAST(SUM(
             |      CAST(ROUND(CAST(nij AS DOUBLE) / (pi.p + pj.p), 9)
             |        AS DECIMAL(38, 9))) AS DOUBLE) AS p
             |  FROM pairs pr
             |  JOIN it2 pi ON pr.i = pi.i JOIN it2 pj ON pr.j = pj.i
             |  JOIN big_w ON pr.i = big_w.i
             |  GROUP BY pr.i, wi
             |), tot AS (
             |  SELECT CAST(SUM(CAST(ROUND(p, 9) AS DECIMAL(38, 9)))
             |    AS DOUBLE) AS tp
             |  FROM it3
             |)
             |SELECT it3.i AS segment, wi AS wins,
             |  ROUND(p, 6) AS p_raw,
             |  ROUND(p / tp, 6) AS strength
             |FROM it3 JOIN big_w ON it3.i = big_w.i CROSS JOIN tot
             |ORDER BY segment""".stripMargin)),

    // ---- XmR individuals control chart on monthly revenue: the
    // ---- moving-range mean sets the 2.66·mR̄ natural process limits;
    // ---- exact cent sums, one double tree for the limits, and the
    // ---- out-of-limit month census. The Shewhart partner of q240's
    // ---- EWMA chart. ------------------------------------------------
    Q("q335_xmr_chart",
      (s, dir) => {
        val monthly = monthlySeries(s, dir)
        val mr = monthly
          .withColumn("prev", lag(col("rev"), 1).over(Window.orderBy("x")))
          .agg(count(lit(1)).as("n"),
            sum(col("rev").cast(D38)).cast("double").as("s"),
            sum(when(col("prev").isNotNull, abs(col("rev") - col("prev")))
              .otherwise(0L)).as("smr"))
          .select(col("n"), (col("s") / col("n")).as("xbar"),
            (col("smr").cast("double") / (col("n") - 1L).cast("double"))
              .as("mrbar"))
        val limits = mr.select(col("n"), col("xbar"), col("mrbar"),
          (col("xbar") + lit(2.66) * col("mrbar")).as("ucl"),
          (col("xbar") - lit(2.66) * col("mrbar")).as("lcl"))
        monthly.crossJoin(broadcast(limits))
          .agg(first(col("n")).as("n"), first(col("xbar")).as("xbar"),
            first(col("mrbar")).as("mrbar"), first(col("ucl")).as("ucl"),
            first(col("lcl")).as("lcl"),
            sum((col("rev").cast("double") > col("ucl")).cast("long"))
              .as("n_above"),
            sum((col("rev").cast("double") < col("lcl")).cast("long"))
              .as("n_below"))
          .select(col("n").as("n_months"),
            round(col("xbar") / 100.0, 2).as("center"),
            round(col("mrbar") / 100.0, 2).as("mr_mean"),
            round(col("ucl") / 100.0, 2).as("ucl"),
            round(col("lcl") / 100.0, 2).as("lcl"),
            col("n_above"), col("n_below"))
      },
      Some(s"""WITH $MonthlySql, mr AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(CAST(rev AS DECIMAL(38, 0))) AS DOUBLE)
             |      / COUNT(*) AS xbar,
             |    CAST(SUM(CASE WHEN prev IS NOT NULL
             |      THEN ABS(rev - prev) ELSE 0 END) AS DOUBLE)
             |      / CAST(COUNT(*) - 1 AS DOUBLE) AS mrbar
             |  FROM (SELECT rev, LAG(rev, 1) OVER (ORDER BY x) AS prev
             |        FROM monthly)
             |), limits AS (
             |  SELECT n, xbar, mrbar,
             |    xbar + 2.66 * mrbar AS ucl, xbar - 2.66 * mrbar AS lcl
             |  FROM mr
             |)
             |SELECT n AS n_months,
             |  ROUND(xbar / 100.0, 2) AS center,
             |  ROUND(mrbar / 100.0, 2) AS mr_mean,
             |  ROUND(ucl / 100.0, 2) AS ucl,
             |  ROUND(lcl / 100.0, 2) AS lcl,
             |  CAST(SUM(CASE WHEN CAST(rev AS DOUBLE) > ucl THEN 1 ELSE 0
             |    END) AS BIGINT) AS n_above,
             |  CAST(SUM(CASE WHEN CAST(rev AS DOUBLE) < lcl THEN 1 ELSE 0
             |    END) AS BIGINT) AS n_below
             |FROM monthly CROSS JOIN limits
             |GROUP BY n, xbar, mrbar, ucl, lcl""".stripMargin))
  )
}
