package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Seventy-first analytics pack (round 6, session 9): operations
  * research and inventory — the Erlang-B blocking table driven by the
  * observed event arrival rate, the newsvendor critical-fractile
  * stock with its expected-cost comparison, per-part EOQ, safety
  * stock with the empirical stockout check over rolling 7-day demand,
  * and the ABC-XYZ classification matrix.
  *
  * Exactness discipline: demands are exact integer counts; Erlang
  * terms ride exp(k·ln a − ln k!) on the round-9 grid with ln k! as
  * the exact lateral sum (q417's shape); newsvendor costs are pure
  * integer sums; classification cutoffs use deterministic
  * (value desc, key) orders in both engines. */
object Analytics71 {

  /** Daily order-line demand in units (exact integer quantities). */
  private def dailyDemand(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(datediff(col("l_shipdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("day"))
      .agg(sum(col("l_quantity").cast("long")).as("d"))

  private val DailyDemandSql =
    """demand AS MATERIALIZED (
      |  SELECT CAST(date_diff('day', DATE '1970-01-01',
      |      CAST(l_shipdate AS DATE)) AS BIGINT) AS day,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS d
      |  FROM lineitem GROUP BY 1
      |)""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- Erlang-B blocking table: offered load a = observed events
    // ---- per hour (1-hour holding), B(m) = (a^m/m!)/Σ_{k≤m} a^k/k!
    // ---- via gridded exp(k·ln a − ln k!) terms and a window
    // ---- cumulative — no recursion. --------------------------------
    Q("q461_erlang_b",
      (s, dir) => {
        val load = t(s, dir, "events")
          .agg(count(lit(1)).as("ne"),
            ((unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
              / lit(3600000000L)).cast("long").as("hours"))
          .select(round(col("ne").cast("double")
            / col("hours").cast("double"), 9).as("a"))
        val lnf = s.range(0, 21).select(col("id").as("k"))
          .join(s.range(1, 21).select(col("id").as("j")),
            col("j") <= col("k"), "left")
          .groupBy("k")
          .agg(coalesce(sum(round(log(col("j").cast("double")), 9)
            .cast(DecimalType(38, 9))), lit(0.0).cast(DecimalType(38, 9)))
            .cast("double").as("lnfact"))
        // log-space with a PREFIX-max shift: raw a^k/k! overflows
        // DECIMAL(38,9) once the arrival rate grows, and a single
        // global-max shift underflows the early prefix to 0/0 at a
        // still-larger rate (both caught by the sf0.3 sweep). Shifting
        // each prefix by its own running max keeps an exp(0)=1 term in
        // every denominator, so B(m) = exp(e_m−M_m)/Σ_{k≤m}exp(e_k−M_m)
        // is always finite. The triangle join is a fixed 21×21 lattice.
        val expo = lnf.crossJoin(broadcast(load))
          .select(col("k"),
            round(col("k").cast("double") * log(col("a"))
              - col("lnfact"), 9).as("e"))
        // 21-row lattice: the unpartitioned running-max window is fine
        val wm = expo.withColumn("mm", max(col("e")).over(
          Window.orderBy("k")
            .rowsBetween(Window.unboundedPreceding, 0)))
        wm.as("m").join(expo.as("kk"), col("kk.k") <= col("m.k"))
          .groupBy(col("m.k").as("k"), col("m.e").as("em"),
            col("m.mm").as("mm"))
          .agg(sum(round(exp(col("kk.e") - col("m.mm")), 9)
            .cast(DecimalType(38, 9))).as("cum"))
          .where(col("k") >= 1L)
          .select(col("k").as("m_servers"),
            round(round(exp(col("em") - col("mm")), 9)
              / col("cum").cast("double"), 6).as("blocking_prob"))
      },
      Some("""WITH load AS (
             |  SELECT ROUND(CAST(COUNT(*) AS DOUBLE)
             |    / CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts)))
             |      // 3600000000 AS DOUBLE), 9) AS a
             |  FROM events
             |), lnf AS (
             |  SELECT k.k,
             |    CAST(COALESCE(SUM(CAST(ROUND(ln(CAST(j.j AS DOUBLE)),
             |      9) AS DECIMAL(38, 9))), CAST(0.0 AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS lnfact
             |  FROM (SELECT CAST(range AS BIGINT) AS k
             |        FROM range(0, 21)) k
             |  LEFT JOIN (SELECT CAST(range AS BIGINT) AS j
             |             FROM range(1, 21)) j ON j.j <= k.k
             |  GROUP BY 1
             |), expo AS (
             |  SELECT k, ROUND(CAST(k AS DOUBLE) * ln(a) - lnfact, 9)
             |    AS e
             |  FROM lnf CROSS JOIN load
             |), wm AS (
             |  SELECT k, e,
             |    MAX(e) OVER (ORDER BY k
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS mm
             |  FROM expo
             |), tri AS (
             |  SELECT m.k AS k, ANY_VALUE(m.e) AS em,
             |    ANY_VALUE(m.mm) AS mm,
             |    SUM(CAST(ROUND(exp(kk.e - m.mm), 9)
             |      AS DECIMAL(38, 9))) AS cum
             |  FROM wm m JOIN expo kk ON kk.k <= m.k
             |  GROUP BY m.k
             |)
             |SELECT k AS m_servers,
             |  ROUND(ROUND(exp(em - mm), 9) / CAST(cum AS DOUBLE), 6)
             |    AS blocking_prob
             |FROM tri WHERE k >= 1""".stripMargin)),

    // ---- newsvendor: daily unit demand, critical fractile 2/(2+1);
    // ---- q* = smallest demand level with F ≥ 2/3, and the exact
    // ---- expected daily cost at q* vs stocking the truncated mean. -
    Q("q462_newsvendor",
      (s, dir) => {
        val byval = dailyDemand(s, dir).groupBy("d")
          .agg(count(lit(1)).as("cnt"))
        val tot = byval.agg(sum(col("cnt")).as("n"),
          sum(col("d") * col("cnt")).as("sd"))
        val w = Window.orderBy("d")
        val qstar = byval.withColumn("cum", sum(col("cnt")).over(w))
          .crossJoin(broadcast(tot))
          .where(lit(3L) * col("cum") >= lit(2L) * col("n"))
          .agg(min(col("d")).as("q_star"))
        val qmean = tot.select((col("sd") / col("n")).cast("long")
          .as("q_mean"))
        def cost(qCol: String): org.apache.spark.sql.Column =
          round((sum(when(col("d") > col(qCol),
            lit(2L) * (col("d") - col(qCol)) * col("cnt"))
            .otherwise((col(qCol) - col("d")) * col("cnt")))
            .cast("double") / first(col("n")).cast("double")), 4)
        byval.crossJoin(broadcast(qstar)).crossJoin(broadcast(qmean))
          .crossJoin(broadcast(tot))
          .agg(first(col("q_star")).as("q_star"),
            first(col("q_mean")).as("q_mean"),
            cost("q_star").as("cost_at_qstar"),
            cost("q_mean").as("cost_at_qmean"))
      },
      Some(s"""WITH $DailyDemandSql, byval AS (
             |  SELECT d, CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM demand GROUP BY 1
             |), tot AS (
             |  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
             |    CAST(SUM(d * cnt) AS BIGINT) AS sd
             |  FROM byval
             |), qstar AS (
             |  SELECT CAST(MIN(d) AS BIGINT) AS q_star
             |  FROM (SELECT d,
             |      CAST(SUM(cnt) OVER (ORDER BY d) AS BIGINT) AS cum
             |    FROM byval) c CROSS JOIN tot
             |  WHERE 3 * cum >= 2 * n
             |), qmean AS (
             |  SELECT CAST(sd // n AS BIGINT) AS q_mean FROM tot
             |)
             |SELECT MAX(q_star) AS q_star, MAX(q_mean) AS q_mean,
             |  ROUND(CAST(SUM(CASE WHEN d > q_star
             |      THEN 2 * (d - q_star) * cnt
             |      ELSE (q_star - d) * cnt END) AS DOUBLE)
             |    / CAST(MAX(n) AS DOUBLE), 4) AS cost_at_qstar,
             |  ROUND(CAST(SUM(CASE WHEN d > q_mean
             |      THEN 2 * (d - q_mean) * cnt
             |      ELSE (q_mean - d) * cnt END) AS DOUBLE)
             |    / CAST(MAX(n) AS DOUBLE), 4) AS cost_at_qmean
             |FROM byval CROSS JOIN qstar CROSS JOIN qmean
             |CROSS JOIN tot""".stripMargin)),

    // ---- per-part EOQ (order cost K = 100, holding h = 2 per
    // ---- unit-year): annual demand from total units over the
    // ---- observed year span; top-10 by EOQ with part tie-break. ----
    Q("q463_eoq",
      (s, dir) => {
        val span = t(s, dir, "lineitem")
          .agg(countDistinct(year(col("l_shipdate"))).as("years"))
        t(s, dir, "lineitem")
          .groupBy(col("l_partkey").as("pk"))
          .agg(sum(col("l_quantity").cast("long")).as("units"))
          .crossJoin(broadcast(span))
          .select(col("pk"), col("units"),
            round(sqrt(lit(2.0) * 100.0
              * (col("units").cast("double") / col("years").cast("double"))
              / 2.0), 3).as("eoq"))
          .orderBy(col("eoq").desc, col("pk"))
          .limit(10)
      },
      Some("""WITH span AS (
             |  SELECT CAST(COUNT(DISTINCT YEAR(l_shipdate)) AS BIGINT)
             |    AS years
             |  FROM lineitem
             |), per AS (
             |  SELECT l_partkey AS pk,
             |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
             |      AS units
             |  FROM lineitem GROUP BY 1
             |)
             |SELECT pk, units,
             |  ROUND(sqrt(2.0 * 100.0
             |    * (CAST(units AS DOUBLE) / CAST(years AS DOUBLE))
             |    / 2.0), 3) AS eoq
             |FROM per CROSS JOIN span
             |ORDER BY eoq DESC, pk LIMIT 10""".stripMargin)),

    // ---- safety stock at 95% (z = 1.645, lead time L = 7 days):
    // ---- ROP = 7μ + 1.645·σ·√7 from exact daily moments, and the
    // ---- empirical stockout rate of rolling 7-day demand vs ROP. ---
    Q("q464_safety_stock",
      (s, dir) => {
        val daily = dailyDemand(s, dir)
        val mom = daily.agg(count(lit(1)).as("n"), sum(col("d")).as("s1"),
          sum(col("d").cast(DecimalType(38, 0)) * col("d")).as("s2"))
          .select(col("n"),
            (col("s1").cast("double") / col("n").cast("double"))
              .as("mu"),
            sqrt(col("s2").cast("double") / col("n").cast("double")
              - (col("s1").cast("double") / col("n").cast("double"))
                * (col("s1").cast("double") / col("n").cast("double")))
              .as("sigma"))
          .select(col("n"), col("mu"), col("sigma"),
            round(lit(7.0) * col("mu")
              + lit(1.645) * col("sigma") * sqrt(lit(7.0)), 6)
              .as("rop"))
        val w7 = Window.orderBy("day").rowsBetween(-6, 0)
        val rolling = daily
          .withColumn("d7", sum(col("d")).over(w7))
          .withColumn("c7", count(lit(1)).over(w7))
          .where(col("c7") === 7)
        rolling.crossJoin(broadcast(mom))
          .agg(max(col("n")).as("n_days"),
            round(max(col("mu")), 3).as("mu_daily"),
            round(max(col("sigma")), 3).as("sigma_daily"),
            round(max(col("rop")), 3).as("reorder_point"),
            round(sum(when(col("d7").cast("double") > col("rop"), 1L)
              .otherwise(0L)).cast("double")
              / count(lit(1)).cast("double"), 6)
              .as("empirical_stockout_rate"))
      },
      Some(s"""WITH $DailyDemandSql, mom AS (
             |  SELECT n, mu, sigma,
             |    ROUND(7.0 * mu + 1.645 * sigma * sqrt(7.0), 6) AS rop
             |  FROM (
             |    SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |      CAST(SUM(d) AS DOUBLE) / COUNT(*) AS mu,
             |      sqrt(CAST(SUM(CAST(d AS DECIMAL(38, 0)) * d)
             |          AS DOUBLE) / COUNT(*)
             |        - (CAST(SUM(d) AS DOUBLE) / COUNT(*))
             |          * (CAST(SUM(d) AS DOUBLE) / COUNT(*))) AS sigma
             |    FROM demand) z
             |), rolling AS (
             |  SELECT d7 FROM (
             |    SELECT SUM(d) OVER (ORDER BY day
             |        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS d7,
             |      COUNT(*) OVER (ORDER BY day
             |        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS c7
             |    FROM demand) z
             |  WHERE c7 = 7
             |)
             |SELECT MAX(n) AS n_days,
             |  ROUND(MAX(mu), 3) AS mu_daily,
             |  ROUND(MAX(sigma), 3) AS sigma_daily,
             |  ROUND(MAX(rop), 3) AS reorder_point,
             |  ROUND(CAST(SUM(CASE WHEN CAST(d7 AS DOUBLE) > rop
             |    THEN 1 ELSE 0 END) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE), 6)
             |    AS empirical_stockout_rate
             |FROM rolling CROSS JOIN mom""".stripMargin)),

    // ---- ABC-XYZ matrix: ABC by cumulative revenue share (80/95%
    // ---- cutoffs, deterministic rev-desc order), XYZ by the CV of
    // ---- monthly unit demand (0.5 / 1.0 cutoffs); 9-cell counts. ---
    Q("q465_abc_xyz",
      (s, dir) => {
        // ONE lineitem scan: the monthly (pk, mon) aggregate carries
        // BOTH measures (quantity for the CV, rounded revenue cents
        // for ABC); per-part revenue is its re-aggregation.
        // loadParallel: the (pk, mon) partial aggregate otherwise runs
        // inside the single-task row-group scan (guide §2.5 input skew)
        val monthly = Tables.loadParallel(s, dir, "lineitem")
          .groupBy(col("l_partkey").as("pk"),
            date_format(col("l_shipdate"), "yyyy-MM").as("mon"))
          .agg(sum(col("l_quantity").cast("long")).as("q"),
            sum(round(col("l_extendedprice") * 100).cast("long"))
              .as("rev_m"))
          .localCheckpoint(false)
        val rev = monthly.groupBy("pk").agg(sum(col("rev_m")).as("rev"))
        // part grain scales with the data — the cumulative share must
        // NOT be an unpartitioned window (single-task sort of every
        // part at 100 TB). Ranks.withPrefixSum range-partitions the
        // (rev desc, pk) order and its group total doubles as the
        // grand total, so the Window.partitionBy() pass goes too.
        val abc = graft.operators.Ranks.withPrefixSum(rev, Seq.empty,
            Seq((-col("rev")).as("nrev"), col("pk")),
            col("rev"), "cum", "tot")
          .select(col("pk"),
            when(lit(100L) * (col("cum") - col("rev"))
              < lit(80L) * col("tot"), "A")
              .when(lit(100L) * (col("cum") - col("rev"))
                < lit(95L) * col("tot"), "B")
              .otherwise("C").as("abc"))
        val cv = monthly
          .groupBy("pk")
          .agg(count(lit(1)).as("m"), sum(col("q")).as("s1"),
            sum(col("q") * col("q")).as("s2"))
          .select(col("pk"),
            when(sqrt(col("s2").cast("double") / col("m").cast("double")
              - (col("s1").cast("double") / col("m").cast("double"))
                * (col("s1").cast("double") / col("m").cast("double")))
              / (col("s1").cast("double") / col("m").cast("double"))
              < 0.5, "X")
              .when(sqrt(col("s2").cast("double")
                / col("m").cast("double")
                - (col("s1").cast("double") / col("m").cast("double"))
                  * (col("s1").cast("double") / col("m").cast("double")))
                / (col("s1").cast("double") / col("m").cast("double"))
                < 1.0, "Y")
              .otherwise("Z").as("xyz"))
        abc.join(cv, Seq("pk"))
          .groupBy("abc", "xyz")
          .agg(count(lit(1)).as("n_parts"))
      },
      Some("""WITH rev AS (
             |  SELECT l_partkey AS pk,
             |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
             |      AS BIGINT) AS rev
             |  FROM lineitem GROUP BY 1
             |), abc AS (
             |  SELECT pk,
             |    CASE WHEN 100 * (cum - rev) < 80 * tot THEN 'A'
             |      WHEN 100 * (cum - rev) < 95 * tot THEN 'B'
             |      ELSE 'C' END AS abc
             |  FROM (SELECT pk, rev,
             |      CAST(SUM(rev) OVER (ORDER BY rev DESC, pk)
             |        AS BIGINT) AS cum,
             |      CAST(SUM(rev) OVER () AS BIGINT) AS tot
             |    FROM rev) z
             |), cv AS (
             |  SELECT pk,
             |    CASE WHEN sqrt(CAST(s2 AS DOUBLE) / CAST(m AS DOUBLE)
             |        - (CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE))
             |          * (CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE)))
             |        / (CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE)) < 0.5
             |      THEN 'X'
             |      WHEN sqrt(CAST(s2 AS DOUBLE) / CAST(m AS DOUBLE)
             |        - (CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE))
             |          * (CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE)))
             |        / (CAST(s1 AS DOUBLE) / CAST(m AS DOUBLE)) < 1.0
             |      THEN 'Y' ELSE 'Z' END AS xyz
             |  FROM (
             |    SELECT pk, CAST(COUNT(*) AS BIGINT) AS m,
             |      CAST(SUM(q) AS BIGINT) AS s1,
             |      CAST(SUM(q * q) AS BIGINT) AS s2
             |    FROM (SELECT l_partkey AS pk,
             |        strftime(l_shipdate, '%Y-%m') AS mon,
             |        CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
             |          AS q
             |      FROM lineitem GROUP BY 1, 2) z
             |    GROUP BY 1) g
             |)
             |SELECT abc.abc, cv.xyz, CAST(COUNT(*) AS BIGINT)
             |  AS n_parts
             |FROM abc JOIN cv USING (pk)
             |GROUP BY 1, 2""".stripMargin)),
  )
}
