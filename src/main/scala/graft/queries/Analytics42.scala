package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Forty-second analytics pack (round 6, session 9): parametric
  * inference and experimentation statistics — Welch's t-test with
  * Cohen's d, the one-way ANOVA F, CUPED variance-reduced A/B
  * deltas, Theil's U forecast-quality ratio, and the Yule's K family
  * of vocabulary-richness constants.
  *
  * Exactness discipline: every moment (sum, sum of squares, cross
  * product) accumulates as integer cents in DECIMAL(38,0) — exact and
  * order-free in both engines — and each final statistic is one fixed
  * double tree over those exact moments. */
object Analytics42 {

  private val D380 = DecimalType(38, 0)

  val all: Seq[Q] = Seq(

    // ---- Welch's unequal-variance t-test: urgent/high orders vs the
    // ---- rest on order value. Exact cent moments per group; t, the
    // ---- Welch-Satterthwaite df, and Cohen's d (pooled-sd form) are
    // ---- one double tree each. The continuous-metric partner of the
    // ---- q157 proportion z-test. ------------------------------------
    Q("q316_welch_ttest",
      (s, dir) => {
        val o = t(s, dir, "orders")
          .select(col("o_orderpriority").isin("1-URGENT", "2-HIGH")
              .cast("long").as("g"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
        val m = o.groupBy("g").agg(count(lit(1)).as("n"),
            sum(col("cents").cast(D380)).as("s"),
            sum((col("cents") * col("cents")).cast(D380)).as("sq"))
          .select(col("g"), col("n"), col("s").cast("double").as("s"),
            col("sq").cast("double").as("sq"))
        val wide = m.agg(
          max(when(col("g") === 1L, col("n"))).as("n1"),
          max(when(col("g") === 1L, col("s"))).as("s1"),
          max(when(col("g") === 1L, col("sq"))).as("sq1"),
          max(when(col("g") === 0L, col("n"))).as("n0"),
          max(when(col("g") === 0L, col("s"))).as("s0"),
          max(when(col("g") === 0L, col("sq"))).as("sq0"))
        wide.select(col("n1"), col("n0"),
            ((col("s1") / col("n1") - col("s0") / col("n0")) / lit(100.0))
              .as("md"),
            ((col("sq1") - col("s1") * col("s1") / col("n1")) /
              (col("n1") - 1L) / lit(10000.0)).as("v1"),
            ((col("sq0") - col("s0") * col("s0") / col("n0")) /
              (col("n0") - 1L) / lit(10000.0)).as("v0"))
          .select(col("n1"), col("n0"),
            round(col("md"), 6).as("mean_diff"),
            round(col("md") / sqrt(col("v1") / col("n1") +
              col("v0") / col("n0")), 6).as("t_stat"),
            round(pow(col("v1") / col("n1") + col("v0") / col("n0"), 2) /
              (pow(col("v1") / col("n1"), 2) / (col("n1") - 1L) +
                pow(col("v0") / col("n0"), 2) / (col("n0") - 1L)), 6)
              .as("df"),
            round(col("md") / sqrt(((col("n1") - 1L) * col("v1") +
              (col("n0") - 1L) * col("v0")) /
              (col("n1") + col("n0") - 2L)), 6).as("cohen_d"))
      },
      Some("""WITH o AS (
             |  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |      THEN 1 ELSE 0 END AS g,
             |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders
             |), m AS (
             |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(CAST(cents AS DECIMAL(38, 0))) AS DOUBLE) AS s,
             |    CAST(SUM(CAST(cents * cents AS DECIMAL(38, 0))) AS DOUBLE)
             |      AS sq
             |  FROM o GROUP BY g
             |), wide AS (
             |  SELECT MAX(CASE WHEN g = 1 THEN n END) AS n1,
             |    MAX(CASE WHEN g = 1 THEN s END) AS s1,
             |    MAX(CASE WHEN g = 1 THEN sq END) AS sq1,
             |    MAX(CASE WHEN g = 0 THEN n END) AS n0,
             |    MAX(CASE WHEN g = 0 THEN s END) AS s0,
             |    MAX(CASE WHEN g = 0 THEN sq END) AS sq0
             |  FROM m
             |), base AS (
             |  SELECT n1, n0,
             |    (s1 / n1 - s0 / n0) / 100.0 AS md,
             |    (sq1 - s1 * s1 / n1) / (n1 - 1) / 10000.0 AS v1,
             |    (sq0 - s0 * s0 / n0) / (n0 - 1) / 10000.0 AS v0
             |  FROM wide
             |)
             |SELECT n1, n0, ROUND(md, 6) AS mean_diff,
             |  ROUND(md / sqrt(v1 / n1 + v0 / n0), 6) AS t_stat,
             |  ROUND(POW(v1 / n1 + v0 / n0, 2)
             |    / (POW(v1 / n1, 2) / (n1 - 1)
             |      + POW(v0 / n0, 2) / (n0 - 1)), 6) AS df,
             |  ROUND(md / sqrt(((n1 - 1) * v1 + (n0 - 1) * v0)
             |    / (n1 + n0 - 2)), 6) AS cohen_d
             |FROM base""".stripMargin)),

    // ---- one-way ANOVA F across market segments on account balance:
    // ---- SSB / SSW from exact per-group cent moments (≤5 group rows,
    // ---- round-9 DECIMAL-summed double terms), F with its two df.
    // ---- The parametric partner of q224's Kruskal-Wallis on the same
    // ---- layout. ----------------------------------------------------
    Q("q317_anova_f",
      (s, dir) => {
        val per = t(s, dir, "customer")
          .select(col("c_mktsegment").as("seg"),
            round(col("c_acctbal") * 100).cast("long").as("cents"))
          .groupBy("seg").agg(count(lit(1)).as("n_g"),
            sum(col("cents").cast(D380)).as("s_g"),
            sum((col("cents") * col("cents")).cast(D380)).as("sq_g"))
          .select(col("seg"), col("n_g"), col("s_g").cast("double").as("s_g"),
            col("sq_g").cast("double").as("sq_g"))
          .localCheckpoint(true)
        val tot = per.agg(sum(col("n_g")).as("n"),
          sum(col("s_g").cast(D380)).cast("double").as("s"),
          count(lit(1)).as("k"))
        per.crossJoin(broadcast(tot))
          .select(col("n"), col("k"),
            round((col("s_g") / col("n_g") - col("s") / col("n")) *
              (col("s_g") / col("n_g") - col("s") / col("n")) *
              col("n_g") / lit(10000.0), 9).cast(DecimalType(38, 9))
              .as("ssb_t"),
            round((col("sq_g") - col("s_g") * col("s_g") / col("n_g")) /
              lit(10000.0), 9).cast(DecimalType(38, 9)).as("ssw_t"))
          .groupBy("n", "k")
          .agg(sum(col("ssb_t")).as("ssb"), sum(col("ssw_t")).as("ssw"))
          .select(col("n"), col("k"),
            round(col("ssb").cast("double"), 2).as("ss_between"),
            round(col("ssw").cast("double"), 2).as("ss_within"),
            round((col("ssb").cast("double") / (col("k") - 1L)) /
              (col("ssw").cast("double") / (col("n") - col("k"))), 6)
              .as("f_stat"))
      },
      Some("""WITH per AS MATERIALIZED (
             |  SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n_g,
             |    CAST(SUM(CAST(cents AS DECIMAL(38, 0))) AS DOUBLE) AS s_g,
             |    CAST(SUM(CAST(cents * cents AS DECIMAL(38, 0))) AS DOUBLE)
             |      AS sq_g
             |  FROM (SELECT c_mktsegment,
             |          CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
             |        FROM customer)
             |  GROUP BY 1
             |), tot AS (
             |  SELECT CAST(SUM(n_g) AS BIGINT) AS n,
             |    CAST(SUM(CAST(s_g AS DECIMAL(38, 0))) AS DOUBLE) AS s,
             |    CAST(COUNT(*) AS BIGINT) AS k
             |  FROM per
             |), terms AS (
             |  SELECT n, k,
             |    CAST(ROUND((s_g / n_g - s / n) * (s_g / n_g - s / n) * n_g
             |      / 10000.0, 9) AS DECIMAL(38, 9)) AS ssb_t,
             |    CAST(ROUND((sq_g - s_g * s_g / n_g) / 10000.0, 9)
             |      AS DECIMAL(38, 9)) AS ssw_t
             |  FROM per CROSS JOIN tot
             |), agg AS (
             |  SELECT n, k, SUM(ssb_t) AS ssb, SUM(ssw_t) AS ssw
             |  FROM terms GROUP BY 1, 2
             |)
             |SELECT n, k,
             |  ROUND(CAST(ssb AS DOUBLE), 2) AS ss_between,
             |  ROUND(CAST(ssw AS DOUBLE), 2) AS ss_within,
             |  ROUND((CAST(ssb AS DOUBLE) / (k - 1))
             |    / (CAST(ssw AS DOUBLE) / (n - k)), 6) AS f_stat
             |FROM agg""".stripMargin)),

    // ---- CUPED variance reduction: per-customer 1995 spend is the
    // ---- pre-period covariate for the 1996 metric; θ = cov/var from
    // ---- exact pooled cent moments, the adjusted treatment delta and
    // ---- the variance-reduction ratio expand algebraically in θ —
    // ---- no second pass over the data. Treatment = custkey parity
    // ---- (the synthetic A/B used across the experiment packs). ------
    Q("q318_cuped",
      (s, dir) => {
        val spend = t(s, dir, "orders")
          .where(year(col("o_orderdate")).isin(1995, 1996))
          .groupBy("o_custkey")
          .agg(sum(when(year(col("o_orderdate")) === 1995,
              round(col("o_totalprice") * 100).cast("long")).otherwise(0L))
              .as("pre"),
            sum(when(year(col("o_orderdate")) === 1996,
              round(col("o_totalprice") * 100).cast("long")).otherwise(0L))
              .as("post"))
        val base = t(s, dir, "customer")
          .join(spend, col("c_custkey") === col("o_custkey"), "left")
          .select((col("c_custkey") % 2).cast("long").as("trt"),
            coalesce(col("pre"), lit(0L)).as("pre"),
            coalesce(col("post"), lit(0L)).as("post"))
        val m = base.agg(count(lit(1)).as("n"),
            sum(col("pre").cast(D380)).cast("double").as("sx"),
            sum(col("post").cast(D380)).cast("double").as("sy"),
            sum((col("pre") * col("pre")).cast(D380)).cast("double")
              .as("sxx"),
            sum((col("post") * col("post")).cast(D380)).cast("double")
              .as("syy"),
            sum((col("pre") * col("post")).cast(D380)).cast("double")
              .as("sxy"),
            sum(when(col("trt") === 1L, 1L).otherwise(0L)).as("n1"),
            sum(when(col("trt") === 1L, col("pre")).otherwise(0L)
              .cast(D380)).cast("double").as("sx1"),
            sum(when(col("trt") === 1L, col("post")).otherwise(0L)
              .cast(D380)).cast("double").as("sy1"))
        m.select(col("n"), col("n1"),
            ((col("sxy") - col("sx") * col("sy") / col("n")) /
              (col("sxx") - col("sx") * col("sx") / col("n"))).as("theta"),
            col("sx"), col("sy"), col("sxx"), col("syy"), col("sxy"),
            col("sx1"), col("sy1"))
          .select(col("n"), col("n1"), round(col("theta"), 6).as("theta"),
            round((col("sy1") / col("n1") -
              (col("sy") - col("sy1")) / (col("n") - col("n1"))) /
              lit(100.0), 2).as("diff_raw"),
            round(((col("sy1") - col("theta") * col("sx1")) / col("n1") -
              ((col("sy") - col("sy1")) - col("theta") *
                (col("sx") - col("sx1"))) / (col("n") - col("n1"))) /
              lit(100.0), 2).as("diff_adj"),
            round(lit(1.0) -
              (col("syy") - col("sy") * col("sy") / col("n") -
                lit(2.0) * col("theta") *
                (col("sxy") - col("sx") * col("sy") / col("n")) +
                col("theta") * col("theta") *
                (col("sxx") - col("sx") * col("sx") / col("n"))) /
              (col("syy") - col("sy") * col("sy") / col("n")), 6)
              .as("var_reduction"))
      },
      Some("""WITH spend AS (
             |  SELECT o_custkey,
             |    CAST(SUM(CASE WHEN YEAR(o_orderdate) = 1995
             |      THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
             |      ELSE 0 END) AS BIGINT) AS pre,
             |    CAST(SUM(CASE WHEN YEAR(o_orderdate) = 1996
             |      THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
             |      ELSE 0 END) AS BIGINT) AS post
             |  FROM orders WHERE YEAR(o_orderdate) IN (1995, 1996)
             |  GROUP BY 1
             |), base AS (
             |  SELECT c_custkey % 2 AS trt, COALESCE(pre, 0) AS pre,
             |    COALESCE(post, 0) AS post
             |  FROM customer LEFT JOIN spend ON c_custkey = o_custkey
             |), m AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(CAST(pre AS DECIMAL(38, 0))) AS DOUBLE) AS sx,
             |    CAST(SUM(CAST(post AS DECIMAL(38, 0))) AS DOUBLE) AS sy,
             |    CAST(SUM(CAST(pre * pre AS DECIMAL(38, 0))) AS DOUBLE)
             |      AS sxx,
             |    CAST(SUM(CAST(post * post AS DECIMAL(38, 0))) AS DOUBLE)
             |      AS syy,
             |    CAST(SUM(CAST(pre * post AS DECIMAL(38, 0))) AS DOUBLE)
             |      AS sxy,
             |    CAST(SUM(CASE WHEN trt = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n1,
             |    CAST(SUM(CAST(CASE WHEN trt = 1 THEN pre ELSE 0 END
             |      AS DECIMAL(38, 0))) AS DOUBLE) AS sx1,
             |    CAST(SUM(CAST(CASE WHEN trt = 1 THEN post ELSE 0 END
             |      AS DECIMAL(38, 0))) AS DOUBLE) AS sy1
             |  FROM base
             |), wt AS (
             |  SELECT n, n1, sx, sy, sxx, syy, sxy, sx1, sy1,
             |    (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta
             |  FROM m
             |)
             |SELECT n, n1, ROUND(theta, 6) AS theta,
             |  ROUND((sy1 / n1 - (sy - sy1) / (n - n1)) / 100.0, 2)
             |    AS diff_raw,
             |  ROUND(((sy1 - theta * sx1) / n1
             |    - ((sy - sy1) - theta * (sx - sx1)) / (n - n1)) / 100.0, 2)
             |    AS diff_adj,
             |  ROUND(1.0 - (syy - sy * sy / n
             |      - 2.0 * theta * (sxy - sx * sy / n)
             |      + theta * theta * (sxx - sx * sx / n))
             |    / (syy - sy * sy / n), 6) AS var_reduction
             |FROM wt""".stripMargin)),

    // ---- Theil's U: does seasonal-naive (lag 12) beat naive (lag 1)
    // ---- on the monthly revenue series? Exact cent differences per
    // ---- month squared in DECIMAL(38,0); the RMSE ratio is the
    // ---- forecastability verdict the q219 Holt-Winters pack consumes.
    Q("q319_theil_u",
      (s, dir) => {
        val monthly = t(s, dir, "orders")
          .groupBy((year(col("o_orderdate")) * 100 +
            month(col("o_orderdate"))).as("ym"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev"))
        val w = Window.orderBy("ym")
        val lagged = monthly
          .withColumn("naive", lag(col("rev"), 1).over(w))
          .withColumn("seasonal", lag(col("rev"), 12).over(w))
          .where(col("seasonal").isNotNull)
        // widen BEFORE squaring: a monthly cent delta can reach ~1e11 at
        // sf0.1, whose square overflows BIGINT; DECIMAL(18)² stays exact
        // and inside both engines' decimal-multiply precision budget
        val d18 = DecimalType(18, 0)
        lagged.agg(count(lit(1)).as("n_months"),
            sum((col("naive") - col("rev")).cast(d18) *
              (col("naive") - col("rev")).cast(d18)).cast("double")
              .as("sse_n"),
            sum((col("seasonal") - col("rev")).cast(d18) *
              (col("seasonal") - col("rev")).cast(d18)).cast("double")
              .as("sse_s"))
          .select(col("n_months"),
            round(sqrt(col("sse_n") / col("n_months")) / lit(100.0), 2)
              .as("rmse_naive"),
            round(sqrt(col("sse_s") / col("n_months")) / lit(100.0), 2)
              .as("rmse_seasonal"),
            round(sqrt(col("sse_s")) / sqrt(col("sse_n")), 6)
              .as("theil_u"))
      },
      Some("""WITH monthly AS (
             |  SELECT YEAR(o_orderdate) * 100 + MONTH(o_orderdate) AS ym,
             |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
             |      AS BIGINT) AS rev
             |  FROM orders GROUP BY 1
             |), lagged AS (
             |  SELECT rev,
             |    LAG(rev, 1) OVER (ORDER BY ym) AS naive,
             |    LAG(rev, 12) OVER (ORDER BY ym) AS seasonal
             |  FROM monthly
             |), ok AS (
             |  SELECT * FROM lagged WHERE seasonal IS NOT NULL
             |), agg AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_months,
             |    CAST(SUM(CAST(naive - rev AS HUGEINT)
             |      * CAST(naive - rev AS HUGEINT)) AS DOUBLE) AS sse_n,
             |    CAST(SUM(CAST(seasonal - rev AS HUGEINT)
             |      * CAST(seasonal - rev AS HUGEINT)) AS DOUBLE) AS sse_s
             |  FROM ok
             |)
             |SELECT n_months,
             |  ROUND(sqrt(sse_n / n_months) / 100.0, 2) AS rmse_naive,
             |  ROUND(sqrt(sse_s / n_months) / 100.0, 2) AS rmse_seasonal,
             |  ROUND(sqrt(sse_s) / sqrt(sse_n), 6) AS theil_u
             |FROM agg""".stripMargin)),

    // ---- Yule's K and friends: the scale-free vocabulary-richness
    // ---- constants — K = 1e4·(Σf² − N)/N², Herdan's C = lnD/lnN,
    // ---- Guiraud's R = D/√N, and the vocabulary Simpson repeat rate.
    // ---- Exact token counts shared with q315's Chao1; one double
    // ---- tree each. -------------------------------------------------
    Q("q320_yule_k",
      (s, dir) => {
        val freq = t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
          .where(length(col("w")) > 0)
          .groupBy("w").agg(count(lit(1)).as("cnt"))
        freq.agg(count(lit(1)).as("d"), sum(col("cnt")).as("n"),
            sum(col("cnt") * col("cnt")).as("sq"),
            sum(col("cnt") * (col("cnt") - 1L)).as("rep"))
          .select(col("d"), col("n"),
            round(lit(10000.0) * (col("sq") - col("n")).cast("double") /
              (col("n").cast("double") * col("n").cast("double")), 6)
              .as("yule_k"),
            round(log(col("d").cast("double")) /
              log(col("n").cast("double")), 6).as("herdan_c"),
            round(col("d").cast("double") / sqrt(col("n").cast("double")),
              6).as("guiraud_r"),
            round(col("rep").cast("double") /
              (col("n").cast("double") * (col("n") - 1L).cast("double")), 9)
              .as("simpson_repeat"))
      },
      Some("""WITH freq AS (
             |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
             |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
             |  WHERE len(w) > 0
             |  GROUP BY w
             |), agg AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS d,
             |    CAST(SUM(cnt) AS BIGINT) AS n,
             |    CAST(SUM(cnt * cnt) AS BIGINT) AS sq,
             |    CAST(SUM(cnt * (cnt - 1)) AS BIGINT) AS rep
             |  FROM freq
             |)
             |SELECT d, n,
             |  ROUND(10000.0 * CAST(sq - n AS DOUBLE)
             |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS yule_k,
             |  ROUND(ln(CAST(d AS DOUBLE)) / ln(CAST(n AS DOUBLE)), 6)
             |    AS herdan_c,
             |  ROUND(CAST(d AS DOUBLE) / sqrt(CAST(n AS DOUBLE)), 6)
             |    AS guiraud_r,
             |  ROUND(CAST(rep AS DOUBLE)
             |    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)), 9)
             |    AS simpson_repeat
             |FROM agg""".stripMargin))
  )
}
