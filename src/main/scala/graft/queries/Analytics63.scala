package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Sixty-third analytics pack (round 6, session 9): change detection
  * and time-series robustness — tabular CUSUM through the prefix-min
  * identity (S_t = P_t − min_{j≤t} P_j, pure windows, no recursion),
  * the longest above-median run, the Lo-MacKinlay variance-ratio
  * random-walk test, Newey-West (Bartlett, L=4) HAC variance of the
  * monthly mean, and the spectral flatness (Wiener entropy) of the
  * short-period power spectrum.
  *
  * Exactness discipline: daily/monthly series are exact integers;
  * CUSUM deviations and HAC autocovariances ride integer
  * cross-products (n²γ_l = Σ(n·x_t − S)(n·x_{t+l} − S)) in
  * DECIMAL(38,0); log returns and power terms use the round-9 grid;
  * run-length detection is the exact gaps-and-islands identity. */
object Analytics63 {

  /** Monthly revenue cents with a rank index (shared by q423/q424). */
  private def monthlyIdx(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("mon"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("x"))
      .withColumn("idx",
        row_number().over(Window.orderBy("mon")).cast("long"))

  private val MonthlyIdxSql =
    """m AS MATERIALIZED (
      |  SELECT mon, x,
      |    CAST(ROW_NUMBER() OVER (ORDER BY mon) AS BIGINT) AS idx
      |  FROM (
      |    SELECT strftime(o_orderdate, '%Y-%m') AS mon,
      |      CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
      |        AS BIGINT) AS x
      |    FROM orders GROUP BY 1) z
      |)""".stripMargin

  private val DailySql =
    """daily AS MATERIALIZED (
      |  SELECT CAST(date_diff('day', DATE '1970-01-01',
      |      CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
      |    CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
      |      AS DOUBLE)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1
      |)""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- one-sided tabular CUSUM on daily revenue (k = σ/2 slack,
    // ---- h = 4σ): S_t = P_t − min_{j≤t} P_j with P the cumulative
    // ---- gridded deviation — running-max-free, two windows, no
    // ---- recursion; alarms = days with S_t > h. --------------------
    Q("q421_cusum",
      (s, dir) => {
        val daily = Analytics35.dailyDollars(s, dir)
        val stats = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
          sum(col("x").cast(DecimalType(38, 0)) * col("x")).as("s2"))
          .select(col("n"),
            (col("s1").cast("double") / col("n").cast("double"))
              .as("mu"),
            sqrt(col("s2").cast("double") / col("n").cast("double")
              - (col("s1").cast("double") / col("n").cast("double"))
                * (col("s1").cast("double") / col("n").cast("double")))
              .as("sigma"))
        val w = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0)
        daily.crossJoin(broadcast(stats))
          .withColumn("dev", round(col("x").cast("double") - col("mu")
            - col("sigma") / 2.0, 6).cast(DecimalType(38, 6)))
          .withColumn("p", sum(col("dev")).over(w))
          .withColumn("cusum",
            (col("p") - min(col("p")).over(w)).cast("double"))
          .agg(max(col("n")).as("n_days"),
            sum(when(col("cusum") > lit(4.0) * col("sigma"), 1L)
              .otherwise(0L)).as("n_alarms"),
            coalesce(min(when(col("cusum") > lit(4.0) * col("sigma"),
              col("day"))), lit(-1L)).as("first_alarm_day"),
            round(max(col("cusum") / col("sigma")), 6)
              .as("max_cusum_sigmas"))
      },
      Some(s"""WITH $DailySql, stats AS (
             |  SELECT n,
             |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
             |    sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
             |      - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
             |        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
             |      AS sigma
             |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |      CAST(SUM(x) AS BIGINT) AS s1,
             |      SUM(CAST(x AS DECIMAL(38, 0)) * x) AS s2
             |    FROM daily) z
             |), cus AS (
             |  SELECT day, n, sigma,
             |    CAST(p - MIN(p) OVER (ORDER BY day
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS DOUBLE) AS cusum
             |  FROM (
             |    SELECT day, n, sigma,
             |      SUM(CAST(ROUND(CAST(x AS DOUBLE) - mu - sigma / 2.0,
             |        6) AS DECIMAL(38, 6))) OVER (ORDER BY day
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |        AS p
             |    FROM daily CROSS JOIN stats) z
             |)
             |SELECT MAX(n) AS n_days,
             |  CAST(SUM(CASE WHEN cusum > 4.0 * sigma THEN 1 ELSE 0
             |    END) AS BIGINT) AS n_alarms,
             |  COALESCE(MIN(CASE WHEN cusum > 4.0 * sigma THEN day
             |    END), -1) AS first_alarm_day,
             |  ROUND(MAX(cusum / sigma), 6) AS max_cusum_sigmas
             |FROM cus""".stripMargin)),

    // ---- longest above-median run on daily revenue: the two-middle
    // ---- doubled median splits days (exact ties dropped), then the
    // ---- gaps-and-islands identity finds the longest streak. -------
    Q("q422_longest_run",
      (s, dir) => {
        val daily = Analytics35.dailyDollars(s, dir)
        val byval = daily.groupBy("x").agg(count(lit(1)).as("cnt"))
        val tot = byval.agg(sum(col("cnt")).as("nn"))
          .withColumn("rlo", expr("(nn + 1) div 2"))
          .withColumn("rhi", expr("nn div 2 + 1"))
        val med = byval
          .withColumn("cum", sum(col("cnt")).over(Window.orderBy("x")))
          .crossJoin(broadcast(tot))
          .agg((min(when(col("cum") >= col("rlo"), col("x")))
            + min(when(col("cum") >= col("rhi"), col("x"))))
            .as("med2"))
        val runs = daily.crossJoin(broadcast(med))
          .where(lit(2L) * col("x") =!= col("med2"))
          .select(col("day"),
            when(lit(2L) * col("x") > col("med2"), 1L).otherwise(0L)
              .as("y"))
          .withColumn("rn",
            row_number().over(Window.orderBy("day")).cast("long"))
          .withColumn("grp", col("rn") - row_number().over(
            Window.partitionBy("y").orderBy("day")).cast("long"))
          .groupBy("y", "grp").agg(count(lit(1)).as("len"))
        runs.agg(
          sum(col("len")).as("n_days_kept"),
          max(when(col("y") === 1L, col("len"))).as("longest_above"),
          max(when(col("y") === 0L, col("len"))).as("longest_below"))
          .select(col("n_days_kept"), col("longest_above"),
            col("longest_below"),
            round(log(col("n_days_kept").cast("double"))
              / math.log(2.0), 6).as("log2_n"))
      },
      Some(s"""WITH $DailySql, byval AS (
             |  SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM daily GROUP BY 1
             |), tot AS (
             |  SELECT CAST(SUM(cnt) AS BIGINT) AS nn FROM byval
             |), med AS (
             |  SELECT CAST(
             |      MIN(CASE WHEN cum >= (nn + 1) // 2 THEN x END)
             |      + MIN(CASE WHEN cum >= nn // 2 + 1 THEN x END)
             |      AS BIGINT) AS med2
             |  FROM (SELECT x,
             |      CAST(SUM(cnt) OVER (ORDER BY x) AS BIGINT) AS cum
             |    FROM byval) c
             |  CROSS JOIN tot
             |), runs AS (
             |  SELECT y, grp, CAST(COUNT(*) AS BIGINT) AS len FROM (
             |    SELECT y,
             |      CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT)
             |      - CAST(ROW_NUMBER() OVER (PARTITION BY y
             |          ORDER BY day) AS BIGINT) AS grp
             |    FROM (
             |      SELECT day,
             |        CASE WHEN 2 * x > med2 THEN 1 ELSE 0 END AS y
             |      FROM daily CROSS JOIN med
             |      WHERE 2 * x <> med2) z) g
             |  GROUP BY 1, 2
             |)
             |SELECT CAST(SUM(len) AS BIGINT) AS n_days_kept,
             |  MAX(CASE WHEN y = 1 THEN len END) AS longest_above,
             |  MAX(CASE WHEN y = 0 THEN len END) AS longest_below,
             |  ROUND(ln(CAST(SUM(len) AS DOUBLE)) / ln(2.0), 6)
             |    AS log2_n
             |FROM runs""".stripMargin)),

    // ---- Lo-MacKinlay variance ratio (q = 4) on monthly log revenue
    // ---- changes: VR = Var(4-period overlapping sums)/(4·Var(r)),
    // ---- returns and 4-sums on the round-9 grid, population
    // ---- variances from gridded moments. ---------------------------
    Q("q423_variance_ratio",
      (s, dir) => {
        val w = Window.orderBy("idx")
        val r = monthlyIdx(s, dir)
          .withColumn("l1", lag(col("x"), 1).over(w))
          .where(col("l1").isNotNull)
          .select(col("idx"),
            round(log(col("x").cast("double"))
              - log(col("l1").cast("double")), 9).as("r"))
        val r4 = r
          .withColumn("s4", round(sum(col("r")).over(
            Window.orderBy("idx").rowsBetween(-3, 0)), 9))
          .withColumn("cnt4", count(lit(1)).over(
            Window.orderBy("idx").rowsBetween(-3, 0)))
          .where(col("cnt4") === 4)
        val v1 = r.agg(count(lit(1)).as("n1"),
          sum(col("r").cast(DecimalType(38, 9))).cast("double")
            .as("s1c"),
          sum(round(col("r") * col("r"), 9).cast(DecimalType(38, 9)))
            .cast("double").as("ss1"))
        val v4 = r4.agg(count(lit(1)).as("n4"),
          sum(col("s4").cast(DecimalType(38, 9))).cast("double")
            .as("s4c"),
          sum(round(col("s4") * col("s4"), 9).cast(DecimalType(38, 9)))
            .cast("double").as("ss4"))
        v1.crossJoin(broadcast(v4))
          .select(col("n1").as("n_returns"),
            round((col("ss4") / col("n4").cast("double")
              - (col("s4c") / col("n4").cast("double"))
                * (col("s4c") / col("n4").cast("double")))
              / (lit(4.0) * (col("ss1") / col("n1").cast("double")
                - (col("s1c") / col("n1").cast("double"))
                  * (col("s1c") / col("n1").cast("double")))), 6)
              .as("vr4"))
      },
      Some(s"""WITH $MonthlyIdxSql, r AS (
             |  SELECT idx,
             |    ROUND(ln(CAST(x AS DOUBLE)) - ln(CAST(l1 AS DOUBLE)),
             |      9) AS r
             |  FROM (SELECT idx, x, LAG(x) OVER (ORDER BY idx) AS l1
             |        FROM m) z
             |  WHERE l1 IS NOT NULL
             |), r4 AS (
             |  SELECT s4 FROM (
             |    SELECT ROUND(SUM(r) OVER (ORDER BY idx
             |        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 9)
             |        AS s4,
             |      COUNT(*) OVER (ORDER BY idx
             |        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS cnt4
             |    FROM r) z
             |  WHERE cnt4 = 4
             |), v1 AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n1,
             |    CAST(SUM(CAST(r AS DECIMAL(38, 9))) AS DOUBLE) AS s,
             |    CAST(SUM(CAST(ROUND(r * r, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS ss
             |  FROM r
             |), v4 AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n4,
             |    CAST(SUM(CAST(s4 AS DECIMAL(38, 9))) AS DOUBLE) AS s,
             |    CAST(SUM(CAST(ROUND(s4 * s4, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS ss
             |  FROM r4
             |)
             |SELECT v1.n1 AS n_returns,
             |  ROUND((v4.ss / CAST(v4.n4 AS DOUBLE)
             |    - (v4.s / CAST(v4.n4 AS DOUBLE))
             |      * (v4.s / CAST(v4.n4 AS DOUBLE)))
             |    / (4.0 * (v1.ss / CAST(v1.n1 AS DOUBLE)
             |      - (v1.s / CAST(v1.n1 AS DOUBLE))
             |        * (v1.s / CAST(v1.n1 AS DOUBLE)))), 6) AS vr4
             |FROM v1 CROSS JOIN v4""".stripMargin)),

    // ---- Newey-West (Bartlett, L = 4) HAC variance of the monthly
    // ---- mean: n²·γ_l = Σ(n·x_t − S)(n·x_{t+l} − S) keeps every
    // ---- autocovariance an exact integer product; the HAC/naive
    // ---- ratio shows how much autocorrelation inflates the SE. -----
    Q("q424_newey_west",
      (s, dir) => {
        val m = monthlyIdx(s, dir).localCheckpoint(true)
        val tot = m.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
        val dev = m.crossJoin(broadcast(tot))
          .select(col("idx"), col("n"),
            (col("n") * col("x") - col("s")).as("d"))
        val gam = (0 to 4).map { l =>
          dev.as("a").join(dev.as("b").withColumnRenamed("idx", "idxb")
            .withColumnRenamed("d", "db").drop("n"),
            col("idxb") === col("idx") + l)
            .agg(first(col("n")).as("n"),
              sum(col("d").cast(DecimalType(38, 0)) * col("db"))
                .as(s"g$l"), lit(l.toLong).as("l"))
            .select(col("n"), col("l"),
              col(s"g$l").cast("double").as("g"))
        }.reduce(_ unionByName _)
        gam
          .select(col("n"), col("l"), col("g"),
            round(when(col("l") === 0L, col("g"))
              .otherwise(lit(2.0) * (lit(1.0)
                - col("l").cast("double") / 5.0) * col("g")), 6)
              .cast(DecimalType(38, 6)).as("wg"))
          .groupBy("n")
          .agg(sum(col("wg")).cast("double").as("hac"),
            sum(when(col("l") === 0L, round(col("g"), 6)
              .cast(DecimalType(38, 6))).otherwise(lit(0.0)
              .cast(DecimalType(38, 6)))).cast("double").as("naive"))
          .select(col("n").as("n_months"),
            round(col("hac") / col("naive"), 6).as("hac_naive_ratio"),
            round(sqrt(greatest(col("hac"), lit(0.0)))
              / (col("n").cast("double") * col("n").cast("double"))
              / 100.0, 2).as("nw_se_dollars"))
      },
      Some(s"""WITH $MonthlyIdxSql, tot AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(x) AS BIGINT) AS s
             |  FROM m
             |), dev AS (
             |  SELECT idx, n, n * x - s AS d FROM m CROSS JOIN tot
             |), gam AS (
             |  SELECT l.l,
             |    (SELECT CAST(SUM(CAST(a.d AS DECIMAL(38, 0)) * b.d)
             |        AS DOUBLE)
             |     FROM dev a JOIN dev b ON b.idx = a.idx + l.l) AS g,
             |    (SELECT MAX(n) FROM tot) AS n
             |  FROM (SELECT CAST(range AS BIGINT) AS l
             |        FROM range(0, 5)) l
             |)
             |SELECT n AS n_months,
             |  ROUND(CAST(SUM(CAST(ROUND(CASE WHEN l = 0 THEN g
             |      ELSE 2.0 * (1.0 - CAST(l AS DOUBLE) / 5.0) * g END,
             |      6) AS DECIMAL(38, 6))) AS DOUBLE)
             |    / CAST(SUM(CAST(CASE WHEN l = 0 THEN ROUND(g, 6)
             |      ELSE 0.0 END AS DECIMAL(38, 6))) AS DOUBLE), 6)
             |    AS hac_naive_ratio,
             |  ROUND(sqrt(GREATEST(CAST(SUM(CAST(ROUND(CASE WHEN l = 0
             |      THEN g ELSE 2.0 * (1.0 - CAST(l AS DOUBLE) / 5.0)
             |        * g END, 6) AS DECIMAL(38, 6))) AS DOUBLE), 0.0))
             |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
             |    / 100.0, 2) AS nw_se_dollars
             |FROM gam GROUP BY n""".stripMargin)),

    // ---- spectral flatness (Wiener entropy) of the period-2..30
    // ---- power spectrum (q396's 1e9 trig grid): geometric over
    // ---- arithmetic mean of the round-6 powers. --------------------
    Q("q425_spectral_flatness",
      (s, dir) => {
        val base = Analytics35.dailyDollars(s, dir)
          .select(expr("x div 1000").as("xk"),
            (row_number().over(Window.orderBy("day")) - 1).cast("long")
              .as("rn"))
        val n = base.count()
        val powers = base
          .crossJoin(s.range(2, 31).select(col("id").as("p")))
          .select(col("p"),
            (col("xk") * round(cos(lit(2.0 * math.Pi)
              * (col("rn") % col("p")).cast("double")
              / col("p").cast("double")) * 1e9).cast("long")).as("pc"),
            (col("xk") * round(sin(lit(2.0 * math.Pi)
              * (col("rn") % col("p")).cast("double")
              / col("p").cast("double")) * 1e9).cast("long")).as("ps"))
          .groupBy("p")
          .agg(sum(col("pc")).as("sc"), sum(col("ps")).as("ss"))
          .select(round((col("sc").cast("double")
            * col("sc").cast("double")
            + col("ss").cast("double") * col("ss").cast("double"))
            / lit(n.toDouble) / 1e18, 6).as("power"))
          .where(col("power") > 0.0)
        powers
          .agg(count(lit(1)).as("n_freqs"),
            sum(round(log(col("power")), 9).cast(DecimalType(38, 9)))
              .cast("double").as("slog"),
            sum(round(col("power"), 6).cast(DecimalType(38, 6)))
              .cast("double").as("sp"))
          .select(col("n_freqs"),
            round(exp(col("slog") / col("n_freqs").cast("double"))
              / (col("sp") / col("n_freqs").cast("double")), 6)
              .as("flatness"))
      },
      Some("""WITH base AS MATERIALIZED (
             |  SELECT x // 1000 AS xk,
             |    CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) - 1
             |      AS rn
             |  FROM (SELECT CAST(date_diff('day', DATE '1970-01-01',
             |      CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
             |    CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
             |      AS DOUBLE)) AS BIGINT) AS x
             |    FROM orders GROUP BY 1) d
             |), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
             |powers AS (
             |  SELECT power FROM (
             |    SELECT
             |      ROUND((CAST(SUM(xk * cq) AS DOUBLE)
             |          * CAST(SUM(xk * cq) AS DOUBLE)
             |        + CAST(SUM(xk * sq) AS DOUBLE)
             |          * CAST(SUM(xk * sq) AS DOUBLE))
             |        / (SELECT CAST(n AS DOUBLE) FROM nn) / 1e18, 6)
             |        AS power
             |    FROM (
             |      SELECT p.p, b.xk,
             |        CAST(ROUND(cos(2.0 * pi()
             |          * CAST(b.rn % p.p AS DOUBLE)
             |          / CAST(p.p AS DOUBLE)) * 1e9) AS BIGINT) AS cq,
             |        CAST(ROUND(sin(2.0 * pi()
             |          * CAST(b.rn % p.p AS DOUBLE)
             |          / CAST(p.p AS DOUBLE)) * 1e9) AS BIGINT) AS sq
             |      FROM base b
             |      CROSS JOIN (SELECT CAST(range AS BIGINT) AS p
             |                  FROM range(2, 31)) p) z
             |    GROUP BY p) pw
             |  WHERE power > 0.0
             |)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_freqs,
             |  ROUND(exp(CAST(SUM(CAST(ROUND(ln(power), 9)
             |      AS DECIMAL(38, 9))) AS DOUBLE)
             |      / CAST(COUNT(*) AS DOUBLE))
             |    / (CAST(SUM(CAST(ROUND(power, 6) AS DECIMAL(38, 6)))
             |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)), 6)
             |    AS flatness
             |FROM powers""".stripMargin)),
  )
}
