package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Fifty-eighth analytics pack (round 6, session 9): randomness and
  * complexity diagnostics of the revenue series — spectral entropy of
  * the short-period power spectrum, the turning-points randomness
  * test, the record-breaking (running-maxima) test with exact
  * harmonic moments, sample entropy (m=2), and permutation entropy
  * (order-3 ordinal patterns).
  *
  * Exactness discipline: the daily/monthly series are exact integer
  * dollars/cents; trig rides q297's 1e9 integer grid; harmonic and
  * entropy terms are round-9 gridded before summation; ordinal
  * patterns and template matches are pure integer comparisons. The
  * O(n²) template self-joins run only on the ≤84-point monthly
  * series — bounded by the calendar, not the data volume. */
object Analytics58 {

  /** Monthly revenue in exact cents with a 1-based rank index. */
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

  val all: Seq[Q] = Seq(

    // ---- spectral entropy of the daily-revenue power spectrum at
    // ---- periods 2..30 (q297's 1e9 trig grid, one exploded pass):
    // ---- H = −Σ q·ln q over normalized powers, H_norm = H/ln(29). --
    Q("q396_spectral_entropy",
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
          .select(col("p"),
            round((col("sc").cast("double") * col("sc").cast("double")
              + col("ss").cast("double") * col("ss").cast("double"))
              / lit(n.toDouble) / 1e18, 6).as("power"))
        val tot = powers.agg(sum(round(col("power"), 6)
          .cast(DecimalType(38, 6))).cast("double").as("sp"))
        powers.crossJoin(broadcast(tot))
          .select(round(lit(-1.0) * (col("power") / col("sp"))
            * log(col("power") / col("sp")), 9)
            .cast(DecimalType(38, 9)).as("term"))
          .agg(count(lit(1)).as("n_freqs"),
            sum(col("term")).cast("double").as("h"))
          .select(col("n_freqs"),
            round(col("h"), 6).as("spectral_entropy"),
            round(col("h") / log(col("n_freqs").cast("double")), 6)
              .as("h_normalized"))
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
             |  SELECT p,
             |    ROUND((CAST(SUM(xk * cq) AS DOUBLE)
             |        * CAST(SUM(xk * cq) AS DOUBLE)
             |      + CAST(SUM(xk * sq) AS DOUBLE)
             |        * CAST(SUM(xk * sq) AS DOUBLE))
             |      / (SELECT CAST(n AS DOUBLE) FROM nn) / 1e18, 6)
             |      AS power
             |  FROM (
             |    SELECT p.p, b.xk,
             |      CAST(ROUND(cos(2.0 * pi() * CAST(b.rn % p.p AS DOUBLE)
             |        / CAST(p.p AS DOUBLE)) * 1e9) AS BIGINT) AS cq,
             |      CAST(ROUND(sin(2.0 * pi() * CAST(b.rn % p.p AS DOUBLE)
             |        / CAST(p.p AS DOUBLE)) * 1e9) AS BIGINT) AS sq
             |    FROM base b
             |    CROSS JOIN (SELECT CAST(range AS BIGINT) AS p
             |                FROM range(2, 31)) p) z
             |  GROUP BY p
             |), tot AS (
             |  SELECT CAST(SUM(CAST(ROUND(power, 6) AS DECIMAL(38, 6)))
             |    AS DOUBLE) AS sp
             |  FROM powers
             |), agg AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_freqs,
             |    CAST(SUM(CAST(ROUND(-(power / sp)
             |      * ln(power / sp), 9) AS DECIMAL(38, 9))) AS DOUBLE)
             |      AS h
             |  FROM powers CROSS JOIN tot
             |)
             |SELECT n_freqs,
             |  ROUND(h, 6) AS spectral_entropy,
             |  ROUND(h / ln(CAST(n_freqs AS DOUBLE)), 6) AS h_normalized
             |FROM agg""".stripMargin)),

    // ---- turning-points randomness test on the daily series: strict
    // ---- local extrema counted via the sign product of neighbor
    // ---- deltas; z against E = 2(n−2)/3, Var = (16n−29)/90. --------
    Q("q397_turning_points",
      (s, dir) => {
        val w = Window.orderBy("day")
        val tp = Analytics35.dailyDollars(s, dir)
          .withColumn("prev", lag(col("x"), 1).over(w))
          .withColumn("nxt", lead(col("x"), 1).over(w))
        tp.agg(count(lit(1)).as("n"),
          sum(when(col("prev").isNotNull && col("nxt").isNotNull
            && (col("x") - col("prev")) * (col("nxt") - col("x")) < 0L,
            1L).otherwise(0L)).as("tpts"))
          .select(col("n").as("n_days"), col("tpts").as("turning_points"),
            round((col("tpts").cast("double")
              - lit(2.0) * (col("n") - 2L).cast("double") / 3.0)
              / sqrt((lit(16.0) * col("n").cast("double") - 29.0)
                / 90.0), 6).as("z"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(date_diff('day', DATE '1970-01-01',
             |      CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
             |    CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
             |      AS DOUBLE)) AS BIGINT) AS x
             |  FROM orders GROUP BY 1
             |), tp AS (
             |  SELECT x,
             |    LAG(x) OVER (ORDER BY day) AS prev,
             |    LEAD(x) OVER (ORDER BY day) AS nxt
             |  FROM daily
             |), agg AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(CASE WHEN prev IS NOT NULL AND nxt IS NOT NULL
             |      AND (x - prev) * (nxt - x) < 0 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS tpts
             |  FROM tp
             |)
             |SELECT n AS n_days, tpts AS turning_points,
             |  ROUND((CAST(tpts AS DOUBLE)
             |    - 2.0 * CAST(n - 2 AS DOUBLE) / 3.0)
             |    / sqrt((16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0), 6)
             |    AS z
             |FROM agg""".stripMargin)),

    // ---- record-breaking test on the monthly series: running strict
    // ---- maxima vs the exact null moments E = H_n, Var = H_n − H_n²
    // ---- (harmonic sums gridded from the series' own rank column —
    // ---- no driver round-trip). ------------------------------------
    Q("q398_record_counts",
      (s, dir) => {
        val m = monthlyIdx(s, dir)
        val w = Window.orderBy("idx")
          .rowsBetween(Window.unboundedPreceding, -1)
        val rec = m
          .withColumn("pmax", max(col("x")).over(w))
          .agg(count(lit(1)).as("n"),
            sum(when(col("pmax").isNull || col("x") > col("pmax"), 1L)
              .otherwise(0L)).as("recs"))
        val harm = m.select(
          round(lit(1.0) / col("idx").cast("double"), 9)
            .cast(DecimalType(38, 9)).as("h1"),
          round(lit(1.0) / (col("idx") * col("idx")).cast("double"), 9)
            .cast(DecimalType(38, 9)).as("h2"))
          .agg(sum(col("h1")).cast("double").as("hn"),
            sum(col("h2")).cast("double").as("hn2"))
        rec.crossJoin(broadcast(harm))
          .select(col("n").as("n_months"), col("recs").as("records"),
            round(col("hn"), 6).as("expected_records"),
            round((col("recs").cast("double") - col("hn"))
              / sqrt(col("hn") - col("hn2")), 6).as("z"))
      },
      Some(s"""WITH $MonthlyIdxSql, rec AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(CASE WHEN pmax IS NULL OR x > pmax
             |      THEN 1 ELSE 0 END) AS BIGINT) AS recs
             |  FROM (
             |    SELECT x, MAX(x) OVER (ORDER BY idx
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS pmax
             |    FROM m) z
             |), harm AS (
             |  SELECT
             |    CAST(SUM(CAST(ROUND(1.0 / CAST(idx AS DOUBLE), 9)
             |      AS DECIMAL(38, 9))) AS DOUBLE) AS hn,
             |    CAST(SUM(CAST(ROUND(1.0 / CAST(idx * idx AS DOUBLE), 9)
             |      AS DECIMAL(38, 9))) AS DOUBLE) AS hn2
             |  FROM m
             |)
             |SELECT n AS n_months, recs AS records,
             |  ROUND(hn, 6) AS expected_records,
             |  ROUND((CAST(recs AS DOUBLE) - hn) / sqrt(hn - hn2), 6)
             |    AS z
             |FROM rec CROSS JOIN harm""".stripMargin)),

    // ---- sample entropy (m = 2, r = sd/5) on the monthly series:
    // ---- Chebyshev template matches over the bounded ≤84-point
    // ---- self-join; SampEn = ln(B/A) from exact match counts. ------
    Q("q399_sample_entropy",
      (s, dir) => {
        val m = monthlyIdx(s, dir)
        val w = Window.orderBy("idx")
        val emb = m
          .withColumn("x1", lead(col("x"), 1).over(w))
          .withColumn("x2", lead(col("x"), 2).over(w))
          .where(col("x2").isNotNull)
        val sd = m.agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
          sum(col("x").cast(DecimalType(38, 0)) * col("x")).as("s2"))
          .select(round(sqrt(col("s2").cast("double")
            / col("n").cast("double")
            - (col("s1").cast("double") / col("n").cast("double"))
              * (col("s1").cast("double") / col("n").cast("double")))
            / 5.0, 9).as("r"))
        val pairs = emb.as("a").join(emb.as("b"),
          col("b.idx") > col("a.idx"))
          .crossJoin(broadcast(sd))
          .select(
            (greatest(abs(col("a.x") - col("b.x")).cast("double"),
              abs(col("a.x1") - col("b.x1")).cast("double"))
              <= col("r")).as("m2"),
            (greatest(abs(col("a.x") - col("b.x")).cast("double"),
              abs(col("a.x1") - col("b.x1")).cast("double"),
              abs(col("a.x2") - col("b.x2")).cast("double"))
              <= col("r")).as("m3"))
        pairs.agg(
          sum(when(col("m2"), 1L).otherwise(0L)).as("b"),
          sum(when(col("m3"), 1L).otherwise(0L)).as("a"))
          .select(col("b").as("matches_m2"), col("a").as("matches_m3"),
            round(log(col("b").cast("double") / col("a").cast("double")),
              6).as("sampen"))
      },
      Some(s"""WITH $MonthlyIdxSql, emb AS (
             |  SELECT idx, x, x1, x2 FROM (
             |    SELECT idx, x,
             |      LEAD(x, 1) OVER (ORDER BY idx) AS x1,
             |      LEAD(x, 2) OVER (ORDER BY idx) AS x2
             |    FROM m) z
             |  WHERE x2 IS NOT NULL
             |), sd AS (
             |  SELECT ROUND(sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
             |    - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
             |      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) / 5.0, 9)
             |    AS r
             |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |      CAST(SUM(x) AS BIGINT) AS s1,
             |      SUM(CAST(x AS DECIMAL(38, 0)) * x) AS s2
             |    FROM m) z
             |), pairs AS (
             |  SELECT
             |    GREATEST(CAST(ABS(a.x - b.x) AS DOUBLE),
             |      CAST(ABS(a.x1 - b.x1) AS DOUBLE)) <= r AS m2,
             |    GREATEST(CAST(ABS(a.x - b.x) AS DOUBLE),
             |      CAST(ABS(a.x1 - b.x1) AS DOUBLE),
             |      CAST(ABS(a.x2 - b.x2) AS DOUBLE)) <= r AS m3
             |  FROM emb a JOIN emb b ON b.idx > a.idx
             |  CROSS JOIN sd
             |)
             |SELECT
             |  CAST(SUM(CASE WHEN m2 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS matches_m2,
             |  CAST(SUM(CASE WHEN m3 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS matches_m3,
             |  ROUND(ln(CAST(SUM(CASE WHEN m2 THEN 1 ELSE 0 END)
             |      AS DOUBLE)
             |    / CAST(SUM(CASE WHEN m3 THEN 1 ELSE 0 END) AS DOUBLE)),
             |    6) AS sampen
             |FROM pairs""".stripMargin)),

    // ---- permutation entropy (order 3) on the monthly series:
    // ---- ordinal patterns from stable position-tiebroken ranks
    // ---- (pure integer comparisons), H = −Σ p·ln p / ln 6. ---------
    Q("q400_permutation_entropy",
      (s, dir) => {
        val m = monthlyIdx(s, dir)
        val w = Window.orderBy("idx")
        val pat = m
          .withColumn("b", lead(col("x"), 1).over(w))
          .withColumn("c", lead(col("x"), 2).over(w))
          .where(col("c").isNotNull)
          .select((
            (lit(1L) + when(col("b") < col("x"), 1L).otherwise(0L)
              + when(col("c") < col("x"), 1L).otherwise(0L)) * 100L
              + (lit(1L) + when(col("x") <= col("b"), 1L).otherwise(0L)
                + when(col("c") < col("b"), 1L).otherwise(0L)) * 10L
              + (lit(1L) + when(col("x") <= col("c"), 1L).otherwise(0L)
                + when(col("b") <= col("c"), 1L).otherwise(0L)))
            .as("code"))
        val counts = pat.groupBy("code").agg(count(lit(1)).as("cnt"))
        val tot = counts.agg(sum(col("cnt")).as("n"))
        counts.crossJoin(broadcast(tot))
          .select(col("n"),
            round(lit(-1.0)
              * (col("cnt").cast("double") / col("n").cast("double"))
              * log(col("cnt").cast("double") / col("n").cast("double")),
              9).cast(DecimalType(38, 9)).as("term"))
          .groupBy("n")
          .agg(count(lit(1)).as("n_patterns"),
            sum(col("term")).cast("double").as("h"))
          .select(col("n").as("n_windows"), col("n_patterns"),
            round(col("h"), 6).as("h_nats"),
            round(col("h") / math.log(6.0), 6).as("h_normalized"))
      },
      Some(s"""WITH $MonthlyIdxSql, pat AS (
             |  SELECT (1 + CASE WHEN b < x THEN 1 ELSE 0 END
             |      + CASE WHEN c < x THEN 1 ELSE 0 END) * 100
             |    + (1 + CASE WHEN x <= b THEN 1 ELSE 0 END
             |      + CASE WHEN c < b THEN 1 ELSE 0 END) * 10
             |    + (1 + CASE WHEN x <= c THEN 1 ELSE 0 END
             |      + CASE WHEN b <= c THEN 1 ELSE 0 END) AS code
             |  FROM (
             |    SELECT x,
             |      LEAD(x, 1) OVER (ORDER BY idx) AS b,
             |      LEAD(x, 2) OVER (ORDER BY idx) AS c
             |    FROM m) z
             |  WHERE c IS NOT NULL
             |), counts AS (
             |  SELECT code, CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM pat GROUP BY 1
             |), tot AS (
             |  SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM counts
             |)
             |SELECT n AS n_windows,
             |  CAST(COUNT(*) AS BIGINT) AS n_patterns,
             |  ROUND(CAST(SUM(CAST(ROUND(
             |    -(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))
             |    * ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)), 9)
             |    AS DECIMAL(38, 9))) AS DOUBLE), 6) AS h_nats,
             |  ROUND(CAST(SUM(CAST(ROUND(
             |    -(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))
             |    * ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)), 9)
             |    AS DECIMAL(38, 9))) AS DOUBLE) / ln(6.0), 6)
             |    AS h_normalized
             |FROM counts CROSS JOIN tot
             |GROUP BY n""".stripMargin)),
  )
}
