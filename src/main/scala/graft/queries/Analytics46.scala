package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables
import Analytics44.{monthlySeries, olsFit, MonthlySql, OlsSql}

/** Forty-sixth analytics pack (round 6, session 9): structural-break
  * and distribution-shape tests plus causal/text extraction — the
  * Chow break test, Grubbs' outlier test, Jarque-Bera normality,
  * one-lag Granger causality between event series, and RAKE keyword
  * extraction over the document corpus.
  *
  * Exactness discipline: regression and moment sums are exact
  * BIGINT / DECIMAL(38) / HUGEINT before any division; residuals ride
  * the µ-cent grid; RAKE word scores are round-9 DECIMAL terms so
  * phrase scores never depend on float summation order. */
object Analytics46 {

  private val D19 = DecimalType(19, 0)
  private val D38 = DecimalType(38, 0)

  /** RAKE stopword list — the synthetic corpus' function words. */
  private val Stopwords = Seq("the", "a")

  val all: Seq[Q] = Seq(

    // ---- Chow structural-break test at the series midpoint: separate
    // ---- OLS fits on each half vs the pooled fit, F from the exact
    // ---- µ-residual SSEs. The known-breakpoint partner of q286's
    // ---- searched binary segmentation. ------------------------------
    Q("q336_chow_test",
      (s, dir) => {
        val monthly = monthlySeries(s, dir)
        val brk = monthly.agg(expr("count(1) div 2").as("brk"))
        val tagged = monthly.crossJoin(broadcast(brk))
          .select(col("ym"), col("x"), col("rev"),
            (col("x") <= col("brk")).cast("long").as("h"), col("brk"))
        val mh = tagged.groupBy("h")
          .agg(count(lit(1)).as("nh"), sum(col("x")).as("sx"),
            sum(col("rev")).as("sy"), sum(col("x") * col("x")).as("sxx"),
            sum(col("x") * col("rev")).as("sxy"))
        val fith = mh.select(col("h"), col("nh"),
            ((col("nh").cast("double") * col("sxy") -
              col("sx").cast("double") * col("sy")) /
              (col("nh").cast("double") * col("sxx") -
                col("sx").cast("double") * col("sx"))).as("bh"),
            col("sx"), col("sy"))
          .select(col("h"), col("nh"), col("bh"),
            ((col("sy").cast("double") - col("bh") *
              col("sx").cast("double")) / col("nh").cast("double"))
              .as("ah"))
        val sseh = tagged.join(broadcast(fith), "h")
          .select(col("h"),
            round((col("rev").cast("double") - col("ah") -
              col("bh") * col("x").cast("double")) * 1e6).cast("long")
              .as("e"))
          .groupBy(lit(1).as("g"))
          .agg(sum(when(col("h") === 1L,
              col("e").cast(D38) * col("e").cast(D19)).otherwise(lit(0)
              .cast(D38))).cast("double").as("sse1"),
            sum(when(col("h") === 0L,
              col("e").cast(D38) * col("e").cast(D19)).otherwise(lit(0)
              .cast(D38))).cast("double").as("sse2"))
        val fitp = olsFit(monthly)
        val ssep = monthly.crossJoin(broadcast(fitp))
          .select(col("n"),
            round((col("rev").cast("double") - col("a") -
              col("b") * col("x").cast("double")) * 1e6).cast("long")
              .as("e"))
          .groupBy("n")
          .agg(sum(col("e").cast(D38) * col("e").cast(D19)).cast("double")
            .as("ssep"))
        ssep.crossJoin(sseh).crossJoin(broadcast(brk))
          .select(col("n").as("n_months"), col("brk").as("break_x"),
            round(((col("ssep") - col("sse1") - col("sse2")) / lit(2.0)) /
              ((col("sse1") + col("sse2")) /
                (col("n") - 4L).cast("double")), 6).as("f_stat"),
            round((col("sse1") + col("sse2")) / col("ssep"), 6)
              .as("sse_ratio"))
      },
      Some(s"""WITH $MonthlySql, $OlsSql, brk AS (
             |  SELECT COUNT(*) // 2 AS brk FROM monthly
             |), tagged AS (
             |  SELECT ym, x, rev,
             |    CASE WHEN x <= brk THEN 1 ELSE 0 END AS h, brk
             |  FROM monthly CROSS JOIN brk
             |), mh AS (
             |  SELECT h, CAST(COUNT(*) AS BIGINT) AS nh,
             |    CAST(SUM(x) AS BIGINT) AS sx,
             |    CAST(SUM(rev) AS BIGINT) AS sy,
             |    CAST(SUM(x * x) AS BIGINT) AS sxx,
             |    CAST(SUM(x * rev) AS BIGINT) AS sxy
             |  FROM tagged GROUP BY h
             |), fith AS (
             |  SELECT h, nh, bh,
             |    (CAST(sy AS DOUBLE) - bh * CAST(sx AS DOUBLE))
             |      / CAST(nh AS DOUBLE) AS ah
             |  FROM (
             |    SELECT h, nh, sx, sy,
             |      (CAST(nh AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             |        / (CAST(nh AS DOUBLE) * sxx
             |          - CAST(sx AS DOUBLE) * sx) AS bh
             |    FROM mh)
             |), sseh AS (
             |  SELECT
             |    CAST(SUM(CASE WHEN h = 1 THEN CAST(e AS HUGEINT)
             |      * CAST(e AS HUGEINT) ELSE 0 END) AS DOUBLE) AS sse1,
             |    CAST(SUM(CASE WHEN h = 0 THEN CAST(e AS HUGEINT)
             |      * CAST(e AS HUGEINT) ELSE 0 END) AS DOUBLE) AS sse2
             |  FROM (
             |    SELECT h, CAST(ROUND((CAST(rev AS DOUBLE) - ah
             |      - bh * CAST(x AS DOUBLE)) * 1e6) AS BIGINT) AS e
             |    FROM tagged JOIN fith USING (h))
             |), ssep AS (
             |  SELECT n,
             |    CAST(SUM(CAST(e AS HUGEINT) * CAST(e AS HUGEINT))
             |      AS DOUBLE) AS ssep
             |  FROM (
             |    SELECT n, CAST(ROUND((CAST(rev AS DOUBLE) - a
             |      - b * CAST(x AS DOUBLE)) * 1e6) AS BIGINT) AS e
             |    FROM monthly CROSS JOIN fit)
             |  GROUP BY n
             |)
             |SELECT n AS n_months, brk AS break_x,
             |  ROUND(((ssep - sse1 - sse2) / 2.0)
             |    / ((sse1 + sse2) / CAST(n - 4 AS DOUBLE)), 6) AS f_stat,
             |  ROUND((sse1 + sse2) / ssep, 6) AS sse_ratio
             |FROM ssep CROSS JOIN sseh CROSS JOIN brk""".stripMargin)),

    // ---- Grubbs' single-outlier test on monthly revenue: G =
    // ---- max|x − x̄|/s from exact cent moments, reporting the
    // ---- offending month (tie → earliest). The formal-test partner
    // ---- of q204's Tukey fences. ------------------------------------
    Q("q337_grubbs",
      (s, dir) => {
        val monthly = monthlySeries(s, dir)
        val m = monthly.agg(count(lit(1)).as("n"),
            sum(col("rev").cast(D38)).cast("double").as("s"),
            sum(col("rev").cast(D19) * col("rev").cast(D19)).cast("double")
              .as("sq"))
          .select(col("n"), (col("s") / col("n")).as("xbar"),
            sqrt((col("sq") - col("s") * col("s") / col("n")) /
              (col("n") - 1L)).as("sd"))
        monthly.crossJoin(broadcast(m))
          .select(col("ym"), col("n"),
            round(col("rev") / lit(100.0), 2).as("value"),
            abs(col("rev").cast("double") - col("xbar")).as("dev"),
            col("sd"))
          .orderBy(desc("dev"), asc("ym")).limit(1)
          .select(col("n").as("n_months"), col("ym").as("outlier_month"),
            col("value"),
            round(col("dev") / col("sd"), 6).as("g_stat"))
      },
      Some(s"""WITH $MonthlySql, m AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(CAST(rev AS DECIMAL(38, 0))) AS DOUBLE) AS s,
             |    CAST(SUM(CAST(rev AS HUGEINT) * CAST(rev AS HUGEINT))
             |      AS DOUBLE) AS sq
             |  FROM monthly
             |), stats AS (
             |  SELECT n, s / n AS xbar,
             |    sqrt((sq - s * s / n) / (n - 1)) AS sd
             |  FROM m
             |)
             |SELECT n AS n_months, ym AS outlier_month,
             |  ROUND(rev / 100.0, 2) AS value,
             |  ROUND(ABS(CAST(rev AS DOUBLE) - xbar) / sd, 6) AS g_stat
             |FROM monthly CROSS JOIN stats
             |ORDER BY ABS(CAST(rev AS DOUBLE) - xbar) DESC, ym
             |LIMIT 1""".stripMargin)),

    // ---- Jarque-Bera normality of order values: skewness and excess
    // ---- kurtosis from exact raw cent moments up to x⁴ (DECIMAL38 /
    // ---- HUGEINT — c⁴ ≈ 1e31 stays inside both), JB = n/6(S² + K²/4).
    // ---- The moment-based partner of q152's KS distance. ------------
    Q("q338_jarque_bera",
      (s, dir) => {
        val m = t(s, dir, "orders")
          .select(round(col("o_totalprice") * 100).cast("long").as("c"))
          .select(col("c").cast(D19).as("x"))
          .agg(count(lit(1)).as("n"),
            sum(col("x")).cast("double").as("s1"),
            sum(col("x") * col("x")).cast("double").as("s2"),
            sum(col("x") * col("x") * col("x")).cast("double").as("s3"),
            sum(col("x") * col("x") * col("x") * col("x")).cast("double")
              .as("s4"))
        m.select(col("n"), (col("s1") / col("n")).as("mu"),
            col("s2"), col("s3"), col("s4"))
          .select(col("n"), col("mu"),
            (col("s2") / col("n") - col("mu") * col("mu")).as("m2"),
            (col("s3") / col("n") - lit(3.0) * col("mu") *
              (col("s2") / col("n")) +
              lit(2.0) * col("mu") * col("mu") * col("mu")).as("m3"),
            (col("s4") / col("n") - lit(4.0) * col("mu") *
              (col("s3") / col("n")) +
              lit(6.0) * col("mu") * col("mu") * (col("s2") / col("n")) -
              lit(3.0) * col("mu") * col("mu") * col("mu") * col("mu"))
              .as("m4"))
          .select(col("n"),
            (col("m3") / pow(col("m2"), 1.5)).as("skew"),
            (col("m4") / (col("m2") * col("m2")) - lit(3.0)).as("kurt"))
          .select(col("n").as("n_orders"),
            round(col("skew"), 6).as("skewness"),
            round(col("kurt"), 6).as("excess_kurtosis"),
            round(col("n").cast("double") / lit(6.0) *
              (col("skew") * col("skew") +
                col("kurt") * col("kurt") / lit(4.0)), 6).as("jb_stat"))
      },
      Some("""WITH m AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(CAST(c AS HUGEINT)) AS DOUBLE) AS s1,
             |    CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE) AS s2,
             |    CAST(SUM(CAST(c AS HUGEINT) * c * c) AS DOUBLE) AS s3,
             |    CAST(SUM(CAST(c AS HUGEINT) * c * c * c) AS DOUBLE) AS s4
             |  FROM (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
             |        FROM orders)
             |), central AS (
             |  SELECT n, mu,
             |    s2 / n - mu * mu AS m2,
             |    s3 / n - 3.0 * mu * (s2 / n) + 2.0 * mu * mu * mu AS m3,
             |    s4 / n - 4.0 * mu * (s3 / n)
             |      + 6.0 * mu * mu * (s2 / n)
             |      - 3.0 * mu * mu * mu * mu AS m4
             |  FROM (SELECT n, s1 / n AS mu, s2, s3, s4 FROM m)
             |), shape AS (
             |  SELECT n, m3 / POW(m2, 1.5) AS skew,
             |    m4 / (m2 * m2) - 3.0 AS kurt
             |  FROM central
             |)
             |SELECT n AS n_orders,
             |  ROUND(skew, 6) AS skewness,
             |  ROUND(kurt, 6) AS excess_kurtosis,
             |  ROUND(CAST(n AS DOUBLE) / 6.0
             |    * (skew * skew + kurt * kurt / 4.0), 6) AS jb_stat
             |FROM shape""".stripMargin)),

    // ---- one-lag Granger causality: do yesterday's clicks explain
    // ---- today's purchases beyond yesterday's purchases? Restricted
    // ---- AR(1) vs the two-regressor fit, both solved in closed form
    // ---- from exact BIGINT cross-moments; F from the implied SSEs.
    // ---- The daily-count partner of q199's symmetric lag scan. ------
    Q("q339_granger",
      (s, dir) => {
        val daily = t(s, dir, "events")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum((col("event_type") === "click").cast("long")).as("c"),
            sum((col("event_type") === "purchase").cast("long")).as("p"))
          .withColumn("i", row_number().over(Window.orderBy("day"))
            .cast("long"))
        val lagged = daily
          .withColumn("u", lag(col("p"), 1).over(Window.orderBy("i")))
          .withColumn("v", lag(col("c"), 1).over(Window.orderBy("i")))
          .where(col("u").isNotNull)
          .select(col("p").as("y"), col("u"), col("v"))
        val m = lagged.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
          sum(col("u")).as("su"), sum(col("v")).as("sv"),
          sum(col("y") * col("u")).as("syu"),
          sum(col("y") * col("v")).as("syv"),
          sum(col("u") * col("v")).as("suv"),
          sum(col("u") * col("u")).as("suu"),
          sum(col("v") * col("v")).as("svv"),
          sum(col("y") * col("y")).as("syy"))
        m.select(col("n"),
            (col("n") * col("suu") - col("su") * col("su"))
              .cast("double").as("cuu"),
            (col("n") * col("svv") - col("sv") * col("sv"))
              .cast("double").as("cvv"),
            (col("n") * col("suv") - col("su") * col("sv"))
              .cast("double").as("cuv"),
            (col("n") * col("syu") - col("sy") * col("su"))
              .cast("double").as("cyu"),
            (col("n") * col("syv") - col("sy") * col("sv"))
              .cast("double").as("cyv"),
            (col("n") * col("syy") - col("sy") * col("sy"))
              .cast("double").as("cyy"))
          .select(col("n"), col("cyy"), col("cuu"), col("cyu"),
            ((col("cyu") * col("cvv") - col("cyv") * col("cuv")) /
              (col("cuu") * col("cvv") - col("cuv") * col("cuv")))
              .as("b"),
            ((col("cuu") * col("cyv") - col("cuv") * col("cyu")) /
              (col("cuu") * col("cvv") - col("cuv") * col("cuv")))
              .as("cx"),
            col("cyv"))
          .select(col("n"),
            (col("cyy") - col("cyu") * col("cyu") / col("cuu"))
              .as("sse_r"),
            (col("cyy") - col("b") * col("cyu") - col("cx") * col("cyv"))
              .as("sse_u"),
            col("b"), col("cx"))
          .select(col("n").as("n_days"),
            round(col("b"), 6).as("ar_coef"),
            round(col("cx"), 6).as("click_coef"),
            round((col("sse_r") - col("sse_u")) /
              (col("sse_u") / (col("n") - 3L).cast("double")), 6)
              .as("f_stat"),
            round(col("sse_u") / col("sse_r"), 6).as("sse_ratio"))
      },
      Some("""WITH daily AS (
             |  SELECT day, c, p,
             |    CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i
             |  FROM (
             |    SELECT CAST(ts AS DATE) AS day,
             |      CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0
             |        END) AS BIGINT) AS c,
             |      CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
             |        ELSE 0 END) AS BIGINT) AS p
             |    FROM events GROUP BY 1)
             |), lagged AS (
             |  SELECT p AS y, u, v FROM (
             |    SELECT p,
             |      LAG(p, 1) OVER (ORDER BY i) AS u,
             |      LAG(c, 1) OVER (ORDER BY i) AS v
             |    FROM daily)
             |  WHERE u IS NOT NULL
             |), m AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(u) AS BIGINT) AS su,
             |    CAST(SUM(v) AS BIGINT) AS sv,
             |    CAST(SUM(y * u) AS BIGINT) AS syu,
             |    CAST(SUM(y * v) AS BIGINT) AS syv,
             |    CAST(SUM(u * v) AS BIGINT) AS suv,
             |    CAST(SUM(u * u) AS BIGINT) AS suu,
             |    CAST(SUM(v * v) AS BIGINT) AS svv,
             |    CAST(SUM(y * y) AS BIGINT) AS syy
             |  FROM lagged
             |), c AS (
             |  SELECT n,
             |    CAST(n * suu - su * su AS DOUBLE) AS cuu,
             |    CAST(n * svv - sv * sv AS DOUBLE) AS cvv,
             |    CAST(n * suv - su * sv AS DOUBLE) AS cuv,
             |    CAST(n * syu - sy * su AS DOUBLE) AS cyu,
             |    CAST(n * syv - sy * sv AS DOUBLE) AS cyv,
             |    CAST(n * syy - sy * sy AS DOUBLE) AS cyy
             |  FROM m
             |), solved AS (
             |  SELECT n, cyy, cuu, cyu, cyv,
             |    (cyu * cvv - cyv * cuv) / (cuu * cvv - cuv * cuv) AS b,
             |    (cuu * cyv - cuv * cyu) / (cuu * cvv - cuv * cuv) AS cx
             |  FROM c
             |), sse AS (
             |  SELECT n, b, cx,
             |    cyy - cyu * cyu / cuu AS sse_r,
             |    cyy - b * cyu - cx * cyv AS sse_u
             |  FROM solved
             |)
             |SELECT n AS n_days,
             |  ROUND(b, 6) AS ar_coef,
             |  ROUND(cx, 6) AS click_coef,
             |  ROUND((sse_r - sse_u) / (sse_u / CAST(n - 3 AS DOUBLE)), 6)
             |    AS f_stat,
             |  ROUND(sse_u / sse_r, 6) AS sse_ratio
             |FROM sse""".stripMargin)),

    // ---- RAKE keyword extraction: stopword-delimited runs are the
    // ---- candidate phrases; word score = corpus degree/frequency
    // ---- over phrase tokens; phrase score sums its words' round-9
    // ---- DECIMAL scores. Top-10 phrases (score desc, text asc). The
    // ---- degree-based partner of q264's TextRank. -------------------
    Q("q340_rake_keywords",
      (s, dir) => {
        // loadParallel: the explode otherwise runs inside the
        // single-task row-group scan (guide §2.5 input skew)
        val toks = Tables.loadParallel(s, dir, "documents")
          .select(col("doc_id"), posexplode(split(col("text"), " ")))
          .toDF("doc_id", "p", "w")
          .where(length(col("w")) > 0)
          .withColumn("stp", col("w").isin(Stopwords: _*).cast("long"))
        val runs = toks
          .withColumn("run", sum(col("stp")).over(
            Window.partitionBy("doc_id").orderBy("p")
              .rowsBetween(Window.unboundedPreceding, 0)))
          .where(col("stp") === 0L)
          .select(col("doc_id"), col("run"), col("p"), col("w"))
          .localCheckpoint(true)
        val phraseLen = runs.groupBy("doc_id", "run")
          .agg(count(lit(1)).as("plen"))
        val wordStats = runs.join(phraseLen, Seq("doc_id", "run"))
          .groupBy("w")
          .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
          .select(col("w"),
            round(col("deg").cast("double") / col("freq").cast("double"), 9)
              .cast(DecimalType(38, 9)).as("wscore"))
        val phrases = runs.groupBy("doc_id", "run")
          .agg(array_join(transform(array_sort(
              collect_list(struct(col("p"), col("w")))),
            x => x.getField("w")), " ").as("phrase"))
        val instScores = runs.join(wordStats, "w")
          .groupBy("doc_id", "run")
          .agg(sum(col("wscore")).as("iscore"))
        phrases.join(instScores, Seq("doc_id", "run"))
          .groupBy("phrase")
          .agg(count(lit(1)).as("n_occurrences"),
            round(max(col("iscore")).cast("double"), 6).as("score"))
          .orderBy(desc("score"), asc("phrase")).limit(10)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, CAST(u.p AS BIGINT) AS p, u.w,
             |    CASE WHEN u.w IN ('the', 'a') THEN 1 ELSE 0 END AS stp
             |  FROM (SELECT doc_id, string_split(text, ' ') AS arr
             |        FROM documents),
             |    LATERAL (SELECT UNNEST(arr) AS w,
             |      generate_subscripts(arr, 1) AS p) u
             |  WHERE LEN(u.w) > 0
             |), runs AS MATERIALIZED (
             |  SELECT doc_id, run, p, w FROM (
             |    SELECT doc_id, p, w, stp,
             |      SUM(stp) OVER (PARTITION BY doc_id ORDER BY p
             |        ROWS UNBOUNDED PRECEDING) AS run
             |    FROM toks)
             |  WHERE stp = 0
             |), phrase_len AS (
             |  SELECT doc_id, run, CAST(COUNT(*) AS BIGINT) AS plen
             |  FROM runs GROUP BY 1, 2
             |), word_stats AS (
             |  SELECT w,
             |    CAST(ROUND(CAST(SUM(plen) AS DOUBLE)
             |      / CAST(COUNT(*) AS DOUBLE), 9) AS DECIMAL(38, 9))
             |      AS wscore
             |  FROM runs JOIN phrase_len USING (doc_id, run)
             |  GROUP BY w
             |), phrases AS (
             |  SELECT doc_id, run, string_agg(w, ' ' ORDER BY p) AS phrase
             |  FROM runs GROUP BY 1, 2
             |), inst_scores AS (
             |  SELECT doc_id, run, SUM(wscore) AS iscore
             |  FROM runs JOIN word_stats USING (w)
             |  GROUP BY 1, 2
             |)
             |SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
             |  ROUND(CAST(MAX(iscore) AS DOUBLE), 6) AS score
             |FROM phrases JOIN inst_scores USING (doc_id, run)
             |GROUP BY phrase
             |ORDER BY score DESC, phrase LIMIT 10""".stripMargin))
  )
}
