package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Eighth analytics pack (round 6, session 5): equi-width histograms,
  * Holt double-exponential smoothing, signup-cohort retention matrix,
  * PPJoin-style prefix-filtered set-similarity join, and a Kaplan-Meier
  * survival curve with right censoring. Determinism: counts and money
  * stay integral/decimal; every double chain is the identical
  * expression in both engines; transcendental sums use the q82/q116
  * discipline (per-term round to 9 dp, DECIMAL accumulation). */
object Analytics8 {

  private val HistBins = 20
  /** Holt smoothing coefficients (level / trend). */
  private val HoltAlpha = 0.3
  private val HoltBeta = 0.1
  /** PPJoin Jaccard threshold. */
  private val PpTau = 0.85

  val all: Seq[Q] = Seq(

    // ---- equi-width histogram per group: global [min,max] from one
    // ---- 1-row agg broadcast back, bin assignment map-side, counts
    // ---- integral. The degenerate zero-width guard keeps single-value
    // ---- domains in bin 0 instead of dividing by zero ---------------
    Q("q146_histogram",
      (s, dir) => {
        val mm = t(s, dir, "orders")
          .agg(min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
        val w = (col("hi") - col("lo")) / lit(HistBins)
        val bin = when(w > 0,
          least(floor((col("o_totalprice") - col("lo")) / w), lit((HistBins - 1).toLong)))
          .otherwise(lit(0L)).cast("int")
        t(s, dir, "orders").crossJoin(broadcast(mm))
          .select(col("o_orderstatus").as("status"), bin.as("bin"),
            col("lo"), w.as("w"))
          .groupBy("status", "bin")
          .agg(count(lit(1)).as("n"),
            round(max(col("lo")) + col("bin") * max(col("w")), 4).as("bin_lo"))
          .orderBy("status", "bin")
      },
      Some(s"""WITH mm AS (
             |  SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
             |), b AS (
             |  SELECT o_orderstatus AS status,
             |    CAST(CASE WHEN (hi - lo) / $HistBins > 0
             |      THEN LEAST(FLOOR((o_totalprice - lo) / ((hi - lo) / $HistBins)),
             |                 ${HistBins - 1})
             |      ELSE 0 END AS INT) AS bin,
             |    lo, (hi - lo) / $HistBins AS w
             |  FROM orders CROSS JOIN mm
             |)
             |SELECT status, bin, CAST(COUNT(*) AS BIGINT) AS n,
             |  ROUND(MAX(lo) + bin * MAX(w), 4) AS bin_lo
             |FROM b GROUP BY status, bin
             |ORDER BY status, bin""".stripMargin)),

    // ---- Holt double-exponential smoothing (level + trend) over the
    // ---- monthly revenue series per status: the series collapses to
    // ---- one bounded array per group (months, not rows), and the
    // ---- recurrence folds LEFT-TO-RIGHT inside one task via the
    // ---- aggregate() higher-order function — sequential math on
    // ---- grouped-small data, distributed across groups. The oracle
    // ---- unrolls the identical recurrence as a recursive CTE --------
    Q("q147_holt_smoothing",
      (s, dir) => {
        val daily = monthlyRevenue(t(s, dir, "orders"), byStatus = true)
          .select(col("status"), col("mon"), col("rev").cast("double").as("rev"))
        daily.groupBy("status")
          .agg(array_sort(collect_list(struct(col("mon"), col("rev")))).as("xs"))
          .select(col("status"), size(col("xs")).as("n_months"),
            expr(s"""aggregate(
                    |  slice(xs, 2, size(xs) - 1),
                    |  named_struct('l', element_at(xs, 1).rev,
                    |               'b', CAST(0.0 AS DOUBLE)),
                    |  (acc, x) -> named_struct(
                    |    'l', $HoltAlpha * x.rev + ${1 - HoltAlpha} * (acc.l + acc.b),
                    |    'b', $HoltBeta * (($HoltAlpha * x.rev + ${1 - HoltAlpha} * (acc.l + acc.b)) - acc.l)
                    |         + ${1 - HoltBeta} * acc.b))""".stripMargin).as("st"))
          .select(col("status"), col("n_months"),
            round(col("st.l"), 4).as("level"),
            round(col("st.b"), 4).as("trend"),
            round(col("st.l") + lit(3.0) * col("st.b"), 4).as("forecast3"))
          .orderBy("status")
      },
      Some(s"""WITH RECURSIVE daily AS (
             |  SELECT o_orderstatus AS status,
             |    CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS rev
             |  FROM orders GROUP BY 1, 2
             |), seq AS (
             |  SELECT status, rev,
             |    ROW_NUMBER() OVER (PARTITION BY status ORDER BY mon) AS rn
             |  FROM daily
             |), rec AS (
             |  SELECT status, rn, rev AS l, CAST(0.0 AS DOUBLE) AS b
             |  FROM seq WHERE rn = 1
             |  UNION ALL
             |  SELECT s.status, s.rn,
             |    $HoltAlpha * s.rev + ${1 - HoltAlpha} * (r.l + r.b),
             |    $HoltBeta * (($HoltAlpha * s.rev + ${1 - HoltAlpha} * (r.l + r.b)) - r.l)
             |      + ${1 - HoltBeta} * r.b
             |  FROM rec r JOIN seq s ON s.status = r.status AND s.rn = r.rn + 1
             |)
             |SELECT status, CAST(rn AS INT) AS n_months,
             |  ROUND(l, 4) AS level, ROUND(b, 4) AS trend,
             |  ROUND(l + 3.0 * b, 4) AS forecast3
             |FROM rec
             |QUALIFY ROW_NUMBER() OVER (PARTITION BY status ORDER BY rn DESC) = 1
             |ORDER BY status""".stripMargin)),

    // ---- signup-cohort retention matrix: first-active week is the
    // ---- cohort, each later active week lands at its week offset.
    // ---- Distinct (user, week) first [one shuffle], min-week per user
    // ---- [second, key-local], then (user, offset) is unique by
    // ---- construction so the matrix needs no third distinct ---------
    Q("q148_cohort_matrix",
      (s, dir) => {
        val uw = t(s, dir, "events")
          .select(col("user_id"),
            to_date(date_trunc("week", col("ts"))).as("week"))
          .distinct()
        val cohort = uw.groupBy("user_id").agg(min(col("week")).as("cohort"))
        uw.join(cohort, Seq("user_id"))
          .select(col("cohort"),
            (datediff(col("week"), col("cohort")) / lit(7)).cast("int").as("week_offset"))
          .groupBy("cohort", "week_offset")
          .agg(count(lit(1)).as("users"))
          .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
            col("week_offset"), col("users"))
          .orderBy("cohort", "week_offset")
      },
      Some("""WITH uw AS (
             |  SELECT DISTINCT user_id,
             |    CAST(date_trunc('week', ts) AS DATE) AS week
             |  FROM events
             |), cohort AS (
             |  SELECT user_id, MIN(week) AS cohort FROM uw GROUP BY user_id
             |)
             |SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
             |  CAST((uw.week - c.cohort) / 7 AS INT) AS week_offset,
             |  CAST(COUNT(*) AS BIGINT) AS users
             |FROM uw JOIN cohort c USING (user_id)
             |GROUP BY c.cohort, week_offset
             |ORDER BY cohort, week_offset""".stripMargin)),

    // ---- PPJoin-style set-similarity join (Xiao et al. 2008): order
    // ---- each doc's distinct tokens rarest-first, index only the
    // ---- PREFIX a >= tau match must overlap (|x| - ceil(tau|x|) + 1
    // ---- tokens) — far fewer candidates than the full inverted index
    // ---- of q37/q138 — then verify exact Jaccard on candidates only.
    // ---- The frequency order concentrates the index on rare tokens,
    // ---- so posting lists stay short on a Zipf vocabulary -----------
    Q("q149_ppjoin_prefix",
      (s, dir) => {
        val toks = Tables.loadParallel(s, dir, "documents")
          .filter(col("doc_id") < 300)
          .select(col("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("tok"))
        val freq = toks.groupBy("tok").agg(count(lit(1)).as("f"))
        val ranked = toks.join(freq, Seq("tok"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("doc_id").orderBy(col("f"), col("tok"))))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
        val pref = ranked
          .where(col("rn") <= col("n") - ceil(lit(PpTau) * col("n")) + 1)
        val cand = pref.select(col("tok"), col("doc_id").as("id_a"))
          .join(pref.select(col("tok"), col("doc_id").as("id_b")), Seq("tok"))
          .where(col("id_a") < col("id_b"))
          .select("id_a", "id_b").distinct()
        val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val inter = cand
          .join(toks.select(col("doc_id").as("id_a"), col("tok")), Seq("id_a"))
          .join(toks.select(col("doc_id").as("id_b"), col("tok")), Seq("id_b", "tok"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("i"))
        val jac = col("i").cast("double") /
          (col("na") + col("nb") - col("i")).cast("double")
        inter
          .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")), Seq("id_a"))
          .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")), Seq("id_b"))
          .where(jac >= PpTau)
          .select(col("id_a"), col("id_b"), round(jac, 6).as("jaccard"))
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH toks AS (
             |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
             |  FROM documents WHERE doc_id < 300
             |), freq AS (
             |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS f FROM toks GROUP BY tok
             |), ranked AS (
             |  SELECT doc_id, tok,
             |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY f, tok) AS rn,
             |    COUNT(*) OVER (PARTITION BY doc_id) AS n
             |  FROM toks JOIN freq USING (tok)
             |), pref AS (
             |  SELECT doc_id, tok FROM ranked
             |  WHERE rn <= n - CEIL(CAST($PpTau AS DOUBLE) * n) + 1
             |), cand AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id
             |), sizes AS (
             |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY doc_id
             |), inter AS (
             |  SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS i
             |  FROM cand c
             |  JOIN toks x ON x.doc_id = c.id_a
             |  JOIN toks y ON y.doc_id = c.id_b AND y.tok = x.tok
             |  GROUP BY c.id_a, c.id_b
             |)
             |SELECT id_a, id_b,
             |  ROUND(CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE), 6) AS jaccard
             |FROM inter
             |JOIN sizes sa ON sa.doc_id = id_a
             |JOIN sizes sb ON sb.doc_id = id_b
             |WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= $PpTau
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- Kaplan-Meier survival (signup -> first purchase, right-
    // ---- censored at the observation horizon): per-user durations
    // ---- from two conditional-min aggs, then the product-limit
    // ---- estimator over the bounded day grid. The survival product is
    // ---- exp of a running sum of per-step ln(1 - d/n) terms, each
    // ---- rounded to 9 dp and accumulated as DECIMAL — the q82 ln
    // ---- grain, so the running product is order-free and engine-
    // ---- portable. The final window runs on <= horizon rows ---------
    Q("q150_km_survival",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val horizon = ev.agg(max(to_date(col("ts"))).as("maxday"))
        val perUser = ev
          .groupBy("user_id")
          .agg(min(when(col("event_type") === "signup", to_date(col("ts"))))
              .as("sday"),
            min(when(col("event_type") === "purchase", to_date(col("ts"))))
              .as("pday"))
          .where(col("sday").isNotNull)
          .crossJoin(broadcast(horizon))
          .select(
            when(col("pday") >= col("sday"), datediff(col("pday"), col("sday")))
              .as("tev"),
            col("sday"), col("maxday"))
          .select(coalesce(col("tev"), datediff(col("maxday"), col("sday")))
              .as("t"),
            col("tev").isNotNull.as("observed"))
        val steps = perUser.groupBy("t").agg(
          sum(when(col("observed"), 1L).otherwise(0L)).as("d"),
          sum(when(col("observed"), 0L).otherwise(1L)).as("c"))
        val wPrev = Window.orderBy("t")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wAll = Window.orderBy("t")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val wCur = Window.orderBy("t")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val n = sum(col("d") + col("c")).over(wAll) -
          coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L))
        steps
          .withColumn("n", n)
          .withColumn("lnterm",
            when(col("d") > 0,
              round(log(lit(1.0) - col("d").cast("double") / col("n")), 9))
              .otherwise(lit(0.0)).cast(DecimalType(38, 9)))
          .select(col("t").cast("int").as("t"), col("d"), col("c"), col("n"),
            round(exp(sum(col("lnterm")).over(wCur).cast("double")), 6)
              .as("survival"))
          .orderBy("t")
      },
      Some("""WITH horizon AS (
             |  SELECT MAX(CAST(ts AS DATE)) AS maxday FROM events
             |), per_user AS (
             |  SELECT user_id,
             |    MIN(CASE WHEN event_type = 'signup' THEN CAST(ts AS DATE) END) AS sday,
             |    MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END) AS pday
             |  FROM events GROUP BY user_id
             |), durs AS (
             |  SELECT
             |    COALESCE(CASE WHEN pday >= sday THEN pday - sday END,
             |             maxday - sday) AS t,
             |    (CASE WHEN pday >= sday THEN pday - sday END) IS NOT NULL AS observed
             |  FROM per_user CROSS JOIN horizon
             |  WHERE sday IS NOT NULL
             |), steps AS (
             |  SELECT t,
             |    CAST(SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT) AS d,
             |    CAST(SUM(CASE WHEN observed THEN 0 ELSE 1 END) AS BIGINT) AS c
             |  FROM durs GROUP BY t
             |), risk AS (
             |  SELECT t, d, c,
             |    CAST(SUM(d + c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND UNBOUNDED FOLLOWING)
             |    - COALESCE(SUM(d + c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n
             |  FROM steps
             |), terms AS (
             |  SELECT t, d, c, n,
             |    CAST(CASE WHEN d > 0
             |      THEN ROUND(ln(1.0 - CAST(d AS DOUBLE) / n), 9)
             |      ELSE 0.0 END AS DECIMAL(38,9)) AS lnterm
             |  FROM risk
             |)
             |SELECT CAST(t AS INT) AS t, d, c, n,
             |  ROUND(exp(CAST(SUM(lnterm) OVER (ORDER BY t ROWS BETWEEN
             |    UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)), 6) AS survival
             |FROM terms
             |ORDER BY t""".stripMargin)))
}
