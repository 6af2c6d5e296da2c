package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Forty-first analytics pack (round 6, session 9): classifier /
  * estimator evaluation statistics — McNemar's paired test, average
  * precision, the Murphy decomposition of the Brier score, the
  * log-rank two-sample survival test, and the Chao1 vocabulary
  * richness estimator.
  *
  * Exactness discipline unchanged: every contingency count, rank,
  * and at-risk count is an exact BIGINT; per-step rational terms are
  * rounded to a fixed decimal grid and summed as DECIMAL (the q150 ln
  * grain), so each final statistic is one fixed double tree in both
  * engines. */
object Analytics41 {

  /** q312/q313 probability grids (1e-9 for rank terms, 1e-6 for
    * forecast probabilities): integer `div` keeps both engines on the
    * same lattice. */
  private val RankGrid = 1000000000L
  private val ProbGrid = 1000000L

  val all: Seq[Q] = Seq(

    // ---- McNemar's paired test: two cheap urgency classifiers on the
    // ---- same orders — A: total price above the corpus floor-mean
    // ---- (integer cents), B: at least four line items. b/c are the
    // ---- exact discordant counts; the statistic (with and without
    // ---- continuity correction) is one division at the end. The
    // ---- paired partner of the marginal q215 ROC view. --------------
    Q("q311_mcnemar",
      (s, dir) => {
        val o = t(s, dir, "orders")
          .join(t(s, dir, "lineitem").groupBy(col("l_orderkey"))
              .agg(count(lit(1)).as("nl")),
            col("o_orderkey") === col("l_orderkey"), "left")
          .select(round(col("o_totalprice") * 100).cast("long").as("cents"),
            coalesce(col("nl"), lit(0L)).as("nl"),
            col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
              .as("y"))
        val thr = o.agg(expr("sum(cents) div count(1)").as("thr"))
        o.crossJoin(broadcast(thr))
          .select(((col("cents") > col("thr")).cast("long") === col("y"))
              .cast("long").as("oka"),
            ((col("nl") >= 4L).cast("long") === col("y")).cast("long")
              .as("okb"))
          .agg(count(lit(1)).as("n"),
            sum(col("oka") * (lit(1L) - col("okb"))).as("b"),
            sum((lit(1L) - col("oka")) * col("okb")).as("c"))
          .select(col("n"), col("b"), col("c"),
            round((col("b") - col("c")).cast("double") *
              (col("b") - col("c")).cast("double") /
              (col("b") + col("c")).cast("double"), 6).as("chi2"),
            round((abs(col("b") - col("c")) - lit(1L)).cast("double") *
              (abs(col("b") - col("c")) - lit(1L)).cast("double") /
              (col("b") + col("c")).cast("double"), 6).as("chi2_cc"))
      },
      Some("""WITH o AS (
             |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             |    COALESCE(nl, 0) AS nl,
             |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |      THEN 1 ELSE 0 END AS y
             |  FROM orders
             |  LEFT JOIN (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS nl
             |             FROM lineitem GROUP BY 1) li
             |    ON l_orderkey = o_orderkey
             |), thr AS (
             |  SELECT SUM(cents) // COUNT(*) AS thr FROM o
             |), paired AS (
             |  SELECT
             |    CASE WHEN (CASE WHEN cents > thr THEN 1 ELSE 0 END) = y
             |      THEN 1 ELSE 0 END AS oka,
             |    CASE WHEN (CASE WHEN nl >= 4 THEN 1 ELSE 0 END) = y
             |      THEN 1 ELSE 0 END AS okb
             |  FROM o CROSS JOIN thr
             |)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(oka * (1 - okb)) AS BIGINT) AS b,
             |  CAST(SUM((1 - oka) * okb) AS BIGINT) AS c,
             |  ROUND(CAST(SUM(oka * (1 - okb)) - SUM((1 - oka) * okb)
             |      AS DOUBLE)
             |    * CAST(SUM(oka * (1 - okb)) - SUM((1 - oka) * okb)
             |      AS DOUBLE)
             |    / CAST(SUM(oka * (1 - okb)) + SUM((1 - oka) * okb)
             |      AS DOUBLE), 6) AS chi2,
             |  ROUND(CAST(ABS(SUM(oka * (1 - okb)) - SUM((1 - oka) * okb))
             |      - 1 AS DOUBLE)
             |    * CAST(ABS(SUM(oka * (1 - okb)) - SUM((1 - oka) * okb))
             |      - 1 AS DOUBLE)
             |    / CAST(SUM(oka * (1 - okb)) + SUM((1 - oka) * okb)
             |      AS DOUBLE), 6) AS chi2_cc
             |FROM paired""".stripMargin)),

    // ---- average precision of price-ranks-urgency: AP = (1/P) Σ_k
    // ---- rel_k · prec@k over the deterministic total order (score
    // ---- desc, key). Each prec@k is floored onto the 1e-9 integer
    // ---- grid — identical lattice points in both engines — and the
    // ---- grid sum divides once. Completes the q215/q216/q307
    // ---- ranking-evaluation trio with the PR-curve summary. ---------
    Q("q312_avg_precision",
      (s, dir) => {
        // rank + running positives in ONE distributed prefix-sum pass
        // (orders-grain: a global row_number/cumsum window would
        // single-task the sort)
        val ranked = graft.operators.Ranks.withPrefixSums(
          t(s, dir, "orders")
            .select(col("o_orderpriority").isin("1-URGENT", "2-HIGH")
                .cast("long").as("y"),
              col("o_totalprice"), col("o_orderkey")),
          Seq.empty, Seq(desc("o_totalprice"), asc("o_orderkey")),
          Seq((lit(1L), "rank", "_n"), (col("y"), "cum_pos", "_tp")))
        ranked.agg(count(lit(1)).as("n"), sum(col("y")).as("positives"),
            sum(expr(s"(cum_pos * $RankGrid) div rank") * col("y"))
              .as("grid_sum"),
            max(when(col("rank") === 100L, col("cum_pos"))).as("pos_at_100"))
          .select(col("n"), col("positives"),
            round(col("grid_sum").cast("double") /
              (col("positives") * lit(RankGrid)).cast("double"), 6)
              .as("avg_precision"),
            round(col("pos_at_100").cast("double") / 100.0, 6)
              .as("precision_at_100"))
      },
      Some(s"""WITH ranked AS (
             |  SELECT y, rank,
             |    SUM(y) OVER (ORDER BY rank ROWS UNBOUNDED PRECEDING)
             |      AS cum_pos
             |  FROM (
             |    SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |        THEN 1 ELSE 0 END AS y,
             |      ROW_NUMBER() OVER (ORDER BY o_totalprice DESC,
             |        o_orderkey) AS rank
             |    FROM orders)
             |)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(y) AS BIGINT) AS positives,
             |  ROUND(CAST(SUM((cum_pos * $RankGrid) // rank * y) AS DOUBLE)
             |    / CAST(SUM(y) * $RankGrid AS DOUBLE), 6) AS avg_precision,
             |  ROUND(CAST(MAX(CASE WHEN rank = 100 THEN cum_pos END)
             |    AS DOUBLE) / 100.0, 6) AS precision_at_100
             |FROM ranked""".stripMargin)),

    // ---- Murphy decomposition of the Brier score: forecast = the
    // ---- even-orderkey train split's urgency rate per market segment
    // ---- (floored onto the 1e-6 grid), scored on the odd test split.
    // ---- Brier's numerator is an exact BIGINT sum of squared
    // ---- micro-unit residuals; reliability / resolution terms are
    // ---- one double tree per segment (≤5 rows) rounded to 12 dp and
    // ---- summed as DECIMAL; the REL − RES + UNC identity is emitted
    // ---- for the audit. ---------------------------------------------
    Q("q313_brier_decomp",
      (s, dir) => {
        val base = t(s, dir, "orders")
          .join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment").as("seg"))),
            col("o_custkey") === col("c_custkey"))
          .select(col("seg"),
            col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
              .as("y"),
            (col("o_orderkey") % 2 === 0).as("even"))
        val train = base.where(col("even")).groupBy("seg")
          .agg(expr(s"(${ProbGrid} * sum(y)) div count(1)").as("p_micro"))
        val test = base.where(!col("even"))
          .join(broadcast(train), "seg")
        val perSeg = test.groupBy("seg", "p_micro")
          .agg(count(lit(1)).as("n_g"), sum(col("y")).as("pos_g"),
            sum((col("p_micro") - lit(ProbGrid) * col("y")) *
              (col("p_micro") - lit(ProbGrid) * col("y"))).as("sq_g"))
          .localCheckpoint(true)
        val tot = perSeg.agg(sum(col("n_g")).as("n"),
          sum(col("pos_g")).as("pos"), sum(col("sq_g")).as("sq"))
        perSeg.crossJoin(broadcast(tot))
          .select(col("n"), col("pos"), col("sq"),
            round(pow(col("p_micro").cast("double") / lit(ProbGrid.toDouble) -
              col("pos_g").cast("double") / col("n_g").cast("double"), 2) *
              col("n_g").cast("double"), 12).cast(DecimalType(38, 12))
              .as("rel_t"),
            round(pow(col("pos_g").cast("double") / col("n_g").cast("double") -
              col("pos").cast("double") / col("n").cast("double"), 2) *
              col("n_g").cast("double"), 12).cast(DecimalType(38, 12))
              .as("res_t"))
          .groupBy("n", "pos", "sq")
          .agg(sum(col("rel_t")).as("rel_s"), sum(col("res_t")).as("res_s"))
          .select(col("n"),
            round(col("sq").cast("double") /
              (col("n").cast("double") * lit(1e12)), 6).as("brier"),
            round(col("rel_s").cast("double") / col("n").cast("double"), 6)
              .as("reliability"),
            round(col("res_s").cast("double") / col("n").cast("double"), 6)
              .as("resolution"),
            round((col("pos").cast("double") / col("n").cast("double")) *
              (lit(1.0) - col("pos").cast("double") / col("n").cast("double")),
              6).as("uncertainty"),
            round(col("rel_s").cast("double") / col("n").cast("double") -
              col("res_s").cast("double") / col("n").cast("double") +
              (col("pos").cast("double") / col("n").cast("double")) *
              (lit(1.0) - col("pos").cast("double") / col("n").cast("double")),
              6).as("identity_check"))
      },
      Some(s"""WITH base AS (
             |  SELECT c_mktsegment AS seg,
             |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |      THEN 1 ELSE 0 END AS y,
             |    o_orderkey % 2 = 0 AS even
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |), train AS (
             |  SELECT seg, ($ProbGrid * SUM(y)) // COUNT(*) AS p_micro
             |  FROM base WHERE even GROUP BY seg
             |), per_seg AS MATERIALIZED (
             |  SELECT seg, p_micro, CAST(COUNT(*) AS BIGINT) AS n_g,
             |    CAST(SUM(y) AS BIGINT) AS pos_g,
             |    CAST(SUM((p_micro - $ProbGrid * y)
             |      * (p_micro - $ProbGrid * y)) AS BIGINT) AS sq_g
             |  FROM base JOIN train USING (seg)
             |  WHERE NOT even
             |  GROUP BY 1, 2
             |), tot AS (
             |  SELECT CAST(SUM(n_g) AS BIGINT) AS n,
             |    CAST(SUM(pos_g) AS BIGINT) AS pos,
             |    CAST(SUM(sq_g) AS BIGINT) AS sq
             |  FROM per_seg
             |), terms AS (
             |  SELECT n, pos, sq,
             |    CAST(ROUND(POW(CAST(p_micro AS DOUBLE) / $ProbGrid.0
             |        - CAST(pos_g AS DOUBLE) / CAST(n_g AS DOUBLE), 2)
             |      * CAST(n_g AS DOUBLE), 12) AS DECIMAL(38, 12)) AS rel_t,
             |    CAST(ROUND(POW(CAST(pos_g AS DOUBLE) / CAST(n_g AS DOUBLE)
             |        - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE), 2)
             |      * CAST(n_g AS DOUBLE), 12) AS DECIMAL(38, 12)) AS res_t
             |  FROM per_seg CROSS JOIN tot
             |), agg AS (
             |  SELECT n, pos, sq, SUM(rel_t) AS rel_s, SUM(res_t) AS res_s
             |  FROM terms GROUP BY 1, 2, 3
             |)
             |SELECT n,
             |  ROUND(CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1e12), 6)
             |    AS brier,
             |  ROUND(CAST(rel_s AS DOUBLE) / CAST(n AS DOUBLE), 6)
             |    AS reliability,
             |  ROUND(CAST(res_s AS DOUBLE) / CAST(n AS DOUBLE), 6)
             |    AS resolution,
             |  ROUND((CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
             |    * (1.0 - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)), 6)
             |    AS uncertainty,
             |  ROUND(CAST(rel_s AS DOUBLE) / CAST(n AS DOUBLE)
             |    - CAST(res_s AS DOUBLE) / CAST(n AS DOUBLE)
             |    + (CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
             |    * (1.0 - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)), 6)
             |    AS identity_check
             |FROM agg""".stripMargin)),

    // ---- log-rank test between user-id-parity cohorts on signup →
    // ---- first-purchase survival (q150's durations, two samples).
    // ---- The at-risk ladder per group is an exact BIGINT window over
    // ---- the union of event times and a zero-filled grid; each event
    // ---- time's expected-count and variance terms are rounded to the
    // ---- 1e-9 grid and DECIMAL-summed, so O − E and the χ² are one
    // ---- double tree. -----------------------------------------------
    Q("q314_logrank",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val horizon = ev.agg(max(to_date(col("ts"))).as("maxday"))
        val durs = ev.groupBy("user_id")
          .agg(min(when(col("event_type") === "signup", to_date(col("ts"))))
              .as("sday"),
            min(when(col("event_type") === "purchase", to_date(col("ts"))))
              .as("pday"))
          .where(col("sday").isNotNull)
          .crossJoin(broadcast(horizon))
          .select((col("user_id") % 2).cast("long").as("g"),
            when(col("pday") >= col("sday"),
              datediff(col("pday"), col("sday"))).as("tev"),
            col("sday"), col("maxday"))
          .select(col("g"),
            coalesce(col("tev"), datediff(col("maxday"), col("sday")))
              .cast("long").as("t"),
            col("tev").isNotNull.as("observed"))
        val steps = durs.groupBy("t", "g").agg(
          sum(when(col("observed"), 1L).otherwise(0L)).as("d"),
          sum(when(col("observed"), 0L).otherwise(1L)).as("c"))
          .localCheckpoint(true)
        val grid = steps.groupBy("t").agg(sum(col("d")).as("dt"))
          .where(col("dt") > 0).select(col("t"))
        val filler = grid.select(col("t"),
            explode(array(lit(0L), lit(1L))).as("g"),
            lit(0L).as("d"), lit(0L).as("c"))
        val merged = steps.unionByName(filler)
          .groupBy("t", "g")
          .agg(sum(col("d")).as("d"), sum(col("c")).as("c"))
        val wg = Window.partitionBy("g").orderBy("t")
        val atRisk = merged
          .withColumn("removed_before",
            coalesce(sum(col("d") + col("c")).over(
              wg.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("tot_g",
            sum(col("d") + col("c")).over(Window.partitionBy("g")))
          .select(col("t"), col("g"), col("d"),
            (col("tot_g") - col("removed_before")).as("n_g"))
        val perT = atRisk.groupBy("t").agg(
            sum(when(col("g") === 1L, col("d")).otherwise(0L)).as("d1"),
            sum(when(col("g") === 1L, col("n_g")).otherwise(0L)).as("n1"),
            sum(col("d")).as("dt"), sum(col("n_g")).as("nt"))
          .where(col("dt") > 0)
        perT
          .select(col("d1"),
            round(col("dt").cast("double") * col("n1").cast("double") /
              col("nt").cast("double"), 9).cast(DecimalType(38, 9))
              .as("e1_t"),
            when(col("nt") > 1,
              round(col("dt").cast("double") * col("n1").cast("double") *
                (col("nt") - col("n1")).cast("double") *
                (col("nt") - col("dt")).cast("double") /
                (col("nt").cast("double") * col("nt").cast("double") *
                  (col("nt") - 1L).cast("double")), 9))
              .otherwise(lit(0.0)).cast(DecimalType(38, 9)).as("v_t"))
          .agg(sum(col("d1")).as("o1"), sum(col("e1_t")).as("e1"),
            sum(col("v_t")).as("v"))
          .select(col("o1"),
            round(col("e1").cast("double"), 6).as("e1"),
            round(col("v").cast("double"), 6).as("variance"),
            round((col("o1").cast("double") - col("e1").cast("double")) *
              (col("o1").cast("double") - col("e1").cast("double")) /
              col("v").cast("double"), 6).as("chi2"))
      },
      Some("""WITH horizon AS (
             |  SELECT MAX(CAST(ts AS DATE)) AS maxday FROM events
             |), per_user AS (
             |  SELECT user_id,
             |    MIN(CASE WHEN event_type = 'signup'
             |      THEN CAST(ts AS DATE) END) AS sday,
             |    MIN(CASE WHEN event_type = 'purchase'
             |      THEN CAST(ts AS DATE) END) AS pday
             |  FROM events GROUP BY user_id
             |), durs AS (
             |  SELECT user_id % 2 AS g,
             |    CAST(COALESCE(CASE WHEN pday >= sday THEN pday - sday END,
             |      maxday - sday) AS BIGINT) AS t,
             |    (CASE WHEN pday >= sday THEN pday - sday END) IS NOT NULL
             |      AS observed
             |  FROM per_user CROSS JOIN horizon
             |  WHERE sday IS NOT NULL
             |), steps AS MATERIALIZED (
             |  SELECT t, g,
             |    CAST(SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT)
             |      AS d,
             |    CAST(SUM(CASE WHEN observed THEN 0 ELSE 1 END) AS BIGINT)
             |      AS c
             |  FROM durs GROUP BY 1, 2
             |), grid AS (
             |  SELECT t FROM steps GROUP BY t HAVING SUM(d) > 0
             |), filler AS (
             |  SELECT t, g, CAST(0 AS BIGINT) AS d, CAST(0 AS BIGINT) AS c
             |  FROM grid CROSS JOIN (SELECT UNNEST([0, 1]) AS g)
             |), merged AS (
             |  SELECT t, g, CAST(SUM(d) AS BIGINT) AS d,
             |    CAST(SUM(c) AS BIGINT) AS c
             |  FROM (SELECT * FROM steps UNION ALL SELECT * FROM filler)
             |  GROUP BY 1, 2
             |), at_risk AS (
             |  SELECT t, g, d,
             |    SUM(d + c) OVER (PARTITION BY g)
             |      - COALESCE(SUM(d + c) OVER (PARTITION BY g ORDER BY t
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS n_g
             |  FROM merged
             |), per_t AS (
             |  SELECT t,
             |    CAST(SUM(CASE WHEN g = 1 THEN d ELSE 0 END) AS BIGINT)
             |      AS d1,
             |    CAST(SUM(CASE WHEN g = 1 THEN n_g ELSE 0 END) AS BIGINT)
             |      AS n1,
             |    CAST(SUM(d) AS BIGINT) AS dt,
             |    CAST(SUM(n_g) AS BIGINT) AS nt
             |  FROM at_risk GROUP BY t HAVING SUM(d) > 0
             |), terms AS (
             |  SELECT d1,
             |    CAST(ROUND(CAST(dt AS DOUBLE) * CAST(n1 AS DOUBLE)
             |      / CAST(nt AS DOUBLE), 9) AS DECIMAL(38, 9)) AS e1_t,
             |    CAST(CASE WHEN nt > 1 THEN
             |      ROUND(CAST(dt AS DOUBLE) * CAST(n1 AS DOUBLE)
             |        * CAST(nt - n1 AS DOUBLE) * CAST(nt - dt AS DOUBLE)
             |        / (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE)
             |          * CAST(nt - 1 AS DOUBLE)), 9)
             |      ELSE 0.0 END AS DECIMAL(38, 9)) AS v_t
             |  FROM per_t
             |)
             |SELECT CAST(SUM(d1) AS BIGINT) AS o1,
             |  ROUND(CAST(SUM(e1_t) AS DOUBLE), 6) AS e1,
             |  ROUND(CAST(SUM(v_t) AS DOUBLE), 6) AS variance,
             |  ROUND((CAST(SUM(d1) AS DOUBLE) - CAST(SUM(e1_t) AS DOUBLE))
             |    * (CAST(SUM(d1) AS DOUBLE) - CAST(SUM(e1_t) AS DOUBLE))
             |    / CAST(SUM(v_t) AS DOUBLE), 6) AS chi2
             |FROM terms""".stripMargin)),

    // ---- Chao1 vocabulary richness: distinct words D, singletons f1,
    // ---- doubletons f2 from exact token counts; the bias-corrected
    // ---- estimator D + f1(f1−1)/(2(f2+1)) (defined at f2 = 0) prices
    // ---- the unseen vocabulary from abundance — the frequency-based
    // ---- partner of q309's two-capture Chapman estimate and q234's
    // ---- Good-Turing mass. ------------------------------------------
    Q("q315_chao1",
      (s, dir) => {
        val freq = t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
          .where(length(col("w")) > 0)
          .groupBy("w").agg(count(lit(1)).as("cnt"))
        freq.agg(count(lit(1)).as("d"),
            sum(when(col("cnt") === 1L, 1L).otherwise(0L)).as("f1"),
            sum(when(col("cnt") === 2L, 1L).otherwise(0L)).as("f2"),
            sum(col("cnt")).as("n_tokens"))
          .select(col("d"), col("f1"), col("f2"), col("n_tokens"),
            round(col("d").cast("double") +
              col("f1").cast("double") * (col("f1") - 1L).cast("double") /
              (lit(2.0) * (col("f2") + 1L).cast("double")), 6).as("chao1"),
            round(col("d").cast("double") /
              (col("d").cast("double") +
                col("f1").cast("double") * (col("f1") - 1L).cast("double") /
                (lit(2.0) * (col("f2") + 1L).cast("double"))), 6)
              .as("coverage"),
            round(lit(1.0) - col("f1").cast("double") /
              col("n_tokens").cast("double"), 6).as("gt_coverage"))
      },
      Some("""WITH freq AS (
             |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
             |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
             |  WHERE len(w) > 0
             |  GROUP BY w
             |), agg AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS d,
             |    CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS f1,
             |    CAST(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS f2,
             |    CAST(SUM(cnt) AS BIGINT) AS n_tokens
             |  FROM freq
             |)
             |SELECT d, f1, f2, n_tokens,
             |  ROUND(CAST(d AS DOUBLE)
             |    + CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE)
             |    / (2.0 * CAST(f2 + 1 AS DOUBLE)), 6) AS chao1,
             |  ROUND(CAST(d AS DOUBLE) / (CAST(d AS DOUBLE)
             |    + CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE)
             |    / (2.0 * CAST(f2 + 1 AS DOUBLE))), 6) AS coverage,
             |  ROUND(1.0 - CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
             |    AS gt_coverage
             |FROM agg""".stripMargin))
  )
}
