package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Twenty-first analytics pack (round 6, session 6): sliding-window
  * distinct counts from MERGED per-day HLL sketch states (the
  * AggregatingMergeTree windowed-merge shape), and a deterministic
  * greedy argmax decode over the cached trigram LM (generation audit
  * of the q89 model artifact). */
object Analytics21 {

  /** Trailing lag in days: each window spans [d - lag, d] = lag+1 days. */
  private val WindowLagDays = 6
  private val DecodeLen = 12

  val all: Seq[Q] = Seq(

    // ---- trailing-7-day distinct users per day, computed by MERGING
    // ---- per-day HLL sketch states (hll_sketch_agg once per day,
    // ---- hll_union_agg across each window) — never re-scanning raw
    // ---- events per window, which is the whole point of landing
    // ---- mergeable states: at 100 TB each day's state is a few KB and
    // ---- windows are state-unions, not data scans. The hash-checked
    // ---- columns are the EXACT counts + an estimate-within-bound
    // ---- flag (q24/q86 sketch-oracle pattern) ------------------------
    Q("q209_sliding_distinct",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(dayofmonth(col("ts")).cast("long").as("d"), col("user_id"))
        val states = ev.groupBy("d")
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
        val spine = states.select(col("d").as("wday"))
        val merged = spine.join(states,
            col("d").between(col("wday") - WindowLagDays, col("wday")))
          .groupBy("wday")
          .agg(count(lit(1)).as("n_days"),
            hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        val exact = spine.join(ev.select(col("d"), col("user_id")).distinct(),
            col("d").between(col("wday") - WindowLagDays, col("wday")))
          .groupBy("wday")
          .agg(countDistinct(col("user_id")).as("exact_users"))
        exact.join(merged, Seq("wday"))
          .select(col("wday").as("day"), col("n_days"), col("exact_users"),
            (abs(col("est") - col("exact_users").cast("double")) /
              col("exact_users").cast("double") <= 0.08).as("est_ok"))
          .orderBy("day")
      },
      Some(s"""WITH ev AS MATERIALIZED (
             |  SELECT DISTINCT CAST(EXTRACT(day FROM ts) AS BIGINT) AS d, user_id
             |  FROM events
             |), spine AS (SELECT DISTINCT d AS wday FROM ev),
             |days AS (SELECT DISTINCT d FROM ev)
             |SELECT s.wday AS day,
             |  CAST((SELECT COUNT(*) FROM days
             |        WHERE d BETWEEN s.wday - $WindowLagDays AND s.wday) AS BIGINT)
             |    AS n_days,
             |  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS exact_users,
             |  TRUE AS est_ok
             |FROM spine s JOIN ev e ON e.d BETWEEN s.wday - $WindowLagDays AND s.wday
             |GROUP BY s.wday
             |ORDER BY day""".stripMargin)),

    // ---- greedy argmax decode from the trigram artifact (the audit
    // ---- that the trained LM generates plausible high-frequency
    // ---- continuations): seed with the modal bigram, then 10 steps of
    // ---- argmax P(w | u, v) with lexical tie-break — fully
    // ---- deterministic, so the oracle replays it with a recursive CTE
    // ---- whose per-step argmax is a NOT EXISTS anti-join. Each Spark
    // ---- step probes the CACHED trigram table with literal context
    // ---- (q121 collect-and-drive pattern, bounded by DecodeLen) ------
    Q("q210_lm_greedy_decode",
      (s, dir) => {
        val docs = Tables.loadParallel(s, dir, "documents")
        val (_, _, big, tri) = Analytics3.lmTrigramCached(s, dir, docs)
        val Array(seed) = big
          .orderBy(col("c2").desc, col("a").asc, col("b").asc)
          .limit(1).collect()
        var out = Vector[(Int, String, Long)](
          (1, seed.getString(0), seed.getLong(2)),
          (2, seed.getString(1), seed.getLong(2)))
        var ctx = (seed.getString(0), seed.getString(1))
        var dead = false
        for (step <- 3 to DecodeLen if !dead) {
          val nxt = tri.filter(col("u") === ctx._1 && col("v") === ctx._2)
            .orderBy(col("c3").desc, col("w").asc)
            .limit(1).collect()
          nxt.headOption match {
            case Some(r) =>
              out :+= ((step, r.getString(2), r.getLong(3)))
              ctx = (ctx._2, r.getString(2))
            case None => dead = true // context never continues in the corpus
          }
        }
        import s.implicits._
        out.toDF("step", "token", "cnt")
      },
      Some(s"""WITH RECURSIVE toks AS (
             |  SELECT string_split(text, ' ') AS t FROM documents
             |), bc AS (
             |  SELECT bg.u AS a, bg.w AS b, CAST(COUNT(*) AS BIGINT) AS c2
             |  FROM (SELECT unnest([{'u': t[i], 'w': t[i + 1]}
             |          FOR i IN range(1, len(t))]) AS bg
             |        FROM toks)
             |  GROUP BY 1, 2
             |), tc AS MATERIALIZED (
             |  SELECT tg.u AS u, tg.v AS v, tg.w AS w,
             |    CAST(COUNT(*) AS BIGINT) AS c3
             |  FROM (SELECT unnest([{'u': t[i], 'v': t[i + 1], 'w': t[i + 2]}
             |          FOR i IN range(1, len(t) - 1)]) AS tg
             |        FROM toks WHERE len(t) >= 3)
             |  GROUP BY 1, 2, 3
             |), seed AS MATERIALIZED (
             |  SELECT a, b, c2 FROM bc ORDER BY c2 DESC, a, b LIMIT 1
             |), gen AS (
             |  SELECT 2 AS step, a AS u, b AS v, c2 AS cnt FROM seed
             |  UNION ALL
             |  SELECT g.step + 1, g.v, t.w, t.c3
             |  FROM gen g JOIN tc t ON t.u = g.u AND t.v = g.v
             |  WHERE g.step < $DecodeLen AND NOT EXISTS (
             |    SELECT 1 FROM tc t2
             |    WHERE t2.u = g.u AND t2.v = g.v
             |      AND (t2.c3 > t.c3 OR (t2.c3 = t.c3 AND t2.w < t.w)))
             |)
             |SELECT 1 AS step, a AS token, c2 AS cnt FROM seed
             |UNION ALL
             |SELECT 2 AS step, b AS token, c2 AS cnt FROM seed
             |UNION ALL
             |SELECT step, v AS token, cnt FROM gen WHERE step >= 3
             |ORDER BY step""".stripMargin))
  )
}
