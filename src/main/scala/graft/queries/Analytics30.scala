package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sim.Similarity
import graft.sources.Tables

/** Thirtieth analytics pack (round 6, session 8): user-adoption curve,
  * embedding-level train/test leakage, event skip-gram census,
  * staleness-capped TWAP, telemetry duplicate detection, and ABC
  * revenue classification.
  *
  * Exactness discipline unchanged: cosine decisions on the
  * `round(cos, 6)` grid + id tie-break; money decimal; TWAP stays
  * BIGINT cent-seconds to the final division. */
object Analytics30 {

  /** q256 leakage threshold on the rounded-cosine grid. */
  private val LeakCos = 0.98

  /** q258 staleness cap: a held value stops counting after this many
    * seconds without a fresh observation (bounds every weight, which
    * keeps the cent-second sums in BIGINT at any scale). */
  private val TwapCapSec = 3600L

  val all: Seq[Q] = Seq(

    // ---- adoption curve: first-seen day per user, new-user count per
    // ---- day, and the cumulative user count. Two narrow reduces (user
    // ---- grain then day grain); the running sum windows over the
    // ---- bounded per-day table, never the event stream. Day is pure
    // ---- integer epoch arithmetic (q244 discipline). ----------------
    Q("q255_adoption_curve",
      (s, dir) => {
        val firstDay = t(s, dir, "events")
          .select(col("user_id"),
            floor(unix_micros(col("ts")) / 86400000000L).cast("long")
              .as("day"))
          .groupBy("user_id").agg(min(col("day")).as("first_day"))
        firstDay.groupBy(col("first_day").as("day"))
          .agg(count(lit(1)).as("n_new"))
          .withColumn("cum_users",
            sum(col("n_new")).over(
              Window.orderBy("day")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .orderBy("day")
      },
      Some("""WITH fd AS (
             |  SELECT user_id,
             |    MIN(CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT))
             |      AS first_day
             |  FROM events GROUP BY 1
             |), pd AS (
             |  SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS n_new
             |  FROM fd GROUP BY 1
             |)
             |SELECT day, n_new,
             |  CAST(SUM(n_new) OVER (ORDER BY day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |    AS cum_users
             |FROM pd
             |ORDER BY day""".stripMargin)),

    // ---- semantic train/test leakage: hash-split the embeddings
    // ---- (vec_id % 5 = 0 is the held-out set), then flag every test
    // ---- vector whose nearest TRAIN neighbor clears the cosine bar —
    // ---- the embedding-space analog of the q231 13-gram leakage
    // ---- report. Same bounded brute-force + TopKByScore kernel as
    // ---- q40 (broadcast test side, 1-candidate partial agg); the
    // ---- LSH-banded variant is the unbounded scale path. -------------
    Q("q256_semantic_leakage",
      (s, dir) => {
        val emb = Tables.loadParallel(s, dir, "embeddings")
        val test = emb.filter(col("vec_id") % 5 === 0)
        val train = emb.filter(col("vec_id") % 5 =!= 0)
        val top1 = Similarity.bruteForceTopK(train, test, k = 1,
            excludeSelf = false)
          .select(col("query_id").as("test_id"),
            col("neighbor_id").as("nn_train_id"),
            round(col("cosine"), 6).as("cosine"))
        top1
          .join(broadcast(emb.select(col("vec_id").as("test_id"),
            col("label"))), Seq("test_id"))
          .join(broadcast(emb.select(col("vec_id").as("nn_train_id"),
            col("label").as("nn_label"))), Seq("nn_train_id"))
          .select(col("test_id"), col("label"), col("nn_train_id"),
            col("nn_label"), col("cosine"),
            (col("cosine") >= LeakCos).as("leaked"))
          .orderBy("test_id")
      },
      Some(s"""WITH e AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
             |  FROM embeddings
             |), top1 AS (
             |  SELECT q.vec_id AS test_id, q.label AS label,
             |    c.vec_id AS nn_train_id, c.label AS nn_label,
             |    ROUND(list_cosine_similarity(q.v, c.v), 6) AS cosine,
             |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
             |      ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id)
             |      AS rn
             |  FROM e q JOIN e c ON c.vec_id % 5 <> 0
             |  WHERE q.vec_id % 5 = 0
             |)
             |SELECT test_id, label, nn_train_id, nn_label, cosine,
             |  cosine >= $LeakCos AS leaked
             |FROM top1 WHERE rn = 1
             |ORDER BY test_id""".stripMargin)),

    // ---- event skip-gram census: ordered event-type pairs within a
    // ---- user's stream at sequence distance 1-3 (the skip-gram window
    // ---- of sequential-pattern mining — q154's Markov transitions are
    // ---- exactly the distance-1 slice). The self-join is banded by
    // ---- user AND bounded by the distance predicate, so the pair
    // ---- count is O(events × 3), never O(events²). -------------------
    Q("q257_event_skipgrams",
      (s, dir) => {
        val seq = t(s, dir, "events")
          .select(col("user_id"), col("event_type"),
            row_number().over(Window.partitionBy("user_id")
              .orderBy(col("ts"), col("event_id"))).as("rn"))
        val a = seq.select(col("user_id"), col("event_type").as("etype_a"),
          col("rn").as("ra"))
        val b = seq.select(col("user_id").as("user_b"),
          col("event_type").as("etype_b"), col("rn").as("rb"))
        a.join(b, col("user_id") === col("user_b") &&
            col("rb") > col("ra") && col("rb") <= col("ra") + 3)
          .groupBy("etype_a", "etype_b")
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy("etype_a", "etype_b")
      },
      Some("""WITH seq AS (
             |  SELECT user_id, event_type,
             |    ROW_NUMBER() OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS rn
             |  FROM events
             |)
             |SELECT a.event_type AS etype_a, b.event_type AS etype_b,
             |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
             |  CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
             |FROM seq a JOIN seq b
             |  ON a.user_id = b.user_id
             |  AND b.rn > a.rn AND b.rn <= a.rn + 3
             |GROUP BY 1, 2
             |ORDER BY etype_a, etype_b""".stripMargin)),

    // ---- staleness-capped TWAP (time-weighted average value) per
    // ---- event type: each observation holds until the next one, but
    // ---- never longer than the cap — the last-observation-carried-
    // ---- forward integral every monitoring system computes. All
    // ---- arithmetic is BIGINT cent-seconds (value in integer cents ×
    // ---- held whole seconds, cap 3600), so the sums are exact at any
    // ---- scale and the one double division happens at output. --------
    Q("q258_twap",
      (s, dir) => {
        // a handful of event types over event grain: partitionBy(type)
        // sorts ~n/|types| rows in one task at 100 TB. Rank pass
        // (grp = type) + an equi-join on (type, rn+1) replaces lead():
        // the checkpointed narrow frame is probed once for successors.
        val ranked = graft.operators.Ranks.withPrefixSums(
            t(s, dir, "events")
              .select(col("event_type"), col("event_id"),
                unix_micros(col("ts")).as("us"),
                round(col("value") * 100).cast("long").as("cents")),
            Seq(col("event_type")), Seq(col("us"), col("event_id")),
            Seq((lit(1L), "rn", "nr")))
          .localCheckpoint(false)
        val obs = ranked
          .join(ranked.select(col("event_type"), (col("rn") - 1L).as("rn"),
            col("us").as("next_us")), Seq("event_type", "rn"))
          .select(col("event_type"), col("cents"),
            floor(least(col("next_us") - col("us"),
              lit(TwapCapSec * 1000000L)) / lit(1000000.0)).cast("long")
              .as("w_sec"))
        obs.groupBy("event_type")
          .agg(count(lit(1)).as("n_holds"),
            sum(col("w_sec")).as("held_seconds"),
            sum(col("cents") * col("w_sec")).as("num_cent_sec"))
          .select(col("event_type"), col("n_holds"), col("held_seconds"),
            round(col("num_cent_sec").cast("double") /
              (col("held_seconds").cast("double") * 100.0), 6).as("twap"))
          .orderBy("event_type")
      },
      Some(s"""WITH obs AS (
             |  SELECT event_type,
             |    CAST(ROUND(value * 100) AS BIGINT) AS cents,
             |    epoch_us(ts) AS us,
             |    LEAD(epoch_us(ts), 1) OVER (PARTITION BY event_type
             |      ORDER BY epoch_us(ts), event_id) AS next_us
             |  FROM events
             |), held AS (
             |  SELECT event_type, cents,
             |    CAST(FLOOR(LEAST(next_us - us, ${TwapCapSec * 1000000L})
             |      / 1000000.0) AS BIGINT) AS w_sec
             |  FROM obs WHERE next_us IS NOT NULL
             |)
             |SELECT event_type,
             |  CAST(COUNT(*) AS BIGINT) AS n_holds,
             |  CAST(SUM(w_sec) AS BIGINT) AS held_seconds,
             |  ROUND(CAST(SUM(cents * w_sec) AS DOUBLE)
             |    / (CAST(SUM(w_sec) AS DOUBLE) * 100.0), 6) AS twap
             |FROM held GROUP BY 1
             |ORDER BY event_type""".stripMargin)),

    // ---- telemetry duplicate census: an event is a retry/duplicate if
    // ---- the SAME user emitted the SAME type with the SAME value
    // ---- within 1 s before it — the at-least-once-delivery artifact
    // ---- every ingest pipeline audits (the streaming dedup partner is
    // ---- dropDuplicatesWithinWatermark, §2.9). One window per
    // ---- (user, type, cents) key; no self-join. ----------------------
    Q("q259_telemetry_dupes",
      (s, dir) => {
        val key = Window
          .partitionBy(col("user_id"), col("event_type"), col("cents"))
          .orderBy(col("us"), col("event_id"))
        val flagged = t(s, dir, "events")
          .select(col("event_type"), col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("us"),
            round(col("value") * 100).cast("long").as("cents"))
          .withColumn("prev_us", lag(col("us"), 1).over(key))
          .withColumn("is_dup",
            col("prev_us").isNotNull && col("us") - col("prev_us") <= 1000000L)
        flagged.groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"),
            countDistinct(when(col("is_dup"), col("user_id")))
              .as("n_affected_users"))
          .select(col("event_type"), col("n_events"), col("n_dups"),
            round(col("n_dups").cast("double") /
              col("n_events").cast("double"), 6).as("dup_rate"),
            col("n_affected_users"))
          .orderBy("event_type")
      },
      Some("""WITH flagged AS (
             |  SELECT event_type, user_id,
             |    CASE WHEN LAG(epoch_us(ts), 1) OVER (
             |        PARTITION BY user_id, event_type,
             |          CAST(ROUND(value * 100) AS BIGINT)
             |        ORDER BY epoch_us(ts), event_id) IS NOT NULL
             |      AND epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (
             |        PARTITION BY user_id, event_type,
             |          CAST(ROUND(value * 100) AS BIGINT)
             |        ORDER BY epoch_us(ts), event_id) <= 1000000
             |      THEN 1 ELSE 0 END AS is_dup
             |  FROM events
             |)
             |SELECT event_type,
             |  CAST(COUNT(*) AS BIGINT) AS n_events,
             |  CAST(SUM(is_dup) AS BIGINT) AS n_dups,
             |  ROUND(CAST(SUM(is_dup) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             |    AS dup_rate,
             |  CAST(COUNT(DISTINCT CASE WHEN is_dup = 1 THEN user_id END)
             |    AS BIGINT) AS n_affected_users
             |FROM flagged GROUP BY 1
             |ORDER BY event_type""".stripMargin)),

    // ---- ABC classification: parts ranked by revenue; class A carries
    // ---- the first 80% of cumulative revenue, B to 95%, C the tail.
    // ---- Class boundaries are exact decimal comparisons (cum×5 ≤
    // ---- total×4, cum×20 ≤ total×19 — no division). The running sum
    // ---- windows over the part grain (a dimension, not the fact
    // ---- table); revenue narrows to DECIMAL(18,2) pre-cast. ----------
    Q("q260_abc_classification",
      (s, dir) => {
        // NOTE r12: loadParallel was tried here and measured +7% — no
        // win over the single-task partial aggregate at this size.
        val perPart = t(s, dir, "lineitem")
          .groupBy(col("l_partkey"))
          .agg(sum(dec("l_extendedprice")).as("rev"))
        // part grain scales with data volume — the running revenue
        // share goes through Ranks.withPrefixSum (range-partitioned
        // prefix sums), not an unpartitioned window; the pass's group
        // total replaces the separate total agg + crossJoin.
        val cum = graft.operators.Ranks.withPrefixSum(perPart, Seq.empty,
            Seq(-col("rev"), col("l_partkey")),
            col("rev"), "cum_rev", "total_rev")
          .withColumn("abc_class",
            when(col("cum_rev") * 5 <= col("total_rev") * 4, "A")
              .when(col("cum_rev") * 20 <= col("total_rev") * 19, "B")
              .otherwise("C"))
        cum.groupBy("abc_class")
          .agg(count(lit(1)).as("n_parts"),
            sum(col("rev")).cast(DecimalType(18, 2)).cast("double")
              .as("class_rev"))
          .orderBy("abc_class")
      },
      Some("""WITH pp AS (
             |  SELECT l_partkey,
             |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS rev
             |  FROM lineitem GROUP BY 1
             |), tot AS (SELECT SUM(rev) AS total_rev FROM pp),
             |cum AS (
             |  SELECT l_partkey, rev,
             |    SUM(rev) OVER (ORDER BY rev DESC, l_partkey
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cum_rev,
             |    tot.total_rev
             |  FROM pp CROSS JOIN tot
             |)
             |SELECT CASE WHEN cum_rev * 5 <= total_rev * 4 THEN 'A'
             |            WHEN cum_rev * 20 <= total_rev * 19 THEN 'B'
             |            ELSE 'C' END AS abc_class,
             |  CAST(COUNT(*) AS BIGINT) AS n_parts,
             |  CAST(CAST(SUM(rev) AS DECIMAL(18,2)) AS DOUBLE) AS class_rev
             |FROM cum GROUP BY 1
             |ORDER BY abc_class""".stripMargin))
  )
}
