package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Thirteenth analytics pack (round 6, session 5): A-priori 3-itemset
  * mining, item-item collaborative similarity, session entropy,
  * funnel-lag percentiles, and cross-language vocabulary overlap. */
object Analytics13 {

  /** q171 support floors (absolute counts). */
  private val PairSupport = 2
  private val TripleSupport = 2

  val all: Seq[Q] = Seq(

    // ---- A-priori 3-itemset mining (Agrawal 1994, the level after
    // ---- q126's pair rules): candidate triples come ONLY from joining
    // ---- frequent pairs sharing a prefix item (the A-priori pruning —
    // ---- candidates bounded by frequent-pair count, never the item³
    // ---- cross), then one counting join against the basket table ----
    Q("q171_apriori_triples",
      (s, dir) => {
        // items feeds five joins (shared cached artifact) and pairs
        // feeds three — checkpoint pairs so the support pass runs
        // once, not once per referencing branch
        // NOTE r13: the q172-style basket-explode form (group items by
        // ok, generate C(n,2) pairs / C(n,3) triples via array HOFs,
        // equi-join triples against cand) was tried here and measured
        // +63% (0.891 → 1.452 s iso min-of-4): the counting chain's
        // joins prune to cand-matching rows EARLY, while the basket
        // form generates every basket triple first. Joins kept.
        val items = Analytics4.orderItemsCached(s, dir)
        // r13 (§2.4 one exchange / §3.1 build-side choice): the three
        // counting joins each BROADCAST the data-scaled incidence
        // (before-plan: 3× BroadcastHashJoin BuildRight over the ~500k-
        // row InMemoryTableScan — three single-threaded builds and the
        // q89-class 100 TB bug: the broadcast side grows with the
        // data). Now the only broadcast side is the support-PRUNED
        // candidate set, the side A-priori bounds (if even that
        // outgrows memory the support floor is the knob; the incidence
        // never is), and the incidence is exchanged ONCE per layout:
        // by ok for the pair self-join (ReuseExchange dedupes the two
        // references), and by the FULL probe key (ok, pk) for the two
        // counting probes — the alias-aware projection makes the same
        // exchange read as (ok, b)- and (ok, c)-partitioned, so both
        // ShuffledHashJoins are co-partitioned with no re-exchange
        // (subset keys would not be: requireAllClusterKeysForCoPartition
        // is true by default in Spark 3.3+).
        val itemsByOk = items.repartition(col("ok"))
        val pairs = itemsByOk.select(col("ok"), col("pk").as("a"))
          .join(itemsByOk.select(col("ok"), col("pk").as("b")), Seq("ok"))
          .where(col("a") < col("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("c"))
          .where(col("c") >= PairSupport)
          .localCheckpoint(true)
        // prefix join (a, b) x (a, c) with b < c; A-priori needs the
        // third side (b, c) frequent too — the semi-join prunes it
        val fp = pairs.select(col("a"), col("b"))
        val cand = fp
          .join(fp.select(col("a"), col("b").as("c")), Seq("a"))
          .where(col("b") < col("c"))
          .join(fp.select(col("a").as("b"), col("b").as("c")),
            Seq("b", "c"), "left_semi")
          .select(col("a"), col("b"), col("c"))
        // SHUFFLE_HASH on the probe sides: post-checkpoint stats would
        // otherwise re-broadcast the sub-10MB-estimated incidence; the
        // hint keeps the co-partitioned (no new exchange) hash probe.
        val itemsByOkPk = items.repartition(col("ok"), col("pk"))
        val counted = items.select(col("ok"), col("pk").as("a"))
          .join(broadcast(cand), Seq("a"))
          .join(itemsByOkPk.select(col("ok"), col("pk").as("b"))
            .hint("shuffle_hash"), Seq("ok", "b"))
          .join(itemsByOkPk.select(col("ok"), col("pk").as("c"))
            .hint("shuffle_hash"), Seq("ok", "c"))
          .groupBy("a", "b", "c").agg(count(lit(1)).as("support"))
          .where(col("support") >= TripleSupport)
        counted.select(col("a"), col("b"), col("c"), col("support"))
          .orderBy(desc("support"), asc("a"), asc("b"), asc("c"))
          .limit(50)
      },
      Some(s"""WITH items AS (
             |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
             |), pairs AS (
             |  SELECT a.pk AS a, b.pk AS b, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
             |  GROUP BY 1, 2
             |  HAVING COUNT(*) >= $PairSupport
             |), cand AS (
             |  SELECT p1.a, p1.b, p2.b AS c
             |  FROM pairs p1
             |  JOIN pairs p2 ON p1.a = p2.a AND p1.b < p2.b
             |  JOIN pairs p3 ON p3.a = p1.b AND p3.b = p2.b
             |)
             |SELECT cand.a, cand.b, cand.c,
             |  CAST(COUNT(*) AS BIGINT) AS support
             |FROM cand
             |JOIN items ia ON ia.pk = cand.a
             |JOIN items ib ON ib.ok = ia.ok AND ib.pk = cand.b
             |JOIN items ic ON ic.ok = ia.ok AND ic.pk = cand.c
             |GROUP BY 1, 2, 3
             |HAVING COUNT(*) >= $TripleSupport
             |ORDER BY support DESC, a, b, c
             |LIMIT 50""".stripMargin)),

    // ---- item-item collaborative similarity (the recommender-system
    // ---- co-occurrence kernel): suppliers as "users", parts as
    // ---- "items" — supplier-pair Jaccard over part sets via the
    // ---- inverted index on parts, cosine-normalized co-counts as the
    // ---- second score; never supplier² -------------------------------
    Q("q172_supplier_similarity",
      (s, dir) => {
        // sp feeds four consumers (self-join twice + sizes' two
        // broadcast builds, whose differing projections defeat
        // ReuseExchange) — checkpoint so the lineitem scan + distinct
        // runs once; sizes is supplier-sized, so its joins broadcast
        // loadParallel: the distinct's partial aggregate otherwise runs
        // inside the single-task row-group scan (guide §2.5 input skew)
        val sp = Tables.loadParallel(s, dir, "lineitem")
          .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
          .distinct()
          .localCheckpoint(false)
        val sizes = sp.groupBy("sk").agg(count(lit(1)).as("n"))
        // r13 (guide §2.3/§3.1): the co-pair stage was a self-join of sp
        // on pk — TWO evaluations of sp, a data-scaled broadcast build
        // (the planner broadcast the ~465k-row checkpointed side: a
        // scale bug at 100 TB and 4-5 CPU·s of build here), and the
        // full pair stream shuffled to the (s1,s2) aggregate. Now: ONE
        // hash exchange of sp by pk, per-part sorted supplier list,
        // pairs generated in place by codegen'd array HOFs, and the
        // (s1,s2) counts partial-aggregate map-side before the final
        // exchange. Same Σ|postings|² pair multiset ((sk,pk) is
        // distinct and the list is sorted, so (i<j) ⇔ (s1<s2)).
        // Profile evidence: pair stage 15.7 → 10.0 CPU·s, jobs 4 → 3,
        // exec BEST 3.03 → 1.80 s. (The SAME basket-explode form was
        // tried on q171's pair+triple chain and measured +63% — the
        // A-priori counting joins' early selectivity wins there; see
        // OPTIMIZATION_r13.md.)
        val sks = col("sks")
        val co = sp.groupBy("pk")
          .agg(sort_array(collect_list(col("sk"))).as("sks"))
          .select(explode(flatten(transform(sks, (x, i) =>
            transform(slice(sks, i + lit(2), size(sks)),
              y => struct(x.as("s1"), y.as("s2")))))).as("p"))
          .select(col("p.s1").as("s1"), col("p.s2").as("s2"))
          .groupBy("s1", "s2").agg(count(lit(1)).as("inter"))
        val jac = col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")).cast("double")
        val cos = col("inter").cast("double") /
          sqrt(col("n1").cast("double") * col("n2").cast("double"))
        co.join(broadcast(sizes.select(col("sk").as("s1"), col("n").as("n1"))),
            Seq("s1"))
          .join(broadcast(sizes.select(col("sk").as("s2"), col("n").as("n2"))),
            Seq("s2"))
          .select(col("s1"), col("s2"), col("inter"),
            round(jac, 6).as("jaccard"), round(cos, 6).as("cosine"))
          .orderBy(desc("jaccard"), asc("s1"), asc("s2"))
          .limit(100)
      },
      Some("""WITH sp AS (
             |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem
             |), sizes AS (
             |  SELECT sk, CAST(COUNT(*) AS BIGINT) AS n FROM sp GROUP BY sk
             |), co AS (
             |  SELECT a.sk AS s1, b.sk AS s2, CAST(COUNT(*) AS BIGINT) AS inter
             |  FROM sp a JOIN sp b ON a.pk = b.pk AND a.sk < b.sk
             |  GROUP BY 1, 2
             |)
             |SELECT s1, s2, inter,
             |  ROUND(CAST(inter AS DOUBLE)
             |    / CAST(z1.n + z2.n - inter AS DOUBLE), 6) AS jaccard,
             |  ROUND(CAST(inter AS DOUBLE)
             |    / sqrt(CAST(z1.n AS DOUBLE) * CAST(z2.n AS DOUBLE)), 6) AS cosine
             |FROM co
             |JOIN sizes z1 ON z1.sk = s1
             |JOIN sizes z2 ON z2.sk = s2
             |ORDER BY jaccard DESC, s1, s2
             |LIMIT 100""".stripMargin)),

    // ---- per-user session entropy (behavioral predictability): the
    // ---- Shannon entropy of each user's event-type transition
    // ---- distribution, from the q154 bigram grain — per-term p·ln(p)
    // ---- at the 9-dp decimal grain, users with >= 10 transitions ----
    Q("q173_session_entropy",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val trans = t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type").as("ft"))
          .withColumn("tt", lead(col("ft"), 1).over(w))
          .where(col("tt").isNotNull)
          .groupBy("user_id", "ft", "tt").agg(count(lit(1)).as("c"))
        val tot = trans.groupBy("user_id").agg(sum(col("c")).as("tot"))
        val p = col("c").cast("double") / col("tot").cast("double")
        trans.join(tot, Seq("user_id"))
          .where(col("tot") >= 10)
          .groupBy("user_id")
          .agg(max(col("tot")).as("n_transitions"),
            sum(round(-p * log(p), 9).cast(DecimalType(38, 9)))
              .cast("double").as("entropyraw"))
          .select(col("user_id"), col("n_transitions"),
            round(col("entropyraw"), 6).as("entropy"))
          .orderBy("user_id")
      },
      Some("""WITH seq AS (
             |  SELECT user_id, event_type AS ft,
             |    LEAD(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS tt
             |  FROM events
             |), trans AS (
             |  SELECT user_id, ft, tt, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM seq WHERE tt IS NOT NULL GROUP BY 1, 2, 3
             |), tot AS (
             |  SELECT user_id, CAST(SUM(c) AS BIGINT) AS tot
             |  FROM trans GROUP BY user_id
             |)
             |SELECT user_id, MAX(tot) AS n_transitions,
             |  ROUND(CAST(SUM(CAST(ROUND(
             |    -(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE))
             |      * ln(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE)), 9)
             |    AS DECIMAL(38,9))) AS DOUBLE), 6) AS entropy
             |FROM trans JOIN tot USING (user_id)
             |WHERE tot >= 10
             |GROUP BY user_id
             |ORDER BY user_id""".stripMargin)),

    // ---- funnel lag percentiles (time-to-convert distribution, the
    // ---- scalar partner of q150's full survival curve): signup ->
    // ---- first purchase lag in hours, exact interpolated p50/p90 per
    // ---- signup week ------------------------------------------------
    Q("q174_funnel_lag_percentiles",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val lags = ev.groupBy("user_id")
          .agg(min(when(col("event_type") === "signup", col("ts"))).as("s"),
            min(when(col("event_type") === "purchase", col("ts"))).as("p"))
          .where(col("s").isNotNull && col("p").isNotNull && col("p") >= col("s"))
          .select(to_date(date_trunc("week", col("s"))).as("week"),
            ((unix_micros(col("p")) - unix_micros(col("s"))) / lit(3600000000L))
              .as("lag_hours"))
        lags.groupBy("week")
          .agg(count(lit(1)).as("n"),
            round(expr("percentile(lag_hours, 0.5)"), 4).as("p50_hours"),
            round(expr("percentile(lag_hours, 0.9)"), 4).as("p90_hours"))
          .select(date_format(col("week"), "yyyy-MM-dd").as("week"),
            col("n"), col("p50_hours"), col("p90_hours"))
          .orderBy("week")
      },
      Some("""WITH lags AS (
             |  SELECT CAST(date_trunc('week', s) AS DATE) AS week,
             |    (epoch_us(p) - epoch_us(s)) / 3600000000 AS lag_hours
             |  FROM (
             |    SELECT user_id,
             |      MIN(CASE WHEN event_type = 'signup' THEN ts END) AS s,
             |      MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS p
             |    FROM events GROUP BY user_id)
             |  WHERE s IS NOT NULL AND p IS NOT NULL AND p >= s
             |)
             |SELECT strftime(week, '%Y-%m-%d') AS week,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  ROUND(quantile_cont(lag_hours, 0.5), 4) AS p50_hours,
             |  ROUND(quantile_cont(lag_hours, 0.9), 4) AS p90_hours
             |FROM lags
             |GROUP BY week
             |ORDER BY week""".stripMargin)),

    // ---- cross-language vocabulary overlap matrix (shared-script /
    // ---- borrowing detector in corpus QA): pairwise Jaccard of
    // ---- per-lang distinct token sets through the token inverted
    // ---- index — |langs|² output but postings-bounded compute --------
    Q("q175_lang_vocab_overlap",
      (s, dir) => {
        val lv = Tables.loadParallel(s, dir, "documents")
          .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
          .distinct()
        val sizes = lv.groupBy("lang").agg(count(lit(1)).as("n"))
        val co = lv.select(col("tok"), col("lang").as("l1"))
          .join(lv.select(col("tok"), col("lang").as("l2")), Seq("tok"))
          .where(col("l1") < col("l2"))
          .groupBy("l1", "l2").agg(count(lit(1)).as("inter"))
        co.join(sizes.select(col("lang").as("l1"), col("n").as("n1")), Seq("l1"))
          .join(sizes.select(col("lang").as("l2"), col("n").as("n2")), Seq("l2"))
          .select(col("l1"), col("l2"), col("inter"),
            round(col("inter").cast("double") /
              (col("n1") + col("n2") - col("inter")).cast("double"), 6)
              .as("jaccard"))
          .orderBy("l1", "l2")
      },
      Some("""WITH lv AS (
             |  SELECT DISTINCT lang, unnest(string_split(text, ' ')) AS tok
             |  FROM documents
             |), sizes AS (
             |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM lv GROUP BY lang
             |), co AS (
             |  SELECT a.lang AS l1, b.lang AS l2, CAST(COUNT(*) AS BIGINT) AS inter
             |  FROM lv a JOIN lv b ON a.tok = b.tok AND a.lang < b.lang
             |  GROUP BY 1, 2
             |)
             |SELECT l1, l2, inter,
             |  ROUND(CAST(inter AS DOUBLE)
             |    / CAST(z1.n + z2.n - inter AS DOUBLE), 6) AS jaccard
             |FROM co
             |JOIN sizes z1 ON z1.lang = l1
             |JOIN sizes z2 ON z2.lang = l2
             |ORDER BY l1, l2""".stripMargin)))
}
