package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Third analytics pack (round 5): event-pattern matching
  * (ClickHouse `sequenceCount`/`sequenceMatch` analogs), mergeable
  * sketch states (the `uniqState`/`uniqMerge` + AggregatingMergeTree
  * pattern), and incremental batch-vs-corpus dedup. */
object Analytics3 {

  /** Bigram LM count tables for `dir`'s documents, trained once per
    * (app, dir) via [[graft.sim.IndexCache]] — the LM is an ingest-time
    * artifact (train once, score per query), exactly like the ANN
    * indexes. The train plans are lazy, so asking [[graft.text
    * .LanguageModel.trainBigram]] per table costs nothing on a hit. */
  def lmBigramCached(s: SparkSession, dir: String,
                     docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    import graft.sim.IndexCache
    val uni = IndexCache.getOrBuild(s, s"lm-uni:$dir") {
      graft.text.LanguageModel.trainBigram(docs)._1
    }
    val big = IndexCache.getOrBuild(s, s"lm-big:$dir") {
      graft.text.LanguageModel.trainBigram(docs)._2
    }
    val vocab = IndexCache.getOrBuild(s, s"lm-vsz:$dir") {
      graft.text.LanguageModel.trainBigram(docs)._3
    }
    (uni, big, vocab)
  }

  /** Cached per-doc bigram cross-entropy table — the scoring pass over
    * the corpus is an ingest-time artifact like the count tables it
    * reads (score once, gate/bucket many): q82 emits it directly, q104
    * derives its cuts and buckets from it. */
  def lmScoredCached(s: SparkSession, dir: String,
                     docs: DataFrame): DataFrame = {
    val (uni, big, vocab) = lmBigramCached(s, dir, docs)
    graft.sim.IndexCache.getOrBuild(s, s"lm-scored:$dir") {
      graft.text.LanguageModel.scoreBigram(uni, big, vocab, docs)
    }
  }

  /** Kneser–Ney count tables for `dir`'s documents (see
    * [[lmBigramCached]]). */
  def lmKneserNeyCached(s: SparkSession, dir: String, docs: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import graft.sim.IndexCache
    val big = IndexCache.getOrBuild(s, s"lmkn-big:$dir") {
      graft.text.LanguageModel.trainKneserNey(docs)._1
    }
    // ctx/n1pr/consts are tiny aggregates OVER the bigram table — build
    // them from the persisted `big` handle so a cold warm() scans the
    // corpus once, not four times
    val ctx = IndexCache.getOrBuild(s, s"lmkn-ctx:$dir") {
      big.groupBy("u").agg(sum(col("c2")).as("cu"), count(lit(1)).as("n1p"))
    }
    val n1pr = IndexCache.getOrBuild(s, s"lmkn-n1pr:$dir") {
      big.groupBy(col("w")).agg(count(lit(1)).as("npr"))
    }
    val consts = IndexCache.getOrBuild(s, s"lmkn-consts:$dir") {
      big.agg(count(lit(1)).as("btot"), count_distinct(col("w")).as("vsz"))
    }
    (big, ctx, n1pr, consts)
  }

  /** Trigram LM count tables for `dir`'s documents (see
    * [[lmBigramCached]]). */
  def lmTrigramCached(s: SparkSession, dir: String, docs: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import graft.sim.IndexCache
    val uni = IndexCache.getOrBuild(s, s"lm3-uni:$dir") {
      graft.text.LanguageModel.trainTrigram(docs)._1
    }
    val totals = IndexCache.getOrBuild(s, s"lm3-tot:$dir") {
      graft.text.LanguageModel.trainTrigram(docs)._2
    }
    val big = IndexCache.getOrBuild(s, s"lm3-big:$dir") {
      graft.text.LanguageModel.trainTrigram(docs)._3
    }
    val tri = IndexCache.getOrBuild(s, s"lm3-tri:$dir") {
      graft.text.LanguageModel.trainTrigram(docs)._4
    }
    (uni, totals, big, tri)
  }

  /** The trigram-TYPE log-probability table (one `ln` per distinct
    * corpus trigram) as a cached ingest artifact — q89's scoring probe
    * joins this instead of re-running the 5-table interpolation over
    * every (doc, trigram). */
  def lmTrigramTypesCached(s: SparkSession, dir: String,
                           docs: DataFrame): DataFrame =
    graft.sim.IndexCache.getOrBuild(s, s"lm3-types:$dir") {
      val (uni, totals, big, tri) = lmTrigramCached(s, dir, docs)
      graft.text.LanguageModel.trigramTypeScores(uni, totals, big, tri)
    }

  /** q82's scoring pipeline as a reusable oracle CTE prefix ending in
    * `scored(doc_id, n_bigrams, cross_entropy)` — q82 selects it
    * directly; q104 buckets over it. */
  private val lmScoredCte: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |), uni AS (
      |  SELECT u, CAST(COUNT(*) AS BIGINT) AS c1
      |  FROM (SELECT unnest(t) AS u FROM toks) GROUP BY u
      |), v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vsz FROM uni),
      |db0 AS (
      |  SELECT doc_id, unnest([{'u': t[i], 'w': t[i + 1]}
      |    FOR i IN range(1, len(t))]) AS bg
      |  FROM toks
      |), db AS (
      |  SELECT doc_id, bg.u AS u, bg.w AS w FROM db0
      |), bc AS (
      |  SELECT u, w, CAST(COUNT(*) AS BIGINT) AS c2 FROM db GROUP BY u, w
      |), docterms AS (
      |  SELECT doc_id, u, w, CAST(COUNT(*) AS BIGINT) AS n_occ
      |  FROM db GROUP BY doc_id, u, w
      |), scored AS (
      |  SELECT d.doc_id,
      |    CAST(SUM(d.n_occ) AS BIGINT) AS n_bigrams,
      |    ROUND(-SUM(d.n_occ * ln((bc.c2 + 1.0) / (uni.c1 + v.vsz)))
      |          / SUM(d.n_occ), 4) AS cross_entropy
      |  FROM docterms d
      |  JOIN bc ON d.u = bc.u AND d.w = bc.w
      |  JOIN uni ON d.u = uni.u
      |  CROSS JOIN v
      |  GROUP BY d.doc_id
      |)""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- event-chain counting: sequence_count(view -> click ->
    // ---- purchase) per user, one shuffle (ClickHouse sequenceCount;
    // ---- the greedy non-overlapping scan equals global lazy-regex
    // ---- counting over the time-ordered event string, which is how
    // ---- DuckDB renders it) ------------------------------------------
    Q("q76_sequence_count",
      (s, dir) => t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(graft.functions.Funnel.sequenceCount(
          unix_micros(col("ts")),
          Seq(col("event_type") === "view", col("event_type") === "click",
            col("event_type") === "purchase")).as("chains"))
        .where(col("chains") >= 1)
        .groupBy("chains")
        .agg(count(lit(1)).as("users"))
        .orderBy("chains"),
      Some("""WITH ev AS (
             |  SELECT user_id, epoch_us(ts) AS tus,
             |    CASE event_type WHEN 'view' THEN 'a' WHEN 'click' THEN 'b'
             |         WHEN 'purchase' THEN 'c' END AS ch
             |  FROM events
             |  WHERE event_type IN ('view', 'click', 'purchase')
             |), seqs AS (
             |  SELECT user_id, string_agg(ch, '' ORDER BY tus, ch) AS s
             |  FROM ev GROUP BY user_id
             |), counts AS (
             |  SELECT user_id,
             |    CAST(len(regexp_extract_all(s, 'a.*?b.*?c')) AS BIGINT) AS chains
             |  FROM seqs
             |)
             |SELECT chains, COUNT(*) AS users FROM counts
             |WHERE chains >= 1 GROUP BY chains ORDER BY chains""".stripMargin)),

    // ---- mergeable sketch states: HLL partials per (event_type, day)
    // ---- at "ingest", unioned at query time — the uniqState/uniqMerge
    // ---- + AggregatingMergeTree pattern. The daily sketch table is
    // ---- O(groups × sketch bytes) regardless of row count, and the
    // ---- final union never touches raw events: at 100 TB the re-agg
    // ---- reads KB-sized states, not the fact table. Oracled like q24:
    // ---- exact values hash-checked + an in-tolerance flag for the
    // ---- estimate (default lgConfigK=12 ⇒ ~1.6% stderr). -------------
    Q("q77_sketch_merge_state",
      (s, dir) => {
        val ev = t(s, dir, "events")
        // ingest-time partial aggregation (the AggregatingMergeTree MV)
        val daily = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
        // query-time merge of persisted states — no raw-event access
        val merged = daily.groupBy("event_type")
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"))
        val exact = ev.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact_users"))
        exact.join(merged, Seq("event_type"))
          .select(col("event_type"), col("exact_users"),
            // 0.08 ≈ 5σ at lgConfigK=12 (~1.6% stderr): wide enough
            // that a healthy sketch can't flake the oracle's TRUE,
            // tight enough to catch a broken merge
            (abs(col("approx_users") - col("exact_users")).cast("double") /
              col("exact_users") < 0.08).as("approx_ok"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
             |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
             |  TRUE AS approx_ok
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- incremental dedup: an arriving batch (doc_id ≡ 0 mod 10)
    // ---- checked against the standing corpus via a cross-set
    // ---- inverted-index join — O(batch × touched postings), never
    // ---- corpus²; the admission-time gate a training pipeline runs on
    // ---- every new shard (bounded here like q37 so the DuckDB mirror
    // ---- stays cheap) -------------------------------------------------
    Q("q78_incremental_dedup",
      (s, dir) => {
        val d = Tables.loadParallel(s, dir, "documents")
          .filter(col("doc_id") < 300)
        val batch = d.filter(col("doc_id") % 10 === 0)
        val corpus = d.filter(col("doc_id") % 10 =!= 0)
        graft.dedup.Dedup.crossJaccardPairs(corpus, batch, threshold = 0.5)
          .orderBy("batch_id", "corpus_id")
      },
      Some("""WITH sh AS (
             |  SELECT doc_id AS id, sl AS sh, len(sl) AS n FROM (
             |    SELECT doc_id,
             |      list_distinct([array_to_string(toks[i:i+2], ' ')
             |        FOR i IN range(1, greatest(len(toks) - 1, 1))]) AS sl
             |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
             |          FROM documents WHERE doc_id < 300)
             |  ) WHERE len(sl) > 0
             |), inv AS (
             |  SELECT id, n, unnest(sh) AS shingle FROM sh
             |)
             |SELECT x.id AS batch_id, y.id AS corpus_id,
             |  CAST(COUNT(*) AS DOUBLE) / CAST(ANY_VALUE(x.n) + ANY_VALUE(y.n) - COUNT(*) AS DOUBLE) AS jaccard
             |FROM inv x JOIN inv y ON x.shingle = y.shingle
             |WHERE x.id % 10 = 0 AND y.id % 10 <> 0
             |GROUP BY x.id, y.id
             |HAVING CAST(COUNT(*) AS DOUBLE) / CAST(ANY_VALUE(x.n) + ANY_VALUE(y.n) - COUNT(*) AS DOUBLE) >= 0.5
             |ORDER BY batch_id, corpus_id""".stripMargin)),

    // ---- semantic admission: incoming embeddings (vec_id ≡ 0 mod 10)
    // ---- vs the standing corpus by cosine — the embedding-space twin
    // ---- of q78 (bounded brute force like q41; the LSH-banded form is
    // ---- Similarity.nearDupPairs, recall-spec'd) ----------------------
    Q("q79_embed_cross_neardup",
      (s, dir) => {
        val emb = Tables.loadParallel(s, dir, "embeddings")
          .filter(col("vec_id") < 1000)
        val batch = emb.filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("batch_id"), col("embedding").as("vec_a"))
        val corpus = emb.filter(col("vec_id") % 10 =!= 0)
          .select(col("vec_id").as("corpus_id"), col("embedding").as("vec_b"))
        batch.crossJoin(corpus)
          .select(col("batch_id"), col("corpus_id"),
            round(graft.functions.VectorFunctions.cosine(col("vec_a"), col("vec_b")), 6)
              .as("cosine"))
          .where(col("cosine") >= 0.42)
          .orderBy("batch_id", "corpus_id")
      },
      Some("""SELECT a.vec_id AS batch_id, b.vec_id AS corpus_id,
             |  ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cosine
             |FROM embeddings a JOIN embeddings b
             |  ON a.vec_id % 10 = 0 AND b.vec_id % 10 <> 0
             |WHERE a.vec_id < 1000 AND b.vec_id < 1000
             |  AND ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.42
             |ORDER BY batch_id, corpus_id""".stripMargin)),

    // ---- event-time RANGE-frame sliding aggregate: trailing one-hour
    // ---- stats per user at every event (the time-decayed feature
    // ---- shape; frame bounds are event-time micros, not row counts,
    // ---- so ties and gaps behave identically across engines) ---------
    Q("q80_sliding_window",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("tus"))
          .rangeBetween(-3600L * 1000000, 0)
        t(s, dir, "events")
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("tus"), col("value"))
          .select(col("user_id"), col("event_id"),
            count(lit(1)).over(w).as("trailing_n"),
            // decimal accumulation (repo oracle convention): the frame
            // sum is exact, so the single avg division is one IEEE op —
            // identical in any engine regardless of frame-walk order
            round(sum(col("value").cast("decimal(12,2)")).over(w).cast("double") /
              count(lit(1)).over(w), 6).as("trailing_avg"))
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id,
             |  CAST(COUNT(*) OVER w AS BIGINT) AS trailing_n,
             |  ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE)
             |        / (COUNT(*) OVER w), 6) AS trailing_avg
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             |ORDER BY user_id, event_id""".stripMargin)),

    // ---- domain-mixture resampling: reweight sources 3:1 at half the
    // ---- corpus via Corpus.resampleToMixture — pure integer acceptance
    // ---- test, so DuckDB reproduces the exact row set ----------------
    Q("q81_domain_mixture",
      (s, dir) => {
        val weights = ((0 to 4).map(i => s"src$i" -> 3) ++
          (5 to 9).map(i => s"src$i" -> 1)).toMap
        graft.text.Corpus.resampleToMixture(
            Tables.loadParallel(s, dir, "documents"),
            "doc_id", "source", weights, targetNum = 1, targetDen = 2)
          .groupBy("source").agg(count(lit(1)).as("kept"))
          .orderBy("source")
      },
      Some(s"""WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
              |          FROM documents GROUP BY source),
              |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
              |w(source, wt) AS (VALUES
              |  ('src0',3),('src1',3),('src2',3),('src3',3),('src4',3),
              |  ('src5',1),('src6',1),('src7',1),('src8',1),('src9',1))
              |SELECT d.source, COUNT(*) AS kept
              |FROM documents d
              |JOIN c ON d.source = c.source
              |JOIN w ON d.source = w.source
              |CROSS JOIN tot
              |WHERE ${graft.text.Corpus.resampleSql("d.doc_id", 20, 1, 2)}
              |GROUP BY d.source ORDER BY d.source""".stripMargin)),

    // ---- LM quality gate: per-doc cross-entropy under an add-one
    // ---- bigram model trained on the corpus itself (the CCNet-style
    // ---- perplexity filter) — counts + one ln per distinct term, so
    // ---- DuckDB reproduces it exactly at the rounded grain -----------
    Q("q82_lm_perplexity",
      (s, dir) => Analytics3.lmScoredCached(s, dir,
          Tables.loadParallel(s, dir, "documents"))
        .orderBy("doc_id"),
      Some(lmScoredCte +
        "\nSELECT doc_id, n_bigrams, cross_entropy FROM scored ORDER BY doc_id")),

    // ---- CCNet head/middle/tail split (Wenzek et al. 2020 §4.4):
    // ---- tercile cuts are exact order statistics of a deterministic
    // ---- sample (the CCNet scale design — only the sample is rank-
    // ---- sorted; cuts travel as broadcast scalars) -------------------
    Q("q104_perplexity_buckets",
      (s, dir) => {
        val scored = Analytics3.lmScoredCached(s, dir,
          Tables.loadParallel(s, dir, "documents"))
        graft.text.LanguageModel.perplexityBuckets(scored,
          scored.filter(col("doc_id") % 10 === 0))
          .orderBy("bucket")
      },
      Some(lmScoredCte + """,
             |s AS (
             |  SELECT cross_entropy AS ce, doc_id FROM scored WHERE doc_id % 10 = 0
             |), ranked AS (
             |  SELECT ce, ROW_NUMBER() OVER (ORDER BY ce, doc_id) AS rn,
             |    COUNT(*) OVER () AS n
             |  FROM s
             |), cuts AS (
             |  SELECT MAX(CASE WHEN rn = CAST(ceil(n / 3.0) AS BIGINT) THEN ce END) AS c1,
             |         MAX(CASE WHEN rn = CAST(ceil(n * 2.0 / 3.0) AS BIGINT) THEN ce END) AS c2
             |  FROM ranked
             |)
             |SELECT CASE WHEN cross_entropy <= c1 THEN 'head'
             |            WHEN cross_entropy <= c2 THEN 'middle'
             |            ELSE 'tail' END AS bucket,
             |  CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  MIN(cross_entropy) AS min_ce,
             |  MAX(cross_entropy) AS max_ce,
             |  ROUND(CAST(SUM(CAST(cross_entropy AS DECIMAL(18, 4))) AS DOUBLE)
             |    / COUNT(*), 4) AS avg_ce
             |FROM scored CROSS JOIN cuts
             |GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // ---- Kneser-Ney LM gate: absolute discounting + continuation
    // ---- counts (Kneser & Ney '95; Chen & Goodman '99) — the standard
    // ---- smoother; same counts-plus-one-ln-per-term portability as
    // ---- q82, with the continuation distribution add-one guarded -----
    Q("q100_lm_kneser_ney",
      (s, dir) => {
        val d = Tables.loadParallel(s, dir, "documents")
        val (big, ctx, n1pr, consts) = Analytics3.lmKneserNeyCached(s, dir, d)
        graft.text.LanguageModel.scoreKneserNey(big, ctx, n1pr, consts, d)
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
             |), db AS (
             |  SELECT doc_id, bg.u AS u, bg.w AS w FROM (
             |    SELECT doc_id, unnest([{'u': t[i], 'w': t[i + 1]}
             |      FOR i IN range(1, len(t))]) AS bg
             |    FROM toks
             |  )
             |), bc AS MATERIALIZED (
             |  SELECT u, w, CAST(COUNT(*) AS BIGINT) AS c2 FROM db GROUP BY u, w
             |), ctx AS (
             |  SELECT u, CAST(SUM(c2) AS BIGINT) AS cu,
             |    CAST(COUNT(*) AS BIGINT) AS n1p
             |  FROM bc GROUP BY u
             |), n1pr AS (
             |  SELECT w, CAST(COUNT(*) AS BIGINT) AS npr FROM bc GROUP BY w
             |), consts AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS btot,
             |    CAST(COUNT(DISTINCT w) AS BIGINT) AS vsz FROM bc
             |), docterms AS (
             |  SELECT doc_id, u, w, CAST(COUNT(*) AS BIGINT) AS n_occ
             |  FROM db GROUP BY doc_id, u, w
             |)
             |SELECT d.doc_id,
             |  CAST(SUM(d.n_occ) AS BIGINT) AS n_bigrams,
             |  ROUND(-SUM(d.n_occ * ln(
             |      (greatest(bc.c2 - 0.75, 0.0) / ctx.cu) +
             |      (((0.75 * ctx.n1p) / ctx.cu) *
             |       ((n1pr.npr + 1.0) / (consts.btot + consts.vsz)))))
             |    / SUM(d.n_occ), 4) AS cross_entropy
             |FROM docterms d
             |JOIN bc ON d.u = bc.u AND d.w = bc.w
             |JOIN ctx ON d.u = ctx.u
             |JOIN n1pr ON d.w = n1pr.w
             |CROSS JOIN consts
             |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin)),

    // ---- capstone: the curation funnel in ONE scan — quality rules,
    // ---- global exact-dedup representative, reproducible split — then
    // ---- per-(split, source) attrition accounting. One window over
    // ---- the norm-hash and one final aggregation; every stage reuses
    // ---- an already-oracled building block (q55 rules, q38 norm-hash,
    // ---- q54 split mixer) ---------------------------------------------
    Q("q83_curation_funnel",
      (s, dir) => {
        val text = col("text")
        val nTok = size(split(text, " ")).cast("double")
        val meanLen = length(text).cast("double") / greatest(nTok, lit(1.0))
        val symRatio = length(regexp_replace(text, "[a-zA-Z0-9 ]", ""))
          .cast("double") / greatest(length(text).cast("double"), lit(1.0))
        val quality = nTok >= 5.0 && nTok <= 5000.0 &&
          meanLen >= 2.0 && meanLen <= 12.0 && symRatio < 0.2
        val normHash = md5(regexp_replace(lower(trim(text)), "\\s+", " "))
        val repW = org.apache.spark.sql.expressions.Window.partitionBy(col("norm_hash"))
        Tables.loadParallel(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            graft.text.Corpus.splitAssign(col("doc_id")).as("split"),
            quality.as("q"), normHash.as("norm_hash"))
          .withColumn("keep_id", min(col("doc_id")).over(repW))
          .groupBy("split", "source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("q"), 1L).otherwise(0L)).as("n_quality"),
            sum(when(col("q") && col("doc_id") === col("keep_id"), 1L)
              .otherwise(0L)).as("n_final"))
          .orderBy("split", "source")
      },
      Some {
        val b = graft.text.Corpus.hashBucketSql("doc_id", 100)
        s"""WITH base AS (
           |  SELECT doc_id, source,
           |    CASE WHEN $b < 80 THEN 'train'
           |         WHEN $b < 90 THEN 'val' ELSE 'test' END AS split,
           |    (CAST(len(string_split(text, ' ')) AS DOUBLE) >= 5.0
           |     AND CAST(len(string_split(text, ' ')) AS DOUBLE) <= 5000.0
           |     AND CAST(length(text) AS DOUBLE)
           |         / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) >= 2.0
           |     AND CAST(length(text) AS DOUBLE)
           |         / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) <= 12.0
           |     AND CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
           |         / greatest(CAST(length(text) AS DOUBLE), 1.0) < 0.2) AS q,
           |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS norm_hash
           |  FROM documents
           |), rep AS (
           |  SELECT *, MIN(doc_id) OVER (PARTITION BY norm_hash) AS keep_id
           |  FROM base
           |)
           |SELECT split, source,
           |  CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
           |  CAST(SUM(CASE WHEN q AND doc_id = keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_final
           |FROM rep
           |GROUP BY split, source ORDER BY split, source""".stripMargin
      }),

    // ---- outer-join reconciliation: customers FULL OUTER JOIN their
    // ---- order aggregates — null-indicator accounting on both sides
    // ---- (completes the §2.6 join matrix: inner/semi/anti/broadcast
    // ---- are oracled elsewhere; this pins the outer family) -----------
    Q("q84_outer_join_recon",
      (s, dir) => {
        val cust = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        val ords = t(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(12,2)"))
              .cast("double").as("total_spend"))
        cust.join(ords, col("c_custkey") === col("o_custkey"), "full_outer")
          .select(
            coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
            col("c_custkey").isNotNull.as("has_customer"),
            col("o_custkey").isNotNull.as("has_orders"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"),
            coalesce(col("total_spend"), lit(0.0)).as("total_spend"))
          .orderBy("custkey")
      },
      Some("""SELECT
             |  COALESCE(c.c_custkey, o.o_custkey) AS custkey,
             |  c.c_custkey IS NOT NULL AS has_customer,
             |  o.o_custkey IS NOT NULL AS has_orders,
             |  COALESCE(o.n_orders, 0) AS n_orders,
             |  COALESCE(o.total_spend, 0.0) AS total_spend
             |FROM customer c
             |FULL OUTER JOIN (
             |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spend
             |  FROM orders GROUP BY o_custkey
             |) o ON c.c_custkey = o.o_custkey
             |ORDER BY custkey""".stripMargin)),

    // ---- audience overlap on SKETCH BYTES: theta sketches support the
    // ---- set operation HLL cannot — per-segment sketches are built
    // ---- once (mergeable partials, O(k) per task) and every pairwise
    // ---- INTERSECTION is estimated from the retained samples, never
    // ---- re-scanning raw events (uniqThetaIntersect analog). Oracled
    // ---- by the q24 pattern: exact pair counts hash-checked, sketch
    // ---- estimates asserted inside the sampling error bound ----------
    Q("q87_theta_overlap",
      (s, dir) => {
        import graft.functions.ThetaSketch
        val o = t(s, dir, "orders")
          .select(col("o_orderpriority").as("p"), col("o_custkey").as("c"))
        val sk = o.groupBy("p")
          .agg(ThetaSketch.sketchAgg(col("c")).as("sk"),
            countDistinct(col("c")).as("nd"))
        val d = o.distinct()
        val exact = d.as("x")
          .join(d.as("y"), col("x.c") === col("y.c") && col("x.p") < col("y.p"))
          .groupBy(col("x.p").as("pa"), col("y.p").as("pb"))
          .agg(count(lit(1)).as("n_both"))
        sk.as("a").join(sk.as("b"), col("a.p") < col("b.p"))
          .select(col("a.p").as("pa"), col("b.p").as("pb"),
            ThetaSketch.intersectEstimate(col("a.sk"), col("b.sk")).as("est"),
            col("a.nd").as("nd_a"), col("b.nd").as("nd_b"))
          .join(exact, Seq("pa", "pb"))
          .select(col("pa"), col("pb"), col("n_both"), col("nd_a"),
            col("nd_b"),
            (abs(col("est") - col("n_both")) <=
              greatest(lit(100.0), (col("nd_a") + col("nd_b")) * lit(0.05)))
              .as("approx_ok"))
          .orderBy("pa", "pb")
      },
      Some("""WITH o AS (
             |  SELECT DISTINCT o_orderpriority AS p, o_custkey AS c FROM orders
             |), nd AS (
             |  SELECT p, CAST(COUNT(*) AS BIGINT) AS nd FROM o GROUP BY p
             |), inter AS (
             |  SELECT x.p AS pa, y.p AS pb, CAST(COUNT(*) AS BIGINT) AS n_both
             |  FROM o x JOIN o y ON x.c = y.c AND x.p < y.p
             |  GROUP BY x.p, y.p
             |)
             |SELECT i.pa, i.pb, i.n_both, na.nd AS nd_a, nb.nd AS nd_b,
             |  TRUE AS approx_ok
             |FROM inter i
             |JOIN nd na ON na.p = i.pa
             |JOIN nd nb ON nb.p = i.pb
             |ORDER BY pa, pb""".stripMargin)),

    // ---- TIME-CONSTRAINED chains: sequence_count_t(view -(≤24h)->
    // ---- click -(≤48h)-> purchase), the ClickHouse `(?t<=n)` form.
    // ---- One shuffle, O(step events) state per key. The DuckDB oracle
    // ---- replays the SAME deterministic timeout-then-advance scan as
    // ---- a per-user recursive CTE over the (ts, bits)-ordered event
    // ---- sequence — an executable restatement of the documented
    // ---- semantics, not an independent heuristic ---------------------
    Q("q88_sequence_count_timed",
      (s, dir) => t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(graft.functions.Funnel.sequenceCountTimed(
          unix_micros(col("ts")),
          Seq(col("event_type") === "view", col("event_type") === "click",
            col("event_type") === "purchase"),
          maxGaps = Seq(86400000000L, 172800000000L)).as("chains"))
        .where(col("chains") >= 1)
        .groupBy("chains")
        .agg(count(lit(1)).as("users"))
        .orderBy("chains"),
      Some("""WITH RECURSIVE ev AS (
             |  SELECT user_id, epoch_us(ts) AS tus,
             |    CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
             |         WHEN 'purchase' THEN 4 END AS bits,
             |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts),
             |      CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
             |           WHEN 'purchase' THEN 4 END) AS rn
             |  FROM events WHERE event_type IN ('view','click','purchase')
             |), scan AS (
             |  SELECT user_id, CAST(0 AS BIGINT) AS rn, 0 AS lvl,
             |    CAST(0 AS BIGINT) AS last_t, CAST(0 AS BIGINT) AS cnt
             |  FROM (SELECT DISTINCT user_id FROM ev)
             |  UNION ALL
             |  SELECT user_id, rn,
             |    CASE WHEN adv THEN (CASE WHEN eff + 1 = 3 THEN 0 ELSE eff + 1 END)
             |         WHEN eff = 0 AND (bits & 1) <> 0 THEN 1
             |         ELSE eff END AS lvl,
             |    CASE WHEN adv OR (eff = 0 AND (bits & 1) <> 0)
             |         THEN tus ELSE last_t END AS last_t,
             |    cnt + CASE WHEN adv AND eff + 1 = 3 THEN 1 ELSE 0 END AS cnt
             |  FROM (
             |    SELECT x.*, (eff > 0 AND (bits & (1 << eff)) <> 0) AS adv
             |    FROM (
             |      SELECT e.user_id, e.rn, e.tus, e.bits, s.last_t, s.cnt,
             |        CASE WHEN s.lvl > 0 AND e.tus - s.last_t >
             |               (CASE s.lvl WHEN 1 THEN 86400000000 ELSE 172800000000 END)
             |             THEN 0 ELSE s.lvl END AS eff
             |      FROM scan s
             |      JOIN ev e ON e.user_id = s.user_id AND e.rn = s.rn + 1
             |    ) x
             |  )
             |), last_state AS (
             |  SELECT user_id, cnt,
             |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn DESC) AS rk
             |  FROM scan
             |)
             |SELECT chains, COUNT(*) AS users FROM (
             |  SELECT cnt AS chains FROM last_state WHERE rk = 1
             |) WHERE chains >= 1 GROUP BY chains ORDER BY chains""".stripMargin)),

    // ---- interpolated TRIGRAM perplexity gate (Jelinek–Mercer over
    // ---- add-one orders 3/2/1): lower orders take over exactly where
    // ---- the trigram context is sparse — the upgrade over q82's
    // ---- bigram gate. Same engine-portable shape: count tables +
    // ---- equi-joins + one ln per distinct (doc, trigram) -------------
    Q("q89_lm_trigram",
      (s, dir) => {
        val d = Tables.loadParallel(s, dir, "documents")
        // self-scored corpus: every doc trigram is a seen type, so the
        // probe is one join against the cached type-score table
        graft.text.LanguageModel
          .scoreTrigramSelf(Analytics3.lmTrigramTypesCached(s, dir, d), d)
          .orderBy("doc_id")
      },
      // MATERIALIZED hints: DuckDB inlines multiply-referenced CTEs by
      // default here, and the resulting plan for this 5-join + 1-row
      // aggregate shape degenerates (hung >60s at sf0.001 without them)
      Some("""WITH toks AS MATERIALIZED (
             |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
             |), uni AS MATERIALIZED (
             |  SELECT u, CAST(COUNT(*) AS BIGINT) AS c1
             |  FROM (SELECT unnest(t) AS u FROM toks) GROUP BY u
             |), tot AS MATERIALIZED (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS vsz,
             |         CAST(SUM(c1) AS BIGINT) AS ntok FROM uni
             |), db AS (
             |  SELECT doc_id, bg.u AS u, bg.w AS w FROM (
             |    SELECT doc_id, unnest([{'u': t[i], 'w': t[i + 1]}
             |      FOR i IN range(1, len(t))]) AS bg
             |    FROM toks)
             |), bc AS MATERIALIZED (
             |  SELECT u, w, CAST(COUNT(*) AS BIGINT) AS c2 FROM db GROUP BY u, w
             |), dt AS MATERIALIZED (
             |  SELECT doc_id, tg.u AS u, tg.v AS v, tg.w AS w FROM (
             |    SELECT doc_id, unnest([{'u': t[i], 'v': t[i + 1], 'w': t[i + 2]}
             |      FOR i IN range(1, len(t) - 1)]) AS tg
             |    FROM toks WHERE len(t) >= 3)
             |), tc AS (
             |  SELECT u, v, w, CAST(COUNT(*) AS BIGINT) AS c3
             |  FROM dt GROUP BY u, v, w
             |), docterms AS (
             |  SELECT doc_id, u, v, w, CAST(COUNT(*) AS BIGINT) AS n_occ
             |  FROM dt GROUP BY doc_id, u, v, w
             |)
             |SELECT d.doc_id,
             |  CAST(SUM(d.n_occ) AS BIGINT) AS n_trigrams,
             |  ROUND(-SUM(d.n_occ * ln(
             |      0.7 * (tc.c3 + 1.0) / (cuv.c2 + tot.vsz) +
             |      0.2 * (cvw.c2 + 1.0) / (uv.c1 + tot.vsz) +
             |      0.1 * (uw.c1 + 1.0) / (tot.ntok + tot.vsz)))
             |    / SUM(d.n_occ), 4) AS cross_entropy
             |FROM docterms d
             |JOIN tc ON d.u = tc.u AND d.v = tc.v AND d.w = tc.w
             |JOIN bc cuv ON d.u = cuv.u AND d.v = cuv.w
             |JOIN bc cvw ON d.v = cvw.u AND d.w = cvw.w
             |JOIN uni uv ON d.v = uv.u
             |JOIN uni uw ON d.w = uw.u
             |CROSS JOIN tot
             |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin)),

    // ---- array-function surface (ClickHouse arrayJoin/arrayMap/
    // ---- arrayFilter/arrayReduce/groupUniqArray analogs): Spark's
    // ---- codegen'd higher-order functions filter/transform/aggregate
    // ---- + collect_set, all inside one scan-side projection — no
    // ---- explode needed until the data truly widens ------------------
    Q("q90_array_functions",
      (s, dir) => {
        val toks = split(col("text"), " ")
        t(s, dir, "documents")
          .select(col("lang"),
            size(toks).as("n_toks"),
            size(filter(toks, x => length(x) > 5)).as("n_long"),
            aggregate(transform(toks, x => length(x)), lit(0),
              (a, x) => a + x).as("n_chars"),
            element_at(toks, 1).as("first_tok"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_toks")).cast("long").as("total_toks"),
            sum(col("n_long")).cast("long").as("total_long"),
            sum(col("n_chars")).cast("long").as("total_chars"),
            concat_ws(",", array_sort(collect_set(col("first_tok"))))
              .as("first_toks"))
          .orderBy("lang")
      },
      Some("""WITH d AS (SELECT lang, string_split(text, ' ') AS toks
             |          FROM documents)
             |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(len(toks)) AS BIGINT) AS total_toks,
             |  CAST(SUM(len(list_filter(toks, x -> len(x) > 5))) AS BIGINT)
             |    AS total_long,
             |  CAST(SUM(list_sum(list_transform(toks, x -> len(x)))) AS BIGINT)
             |    AS total_chars,
             |  array_to_string(list_sort(list(DISTINCT toks[1])), ',')
             |    AS first_toks
             |FROM d GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- weighted heavy hitters (ClickHouse topKWeighted analog):
    // ---- top spenders per order priority by SUMMED weight, not
    // ---- occurrence count. Capacity is sized from the customer
    // ---- dimension's cardinality (1-row metadata agg, the q145
    // ---- pattern): Space-Saving with capacity ≥ distinct keys is
    // ---- exact, which is what lets the oracle hash-check it at any
    // ---- sf — a fixed 16384 went approximate (and over-estimated)
    // ---- once sf0.3 tripled the key space. The bounded-capacity
    // ---- approximate regime keeps its (weight, err) guarantee and
    // ---- is spec-covered in HeavyHittersSpec. ----------------------
    Q("q91_topk_weighted",
      (s, dir) => {
        val cents = round(col("o_totalprice") * 100).cast("long")
        val cap = t(s, dir, "customer").count().toInt + 1
        t(s, dir, "orders")
          .groupBy(col("o_orderpriority").as("p"))
          .agg(graft.functions.HeavyHitters.approxTopKWeighted(
            col("o_custkey"), cents, 3, cap).as("tk"))
          .select(col("p"), posexplode(col("tk")))
          .select(col("p"), (col("pos") + 1).cast("int").as("rank"),
            col("col.item").as("custkey"), col("col.cnt").as("cents"))
          .orderBy("p", "rank")
      },
      Some("""SELECT p, CAST(rk AS INTEGER) AS rank, custkey, cents FROM (
             |  SELECT o_orderpriority AS p,
             |    CAST(o_custkey AS VARCHAR) AS custkey,
             |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |      AS cents,
             |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
             |      ORDER BY SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) DESC,
             |               CAST(o_custkey AS VARCHAR)) AS rk
             |  FROM orders GROUP BY o_orderpriority, o_custkey
             |) WHERE rk <= 3
             |ORDER BY p, rank""".stripMargin)),

    // ---- time-series gap fill (ORDER BY ... WITH FILL STEP analog):
    // ---- every event type gets one row per 6-hour tick across its
    // ---- own observed span, absent ticks zero-filled. The dense axis
    // ---- comes from sequence()+explode off the span row — O(span)
    // ---- rows per group, no second fact-table pass, no driver range -
    Q("q92_gap_fill",
      (s, dir) => graft.operators.GapFill.fillTimeSeries(
          t(s, dir, "events"), tsCol = "ts", groupCols = Seq("event_type"),
          aggs = Map("n" -> count(lit(1))), stepSec = 21600L)
        .select(col("event_type"),
          date_format(col("tick"), "yyyy-MM-dd HH:mm:ss").as("tick"),
          col("n"))
        .orderBy("event_type", "tick"),
      Some("""WITH e AS (
             |  SELECT event_type,
             |    (epoch_us(ts) // 1000000 // 21600) * 21600 AS tick
             |  FROM events
             |), obs AS (
             |  SELECT event_type, tick, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM e GROUP BY event_type, tick
             |), span AS (
             |  SELECT event_type, MIN(tick) AS lo, MAX(tick) AS hi
             |  FROM e GROUP BY event_type
             |), axis AS (
             |  SELECT event_type, unnest(generate_series(lo, hi, 21600)) AS tick
             |  FROM span
             |)
             |SELECT a.event_type,
             |  strftime(make_timestamp(a.tick * 1000000), '%Y-%m-%d %H:%M:%S')
             |    AS tick,
             |  COALESCE(o.n, 0) AS n
             |FROM axis a
             |LEFT JOIN obs o ON a.event_type = o.event_type AND a.tick = o.tick
             |ORDER BY a.event_type, a.tick""".stripMargin)),

    // ---- time-decayed average (exponentialTimeDecayedAvg analog):
    // ---- recency-weighted event value per user, τ = 7 days. The
    // ---- permutation-invariant ratio-of-sums form — one reference-
    // ---- time aggregation + one weighted-sum aggregation, both
    // ---- partial-agg'd, no ordered scan — is what makes it both
    // ---- scale-correct and oracle-able --------------------------------
    Q("q93_time_decayed_avg",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .withColumn("tsec", unix_micros(col("ts")) / lit(1000000.0))
        graft.operators.Decay.timeDecayedAvg(
            ev, "tsec", "value", Seq("user_id"), tauSec = 604800.0)
          .select(col("user_id"),
            round(col("decayed_avg"), 6).as("decayed_avg"))
          .orderBy("user_id")
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) / 1000000.0 AS tsec,
             |         CAST(value AS DOUBLE) AS v
             |  FROM events
             |), r AS (
             |  SELECT user_id, MAX(tsec) AS tref FROM e GROUP BY user_id
             |)
             |SELECT e.user_id,
             |  ROUND(SUM(v * exp((tsec - tref) / 604800.0))
             |      / SUM(exp((tsec - tref) / 604800.0)), 6) AS decayed_avg
             |FROM e JOIN r USING (user_id)
             |GROUP BY e.user_id ORDER BY user_id""".stripMargin)),

    // ---- Z-order (Morton) layout key: the Delta OPTIMIZE ZORDER BY
    // ---- analog — bucketing the curve shows every bucket's (min,max)
    // ---- envelope bounded in BOTH dimensions, which is exactly the
    // ---- file-skipping property the layout buys at 100 TB; the oracle
    // ---- recomputes the interleave bit-by-bit in SQL -----------------
    Q("q107_zorder_layout",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val u = col("user_id").cast("long")
        val h = floor(unix_timestamp(col("ts")) / lit(3600)).cast("long")
        ev.select(graft.functions.ZOrder.zorder(u, h).as("z"),
            u.as("u"), h.as("h"))
          .groupBy(shiftright(col("z"), 12).as("bucket"))
          .agg(count(lit(1)).as("n"),
            min("u").as("min_u"), max("u").as("max_u"),
            min("h").as("min_h"), max("h").as("max_h"))
          .orderBy("bucket")
      },
      Some(s"""WITH uh AS (
             |  SELECT user_id AS u,
             |    CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h
             |  FROM events
             |), zt AS (
             |  SELECT ${graft.functions.ZOrder.mortonSql("u", "h")} AS z, u, h
             |  FROM uh
             |)
             |SELECT z >> 12 AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
             |  MIN(u) AS min_u, MAX(u) AS max_u,
             |  MIN(h) AS min_h, MAX(h) AS max_h
             |FROM zt GROUP BY 1 ORDER BY bucket""".stripMargin))
  )
}
