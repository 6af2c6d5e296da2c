package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.CountMin
import graft.sources.Tables
import graft.text.{Corpus, TextAnalysis}

/** Sixth analytics pack (round 6, session 4): sorted-neighborhood
  * entity resolution, lexical-diversity gating, n-gram containment
  * (subset-duplicate) detection, train/test n-gram novelty, and the
  * Count-Min frequency sketch. Same determinism discipline as the
  * earlier packs — integer/decimal accumulation wherever partition
  * order could leak into a double, 4-dp rounding at the established
  * "ln grain" for transcendental sums — so every query has an exact
  * DuckDB oracle. */
object Analytics6 {

  /** Sorted-neighborhood window size (pairs per row) and match bound. */
  private val SnWindow = 4
  private val SnMaxDist = 3

  /** q139's split: the q54 assignment (bucket < 80 train, >= 90 test). */
  private val NoveltyK = 8

  /** DuckDB word-k-gram CTE `sh(id, sh, n)` over a `documents` slice —
    * same list-comprehension idiom the q37 oracle proved byte-parity
    * for against [[Dedup.shingles]]. */
  private def shingleCte(k: Int, where: String): String =
    s"""sh AS MATERIALIZED (
       |  SELECT doc_id AS id, sl AS sh, len(sl) AS n FROM (
       |    SELECT doc_id,
       |      list_distinct([array_to_string(toks[i:i+${k - 1}], ' ')
       |        FOR i IN range(1, greatest(len(toks) - ${k - 2}, 1))]) AS sl
       |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
       |          FROM documents $where)
       |  ) WHERE len(sl) > 0
       |)""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- sorted-neighborhood entity resolution (Hernández & Stolfo
    // ---- 1995): sort within a blocking key, compare each row to its
    // ---- next w neighbors only — O(n·w) verifies instead of the
    // ---- O(n²) all-pairs form q48 bounds by slicing. The window rides
    // ---- the sort, so candidates never shuffle twice; at cluster
    // ---- scale the block key range-partitions and each block sorts
    // ---- independently (cross-block misses are inherent to blocking;
    // ---- the standard fix is a second pass with a different key) ----
    Q("q136_sorted_neighborhood",
      (s, dir) => {
        // The 1-char block key has ≤ alphabet-many values at ANY scale
        // — partitionBy(blk) would sort each block's whole slice of a
        // 100 TB part table in one task. Instead: global rank with blk
        // LEADING the total order (same-block rows are contiguous, so
        // "i-th next row within the block" == rank rn+i with an equal
        // blk), then the lead() window becomes an equi-join on
        // (blk, rank) — hash-distributed on the data-scaled rank.
        val parts = t(s, dir, "part")
          .withColumn("blk", substring(col("p_name"), 1, 1))
        val ranked = graft.operators.Ranks.withGlobalRank(parts,
            Seq(col("blk"), col("p_name"), col("p_partkey")), "rn")
          .select(col("blk"), col("rn"), col("p_partkey"), col("p_name"))
        val probes = ranked.select(col("blk"), col("p_partkey"),
          col("p_name"),
          explode(sequence(col("rn") + 1L,
            col("rn") + lit(SnWindow.toLong))).as("nrn"))
        probes.join(ranked.select(col("blk"), col("rn").as("nrn"),
            col("p_partkey").as("nid"), col("p_name").as("nname")),
            Seq("blk", "nrn"))
          .withColumn("dist", levenshtein(col("p_name"), col("nname")))
          .where(col("dist") <= SnMaxDist)
          .select(least(col("p_partkey"), col("nid")).as("id_a"),
            greatest(col("p_partkey"), col("nid")).as("id_b"),
            col("dist").cast("int").as("dist"))
          .orderBy("id_a", "id_b")
      },
      Some {
        val leadCols = (1 to SnWindow).map(i =>
          s"lead(p_partkey, $i) OVER w AS id$i, lead(p_name, $i) OVER w AS nm$i")
          .mkString(",\n    ")
        val arms = (1 to SnWindow).map(i =>
          s"""SELECT p_partkey AS ida, id$i AS idb,
             |    levenshtein(p_name, nm$i) AS dist FROM l WHERE id$i IS NOT NULL"""
            .stripMargin)
          .mkString("\n  UNION ALL ")
        s"""WITH l AS (
           |  SELECT p_partkey, p_name,
           |    $leadCols
           |  FROM part
           |  WINDOW w AS (PARTITION BY substr(p_name, 1, 1)
           |               ORDER BY p_name, p_partkey)
           |), pairs AS (
           |  $arms
           |)
           |SELECT LEAST(ida, idb) AS id_a, GREATEST(ida, idb) AS id_b,
           |  CAST(dist AS INTEGER) AS dist
           |FROM pairs WHERE dist <= $SnMaxDist
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // ---- lexical-diversity gate: unigram entropy, type-token ratio,
    // ---- top-token mass per document — the quality signal that
    // ---- catches keyword-stuffed / boilerplate docs that pass length
    // ---- checks. Entirely map-side higher-order functions: zero
    // ---- exchanges, embarrassingly parallel at any scale. (For very
    // ---- long docs the O(distinct·len) per-row filter scan would
    // ---- switch to the explode+groupBy shape; these docs are short.)
    Q("q137_lexical_entropy",
      (s, dir) => {
        val toks = TextAnalysis.tokens(col("text"))
        val n = size(toks).cast("double")
        val counts = transform(array_distinct(toks),
          tk => size(filter(toks, x => x === tk)).cast("double"))
        val ent = round(-aggregate(counts, lit(0.0d),
          (acc, c) => acc + (c / n) * log(c / n)), 4)
        t(s, dir, "documents")
          .select(col("doc_id"),
            n.cast("long").as("n_tokens"),
            size(array_distinct(toks)).cast("long").as("n_distinct"),
            round(size(array_distinct(toks)) / n, 4).as("ttr"),
            ent.as("entropy"),
            round(array_max(counts) / n, 4).as("top_frac"),
            (ent < 3.5d).as("low_diversity"))
          .orderBy("doc_id")
      },
      Some("""WITH tk AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
             |), cnt AS (
             |  SELECT doc_id, tok, COUNT(*) AS c FROM tk GROUP BY doc_id, tok
             |), tot AS (
             |  SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS n FROM tk GROUP BY doc_id
             |)
             |SELECT c.doc_id,
             |  CAST(ANY_VALUE(t.n) AS BIGINT) AS n_tokens,
             |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
             |  ROUND(CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(t.n), 4) AS ttr,
             |  ROUND(-SUM((c::DOUBLE / t.n) * ln(c::DOUBLE / t.n)), 4) AS entropy,
             |  ROUND(CAST(MAX(c) AS DOUBLE) / ANY_VALUE(t.n), 4) AS top_frac,
             |  ROUND(-SUM((c::DOUBLE / t.n) * ln(c::DOUBLE / t.n)), 4) < 3.5
             |    AS low_diversity
             |FROM cnt c JOIN tot t USING (doc_id)
             |GROUP BY c.doc_id
             |ORDER BY doc_id""".stripMargin)),

    // ---- n-gram CONTAINMENT audit: |A ∩ B| / |A| >= threshold, a ≠ b —
    // ---- the asymmetric partner of q37's Jaccard. Containment catches
    // ---- quote-inclusion and partial copies that Jaccard dilutes
    // ---- (a 100-shingle doc fully inside a 1000-shingle doc has
    // ---- J = 0.1 but containment 1.0). Same inverted-index join
    // ---- shape as q37 — candidates are postings intersections, never
    // ---- all-pairs — on the same bounded audit slice --------------
    Q("q138_containment_pairs",
      (s, dir) => {
        val d = Tables.loadParallel(s, dir, "documents")
          .filter(col("doc_id") < 300)
        val sh = d
          .select(col("doc_id").as("id"), Dedup.shingles(col("text"), 3).as("sh"))
          .where(size(col("sh")) > 0)
        val inv = sh.select(col("id"), size(col("sh")).as("n"),
          explode(col("sh")).as("shingle"))
        inv.select(col("shingle"), col("id").as("id_a"), col("n").as("n_a"))
          .join(inv.select(col("shingle"), col("id").as("id_b")), Seq("shingle"))
          .where(col("id_a") =!= col("id_b"))
          .groupBy("id_a", "id_b")
          .agg(count(lit(1)).cast("double").as("inter"),
            first(col("n_a")).cast("double").as("na"))
          .withColumn("containment", col("inter") / col("na"))
          .where(col("containment") >= 0.7)
          .select(col("id_a"), col("id_b"), round(col("containment"), 6).as("containment"))
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH ${shingleCte(3, "WHERE doc_id < 300")},
              |inv AS (
              |  SELECT id, n, unnest(sh) AS shingle FROM sh
              |)
              |SELECT x.id AS id_a, y.id AS id_b,
              |  ROUND(CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(x.n), 6) AS containment
              |FROM inv x JOIN inv y ON x.shingle = y.shingle AND x.id <> y.id
              |GROUP BY x.id, y.id
              |HAVING CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(x.n) >= 0.7
              |ORDER BY id_a, id_b""".stripMargin)),

    // ---- train/test n-gram novelty (the memorization / contamination
    // ---- metric of Lee et al. ACL 2022 §5): for each test-split doc,
    // ---- the fraction of its distinct 8-gram spans never seen in the
    // ---- train split. One distinct-span table per side, one equi-join
    // ---- on the span string — O(postings), never doc × doc. Split
    // ---- assignment is the q54 hash (stable as the corpus grows) ----
    Q("q139_ngram_novelty",
      (s, dir) => {
        val d = Tables.loadParallel(s, dir, "documents")
          .withColumn("bucket", Corpus.hashBucket(col("doc_id"), 100))
        def spans(df: DataFrame): DataFrame = df
          .select(col("doc_id"), explode(Dedup.shingles(col("text"), NoveltyK)).as("span"))
        val trainSpans = spans(d.where(col("bucket") < 80))
          .select("span").distinct().withColumn("seen", lit(1))
        spans(d.where(col("bucket") >= 90))
          .join(trainSpans, Seq("span"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_spans"),
            count(col("seen")).as("n_seen"))
          .select(col("doc_id"), col("n_spans"), col("n_seen"),
            round(lit(1.0d) - col("n_seen") / col("n_spans").cast("double"), 4)
              .as("novelty"))
          .orderBy("doc_id")
      },
      Some {
        val b = Corpus.hashBucketSql("doc_id", 100)
        s"""WITH sp AS (
           |  SELECT doc_id, $b AS bucket, unnest(sl) AS span FROM (
           |    SELECT doc_id,
           |      list_distinct([array_to_string(toks[i:i+${NoveltyK - 1}], ' ')
           |        FOR i IN range(1, greatest(len(toks) - ${NoveltyK - 2}, 1))]) AS sl
           |    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
           |  )
           |), train AS (
           |  SELECT DISTINCT span FROM sp WHERE bucket < 80
           |)
           |SELECT doc_id,
           |  CAST(COUNT(*) AS BIGINT) AS n_spans,
           |  CAST(COUNT(t.span) AS BIGINT) AS n_seen,
           |  ROUND(1.0 - CAST(COUNT(t.span) AS DOUBLE) / COUNT(*), 4) AS novelty
           |FROM sp LEFT JOIN train t USING (span)
           |WHERE bucket >= 90
           |GROUP BY doc_id
           |ORDER BY doc_id""".stripMargin
      }),

    // ---- Count-Min frequency sketch (Cormode & Muthukrishnan 2005):
    // ---- point-frequency estimates from a fixed depth×width counter
    // ---- array — the summary that answers "how often did X occur"
    // ---- over an unbounded vocabulary without a count table. Each
    // ---- task folds its partition into one 4×512 buffer before the
    // ---- exchange; estimates are a min over 4 cells. Portable md5
    // ---- hashing makes every cell — and so every estimate — exactly
    // ---- replayable by the oracle; the output checks the one-sided
    // ---- guarantee (est >= exact, gap = collisions only) -----------
    Q("q140_cms_freq",
      (s, dir) => {
        val tk = Tables.loadParallel(s, dir, "documents")
          .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        val sk = tk.agg(CountMin.sketchAgg(col("tok"), lit(1L)).as("sk"))
        tk.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
          .orderBy(desc("exact_cnt"), asc("tok"))
          .limit(20)
          .crossJoin(broadcast(sk)) // 1-row aggregate: broadcast scalar
          .select(col("tok"), col("exact_cnt"),
            CountMin.estimate(col("sk"), col("tok")).as("est"))
          .withColumn("overcount", col("est") - col("exact_cnt"))
          .orderBy(desc("exact_cnt"), asc("tok"))
      },
      Some(s"""WITH tk AS (
              |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
              |), cnt AS (
              |  SELECT tok, COUNT(*) AS c FROM tk GROUP BY tok
              |), ${CountMin.estimateCtes("cnt")}
              |SELECT tok, CAST(c AS BIGINT) AS exact_cnt,
              |  CAST(est AS BIGINT) AS est,
              |  CAST(est - c AS BIGINT) AS overcount
              |FROM cmsest
              |ORDER BY exact_cnt DESC, tok
              |LIMIT 20""".stripMargin))
  )
}
