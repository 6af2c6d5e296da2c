package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Sixty-fourth analytics pack (round 6, session 9): corpus
  * engineering over the documents table — the context-length
  * truncation-loss panel, the shingle saturation curve (how fast new
  * 3-word shingles dry up in ingest order), the duplicate-cluster
  * size histogram, per-source marginal vocabulary contribution, and
  * token-mass concentration in the top-k terms.
  *
  * Exactness discipline: everything is exact integer counting —
  * character sums, first-occurrence ranks via min(doc_id), cluster
  * sizes via md5(text) grouping — with at most one final division
  * per ratio. */
object Analytics64 {

  val all: Seq[Q] = Seq(

    // ---- truncation-loss panel: for context budgets L ∈ {128, 256,
    // ---- 512, 1024} chars, how many docs get cut and what fraction
    // ---- of total characters is lost — the first question a
    // ---- context-length change asks of a corpus. --------------------
    Q("q426_truncation_loss",
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("n_chars"))
        val lims = s.range(7, 11)
          .select(pow(lit(2.0), col("id").cast("double")).cast("long")
            .as("limit_chars"))
        docs.crossJoin(broadcast(lims))
          .groupBy("limit_chars")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("n_chars") > col("limit_chars"), 1L)
              .otherwise(0L)).as("docs_truncated"),
            sum(greatest(col("n_chars") - col("limit_chars"), lit(0L)))
              .as("chars_lost"),
            sum(col("n_chars")).as("chars_total"))
          .select(col("limit_chars"), col("n_docs"),
            col("docs_truncated"),
            round(col("chars_lost").cast("double")
              / col("chars_total").cast("double"), 6)
              .as("frac_chars_lost"))
      },
      Some("""WITH lims AS (
             |  SELECT CAST(1 << CAST(range AS INT) AS BIGINT)
             |    AS limit_chars
             |  FROM range(7, 11)
             |)
             |SELECT limit_chars, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(CASE WHEN n_chars > limit_chars THEN 1 ELSE 0
             |    END) AS BIGINT) AS docs_truncated,
             |  ROUND(CAST(SUM(GREATEST(n_chars - limit_chars, 0))
             |      AS DOUBLE)
             |    / CAST(SUM(n_chars) AS DOUBLE), 6) AS frac_chars_lost
             |FROM documents CROSS JOIN lims
             |GROUP BY 1""".stripMargin)),

    // ---- shingle saturation: 3-word shingles keyed by their first-
    // ---- occurrence doc (ingest order = doc_id); docs bucketed into
    // ---- quartiles by rank, each quartile reporting its new-shingle
    // ---- yield — the dry-up curve an admission gate watches. --------
    Q("q427_shingle_saturation",
      (s, dir) => {
        // r12: the triple positional self-join shuffled the exploded
        // token stream three times (and re-ran the explode per branch);
        // posexplode emits DENSE 0-based positions, so pos+1/pos+2 are
        // exactly lead(1)/lead(2) over the per-doc position order — ONE
        // exchange (hash by doc_id, a key-grain window) replaces three
        // (guide §2.4). loadParallel parallelizes the explode itself
        // out of the single-task row-group scan (§2.5).
        val words = Tables.loadParallel(s, dir, "documents")
          .select(col("doc_id"), posexplode(split(col("text"), " ")))
          .toDF("doc_id", "pos", "w")
        val wd = Window.partitionBy("doc_id").orderBy("pos")
        val sh = words
          .withColumn("w2", lead(col("w"), 1).over(wd))
          .withColumn("w3", lead(col("w"), 2).over(wd))
          .where(col("w3").isNotNull)
          .select(col("doc_id"),
            concat_ws(" ", col("w"), col("w2"), col("w3"))
              .as("sh"))
        val firsts = sh.groupBy("sh").agg(min(col("doc_id")).as("fd"))
        // arrival quartiles via distributed rank (doc-grain)
        val docsIds = t(s, dir, "documents").select(col("doc_id"))
        val ranked = graft.operators.Ranks
          .withGlobalRank(docsIds, Seq(col("doc_id")), "rk")
          .crossJoin(broadcast(
            docsIds.agg(count(lit(1)).cast("long").as("nd"))))
          .select(col("doc_id"), expr("((rk - 1) * 4) div nd + 1")
            .as("quartile"))
        firsts.join(ranked, col("fd") === col("doc_id"))
          .groupBy("quartile")
          .agg(count(lit(1)).as("new_shingles"))
          .withColumn("cum_shingles",
            sum(col("new_shingles")).over(Window.orderBy("quartile")
              .rowsBetween(Window.unboundedPreceding, 0)))
      },
      Some("""WITH words AS MATERIALIZED (
             |  SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.w
             |  FROM documents,
             |    LATERAL (SELECT UNNEST(string_split(text, ' ')) AS w,
             |      generate_subscripts(string_split(text, ' '), 1)
             |        AS pos) u
             |), sh AS (
             |  SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
             |  FROM words a
             |  JOIN words b ON a.doc_id = b.doc_id
             |    AND b.pos = a.pos + 1
             |  JOIN words c ON a.doc_id = c.doc_id
             |    AND c.pos = a.pos + 2
             |), firsts AS (
             |  SELECT sh, CAST(MIN(doc_id) AS BIGINT) AS fd
             |  FROM sh GROUP BY 1
             |), ranked AS (
             |  SELECT doc_id,
             |    ((CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT)
             |      - 1) * 4) // (CAST(COUNT(*) OVER () AS BIGINT)) + 1
             |      AS quartile
             |  FROM documents
             |), agg AS (
             |  SELECT quartile, CAST(COUNT(*) AS BIGINT) AS new_shingles
             |  FROM firsts JOIN ranked ON fd = doc_id
             |  GROUP BY 1
             |)
             |SELECT quartile, new_shingles,
             |  CAST(SUM(new_shingles) OVER (ORDER BY quartile
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS BIGINT) AS cum_shingles
             |FROM agg""".stripMargin)),

    // ---- duplicate-cluster size histogram: md5(text) identity
    // ---- clusters, their size distribution and the share of corpus
    // ---- mass sitting in non-singleton clusters. --------------------
    Q("q428_dup_cluster_histogram",
      (s, dir) => {
        val sizes = t(s, dir, "documents")
          .groupBy(md5(col("text")).as("h"))
          .agg(count(lit(1)).as("sz"))
        val tot = sizes.agg(sum(col("sz")).as("nd"))
        sizes.groupBy("sz").agg(count(lit(1)).as("n_clusters"))
          .crossJoin(broadcast(tot))
          .select(col("sz").as("cluster_size"), col("n_clusters"),
            round((col("sz") * col("n_clusters")).cast("double")
              / col("nd").cast("double"), 6).as("doc_share"))
      },
      Some("""WITH sizes AS (
             |  SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS sz
             |  FROM documents GROUP BY 1
             |), tot AS (
             |  SELECT CAST(SUM(sz) AS BIGINT) AS nd FROM sizes
             |)
             |SELECT sz AS cluster_size,
             |  CAST(COUNT(*) AS BIGINT) AS n_clusters,
             |  ROUND(CAST(sz * COUNT(*) AS DOUBLE)
             |    / CAST(MAX(nd) AS DOUBLE), 6) AS doc_share
             |FROM sizes CROSS JOIN tot
             |GROUP BY sz, nd""".stripMargin)),

    // ---- per-source marginal vocabulary contribution in numeric
    // ---- source order (src0, src1, …): first-claiming source per
    // ---- term, each source's new-term yield and the cumulative
    // ---- coverage share. -------------------------------------------
    Q("q429_vocab_contribution",
      (s, dir) => {
        val occ = t(s, dir, "documents")
          .select(substring(col("source"), 4, 10).cast("long")
            .as("srcnum"),
            explode(split(col("text"), " ")).as("w"))
          .where(length(col("w")) >= 1)
        val firsts = occ.groupBy("w").agg(min(col("srcnum")).as("fs"))
        // Source count is data-scaled (far smaller than vocab, but not
        // bounded by construction): the running coverage goes through
        // the range-partitioned prefix sum, not an unpartitioned
        // window. Its group total IS the vocabulary size (every term
        // has exactly one first-claiming source), so the separate
        // vocab-count aggregate + crossJoin drop out too.
        graft.operators.Ranks.withPrefixSum(
            firsts.groupBy(col("fs").as("source_num"))
              .agg(count(lit(1)).as("new_terms")),
            Seq.empty, Seq(col("source_num")),
            col("new_terms"), "cum_terms", "_v")
          .select(col("source_num"), col("new_terms"),
            col("cum_terms"),
            round(col("cum_terms").cast("double")
              / col("_v").cast("double"), 6).as("cum_coverage"))
      },
      Some("""WITH occ AS (
             |  SELECT CAST(SUBSTR(source, 4) AS BIGINT) AS srcnum,
             |    UNNEST(string_split(text, ' ')) AS w
             |  FROM documents
             |), firsts AS (
             |  SELECT w, CAST(MIN(srcnum) AS BIGINT) AS fs
             |  FROM occ WHERE LENGTH(w) >= 1 GROUP BY 1
             |), vocab AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS v FROM firsts
             |), agg AS (
             |  SELECT fs AS source_num,
             |    CAST(COUNT(*) AS BIGINT) AS new_terms
             |  FROM firsts GROUP BY 1
             |)
             |SELECT source_num, new_terms,
             |  CAST(SUM(new_terms) OVER (ORDER BY source_num
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS BIGINT) AS cum_terms,
             |  ROUND(CAST(SUM(new_terms) OVER (ORDER BY source_num
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS DOUBLE)
             |    / (SELECT CAST(v AS DOUBLE) FROM vocab), 6)
             |    AS cum_coverage
             |FROM agg""".stripMargin)),

    // ---- token-mass concentration: the share of total token mass
    // ---- carried by the top-10 / top-100 / top-1000 terms (ranked by
    // ---- count with term tie-break) — the Zipf head a tokenizer or
    // ---- stopword list actually faces. ------------------------------
    Q("q430_token_mass_concentration",
      (s, dir) => {
        // Zipf head WITHOUT ranking the full vocabulary (data-scaled
        // under Heaps' law) in one task: a single bounded TopKAgg heap
        // (k = 1000, the largest cut) reduces every partition to 1000
        // census entries BEFORE the shuffle; head mass at each cut is
        // a slice-sum of the (score DESC)-sorted heap array. Boundary
        // ties carry EQUAL counts, so which tied term the heap keeps
        // cannot change the mass — the sum is tie-invariant and
        // hash-exact against the ROW_NUMBER oracle. Counts ride as the
        // heap score (long < 2^53, exact in the double).
        val counts = t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c"))
        val top = counts.agg(
          graft.functions.TopKAgg.topKBy(col("c").cast("double"),
            xxhash64(col("w")), 1000).as("tk"),
          sum(col("c")).as("mass"), count(lit(1)).as("vocab"))
        val ks = s.range(1, 4)
          .select(pow(lit(10.0), col("id").cast("double"))
            .cast("long").as("k"))
        top.crossJoin(broadcast(ks))
          .select(col("k").as("top_k"), col("vocab"),
            round(
              aggregate(slice(col("tk"), lit(1), col("k").cast("int")),
                lit(0.0), (acc, x) => acc + x.getField("score"))
              / col("mass").cast("double"), 6).as("mass_share"))
      },
      Some("""WITH counts AS (
             |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
             |    SELECT UNNEST(string_split(text, ' ')) AS w
             |    FROM documents) z
             |  GROUP BY 1
             |), ranked AS (
             |  SELECT c, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, w)
             |    AS BIGINT) AS rk
             |  FROM counts
             |), tot AS (
             |  SELECT CAST(SUM(c) AS BIGINT) AS mass,
             |    CAST(COUNT(*) AS BIGINT) AS vocab
             |  FROM counts
             |), ks AS (
             |  SELECT CAST(pow(10.0, CAST(range AS DOUBLE)) AS BIGINT)
             |    AS k
             |  FROM range(1, 4)
             |)
             |SELECT k AS top_k, vocab,
             |  ROUND(CAST(SUM(c) AS DOUBLE) / CAST(MAX(mass) AS DOUBLE),
             |    6) AS mass_share
             |FROM ranked CROSS JOIN ks CROSS JOIN tot
             |WHERE rk <= k
             |GROUP BY k, vocab""".stripMargin)),
  )
}
