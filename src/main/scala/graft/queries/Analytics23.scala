package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sim.Similarity
import graft.sources.Tables

/** Twenty-third analytics pack (round 6, session 7): sweep-line
  * interval concurrency, Adamic–Adar link prediction over the cached
  * trade graph, ROC-AUC / calibration evaluation of a document-quality
  * signal, blocked edit-distance pair census, and mutual-nearest-
  * neighbor embedding pairs (the symmetric-match step of alignment /
  * dedup pipelines).
  *
  * Determinism discipline matches the earlier packs: rank statistics
  * ride integral doubled ranks (q191's trick), float terms are rounded
  * onto a fixed decimal grid before the order-free decimal sum, and
  * every ranking decision tie-breaks on ids. */
object Analytics23 {

  val all: Seq[Q] = Seq(

    // ---- sweep-line concurrency: how many line items are "open"
    // ---- (ordered but not yet shipped) on each day, peak per month.
    // ---- The scale shape: the join shuffles once on orderkey, then
    // ---- everything pre-aggregates to one bounded delta row PER DAY
    // ---- (~2.5k rows over the 7-year calendar) BEFORE the single-
    // ---- partition running-sum window — the window never sees data
    // ---- volume, so the plan survives 100 TB unchanged. Rows with
    // ---- shipdate < orderdate (synthetic noise) are filtered as a
    // ---- data-quality precondition, mirrored in the oracle. --------
    Q("q213_open_interval_peak",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), to_date(col("l_shipdate")).as("ship"))
        val o = t(s, dir, "orders")
          .select(col("o_orderkey"), to_date(col("o_orderdate")).as("ordd"))
        val iv = li.join(o, col("l_orderkey") === col("o_orderkey"))
          .where(col("ship") >= col("ordd"))
        val deltas = iv.select(col("ordd").as("d"), lit(1L).as("delta"))
          .unionByName(iv.select(col("ship").as("d"), lit(-1L).as("delta")))
          .groupBy("d").agg(sum(col("delta")).as("delta"))
        val run = Window.orderBy("d")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        deltas
          .withColumn("open_cnt", sum(col("delta")).over(run))
          .groupBy(date_format(col("d"), "yyyy-MM").as("mon"))
          .agg(max(col("open_cnt")).as("peak_open"))
          .orderBy("mon")
      },
      Some("""WITH iv AS (
             |  SELECT CAST(o.o_orderdate AS DATE) AS ordd,
             |         CAST(l.l_shipdate AS DATE) AS ship
             |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
             |  WHERE CAST(l.l_shipdate AS DATE) >= CAST(o.o_orderdate AS DATE)
             |), deltas AS (
             |  SELECT d, CAST(SUM(delta) AS BIGINT) AS delta FROM (
             |    SELECT ordd AS d, 1 AS delta FROM iv
             |    UNION ALL
             |    SELECT ship AS d, -1 AS delta FROM iv)
             |  GROUP BY d
             |), run AS (
             |  SELECT d, SUM(delta) OVER (ORDER BY d) AS open_cnt FROM deltas
             |)
             |SELECT strftime(d, '%Y-%m') AS mon,
             |  CAST(MAX(open_cnt) AS BIGINT) AS peak_open
             |FROM run GROUP BY 1 ORDER BY mon""".stripMargin)),

    // ---- Adamic–Adar link prediction on the customer–supplier trade
    // ---- graph (Adamic & Adar 2003): for nation-0 customer pairs,
    // ---- score = Σ_{shared supplier s} 1/ln(deg(s)). Probes the SAME
    // ---- cached bipartite edge artifact PageRank iterates over
    // ---- (Analytics4.prGraphCached) — graph analytics share one
    // ---- ingest-time edge list. Each 1/ln term is rounded onto a
    // ---- 1e-9 decimal grid so the pair sum is order-free and the
    // ---- oracle replays it exactly; common neighbors always have
    // ---- degree >= 2 (they are shared), so the ln is never 0 — the
    // ---- deg >= 2 guard makes that explicit. The nation block bounds
    // ---- the per-supplier pair fan-out (the q211 skew report is the
    // ---- production input for choosing such blocks at 100 TB). -----
    Q("q214_adamic_adar",
      (s, dir) => {
        val (edges, deg) = Analytics4.prGraphCached(s, dir)
        val links = edges.where(col("dst") >= lit(1000000L))
          .select(col("src").as("c"), col("dst").as("sn"))
        val wts = deg.where(col("src") >= lit(1000000L) && col("d") >= 2)
          .select(col("src").as("sn"),
            round(lit(1.0) / log(col("d").cast("double")), 9)
              .cast(DecimalType(18, 9)).as("w"))
        val cust0 = t(s, dir, "customer")
          .where(col("c_nationkey") === 0).select(col("c_custkey"))
        val l0 = links.join(cust0, links("c") === cust0("c_custkey"))
          .select(col("c"), col("sn"))
        val a = l0.select(col("c").as("c1"), col("sn"))
        val b = l0.select(col("c").as("c2"), col("sn"))
        a.join(b, Seq("sn")).where(col("c1") < col("c2"))
          .join(wts, Seq("sn"))
          .groupBy("c1", "c2")
          .agg(count(lit(1)).as("common_cnt"), sum(col("w")).as("sw"))
          .select(col("c1"), col("c2"), col("common_cnt"),
            round(col("sw").cast("double"), 6).as("score"), col("sw"))
          .orderBy(col("sw").desc, col("c1"), col("c2"))
          .limit(50)
          .drop("sw")
      },
      Some("""WITH eo AS (
             |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS sn
             |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
             |), wts AS (
             |  SELECT sn,
             |    CAST(ROUND(1.0 / LN(CAST(deg AS DOUBLE)), 9)
             |      AS DECIMAL(18,9)) AS w
             |  FROM (SELECT sn, CAST(COUNT(*) AS BIGINT) AS deg
             |        FROM eo GROUP BY sn)
             |  WHERE deg >= 2
             |), l0 AS (
             |  SELECT eo.c, eo.sn
             |  FROM eo JOIN customer ON c_custkey = eo.c AND c_nationkey = 0
             |)
             |SELECT a.c AS c1, b.c AS c2,
             |  CAST(COUNT(*) AS BIGINT) AS common_cnt,
             |  ROUND(CAST(SUM(w.w) AS DOUBLE), 6) AS score
             |FROM l0 a
             |JOIN l0 b ON a.sn = b.sn AND a.c < b.c
             |JOIN wts w ON w.sn = a.sn
             |GROUP BY a.c, b.c
             |ORDER BY SUM(w.w) DESC, c1, c2
             |LIMIT 50""".stripMargin)),

    // ---- ROC-AUC per source of "n_chars predicts lang='en'" — the
    // ---- classifier-evaluation primitive (AUC = Mann-Whitney U
    // ---- normalized, so it rides q191/q192's integral doubled-rank
    // ---- machinery: AUC = (Σ2·avgrank₊ − n₊(n₊+1)) / (2·n₊·n₋),
    // ---- every term BIGINT until the final division). One window
    // ---- pass partitioned by source, one tiny group-by. ------------
    Q("q215_roc_auc",
      (s, dir) => {
        val docs = t(s, dir, "documents").select(
          col("source"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"),
          col("n_chars").as("score"))
        // doubled midranks via the census prefix-sum (Ranks.withMidrank2)
        // — a |sources|-task rank window caps parallelism at 100 TB
        val ranked = graft.operators.Ranks.withMidrank2(docs,
            Seq(col("source")), col("score"), "r2")
          .select(col("source"), col("y"), col("r2"))
        val sums = ranked.groupBy("source").agg(
          sum(col("y")).as("n_pos"),
          sum(lit(1L) - col("y")).as("n_neg"),
          sum(when(col("y") === 1L, col("r2")).otherwise(0L)).as("r2pos"))
        val num = (col("r2pos") - col("n_pos") * (col("n_pos") + 1L))
          .cast("double")
        val den = (lit(2L) * col("n_pos") * col("n_neg")).cast("double")
        sums.select(col("source"), col("n_pos"), col("n_neg"),
            when(den > 0.0, round(num / den, 6)).as("auc"),
            when(den > 0.0, round(lit(2.0) * (num / den) - 1.0, 6))
              .as("gini"))
          .orderBy("source")
      },
      Some("""WITH docs AS (
             |  SELECT source,
             |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             |    n_chars AS score
             |  FROM documents
             |), ranked AS (
             |  SELECT source, y,
             |    CAST(2 * RANK() OVER (PARTITION BY source ORDER BY score)
             |      + COUNT(*) OVER (PARTITION BY source, score) - 1
             |      AS BIGINT) AS r2
             |  FROM docs
             |), sums AS (
             |  SELECT source,
             |    CAST(SUM(y) AS BIGINT) AS n_pos,
             |    CAST(SUM(1 - y) AS BIGINT) AS n_neg,
             |    CAST(SUM(CASE WHEN y = 1 THEN r2 ELSE 0 END) AS BIGINT)
             |      AS r2pos
             |  FROM ranked GROUP BY source
             |)
             |SELECT source, n_pos, n_neg,
             |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             |    ROUND(CAST(r2pos - n_pos * (n_pos + 1) AS DOUBLE)
             |      / CAST(2 * n_pos * n_neg AS DOUBLE), 6) END AS auc,
             |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             |    ROUND(2.0 * (CAST(r2pos - n_pos * (n_pos + 1) AS DOUBLE)
             |      / CAST(2 * n_pos * n_neg AS DOUBLE)) - 1.0, 6) END AS gini
             |FROM sums
             |ORDER BY source""".stripMargin)),

    // ---- calibration / reliability table for the same signal: equal-
    // ---- width n_chars bins (width 50, top-coded at bin 9), empirical
    // ---- positive rate and mean score per bin — exact integer sums
    // ---- until the two final divisions. One narrow scan + bounded
    // ---- group-by; no window, no join. ------------------------------
    Q("q216_calibration_bins",
      (s, dir) => {
        t(s, dir, "documents")
          .select(
            least(floor(col("n_chars") / 50), lit(9L)).cast("long").as("bin"),
            when(col("lang") === "en", 1L).otherwise(0L).as("y"),
            col("n_chars"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
            sum(col("n_chars")).as("sc"))
          .select(col("bin"), col("n"), col("n_pos"),
            round(col("n_pos").cast("double") / col("n").cast("double"), 6)
              .as("pos_rate"),
            round(col("sc").cast("double") / col("n").cast("double"), 6)
              .as("avg_chars"))
          .orderBy("bin")
      },
      Some("""SELECT bin, n, n_pos,
             |  ROUND(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6)
             |    AS pos_rate,
             |  ROUND(CAST(sc AS DOUBLE) / CAST(n AS DOUBLE), 6)
             |    AS avg_chars
             |FROM (
             |  SELECT LEAST(CAST(FLOOR(n_chars / 50) AS BIGINT), 9) AS bin,
             |    CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_pos,
             |    CAST(SUM(n_chars) AS BIGINT) AS sc
             |  FROM documents GROUP BY 1)
             |ORDER BY bin""".stripMargin)),

    // ---- blocked edit-distance census over part names: pairs inside a
    // ---- (first-word, size) block, Levenshtein 1..4, counted per
    // ---- (block word, distance). Blocking bounds the quadratic term
    // ---- to within-block pairs (sorted-neighborhood discipline, q136)
    // ---- and the census output is bounded by |words|×4 — the pair
    // ---- set itself never leaves the executors. Spark's levenshtein
    // ---- and DuckDB's are both the classic Wagner–Fischer integer
    // ---- distance, so the census matches exactly. -------------------
    Q("q217_editdist_census",
      (s, dir) => {
        // loadParallel, not load: part.parquet is a few MB, so a plain
        // scan is 1-2 input partitions — and the per-pair levenshtein
        // kernel downstream of the block join would run in ONE task
        // (measured 102 s at sf1.0, 50.9M within-block pairs on a
        // single thread). Spreading the probe side across the executor
        // cores parallelizes the pair kernel; the broadcast build side
        // keeps the join shuffle-free.
        val p = Tables.loadParallel(s, dir, "part").select(
          col("p_partkey"), col("p_name"), col("p_size"),
          substring_index(col("p_name"), " ", 1).as("w"))
        val a = p.select(col("w"), col("p_size"),
          col("p_partkey").as("k1"), col("p_name").as("n1"))
        val b = p.select(col("w"), col("p_size"),
          col("p_partkey").as("k2"), col("p_name").as("n2"))
        // levenshtein(_,_,4): the banded O(k·L) DP (-1 past the
        // threshold) replaces the full O(L²) table per pair — same
        // kept pairs, same distances on the 1..4 filter.
        a.join(b, Seq("w", "p_size"))
          .where(col("k1") < col("k2"))
          .select(col("w"),
            levenshtein(col("n1"), col("n2"), 4).as("dist"))
          .where(col("dist").between(1, 4))
          .groupBy("w", "dist")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("w", "dist")
      },
      Some("""WITH p AS (
             |  SELECT p_partkey, p_name, p_size,
             |    split_part(p_name, ' ', 1) AS w
             |  FROM part
             |)
             |SELECT a.w AS w, CAST(levenshtein(a.p_name, b.p_name) AS INTEGER)
             |    AS dist,
             |  CAST(COUNT(*) AS BIGINT) AS n_pairs
             |FROM p a JOIN p b
             |  ON a.w = b.w AND a.p_size = b.p_size
             |  AND a.p_partkey < b.p_partkey
             |WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 4
             |GROUP BY 1, 2
             |ORDER BY 1, 2""".stripMargin)),

    // ---- mutual nearest neighbors on the embedding slice: pairs where
    // ---- each vector is the other's top-1 cosine neighbor — the
    // ---- symmetric-match primitive of embedding alignment and the
    // ---- strictest near-dup signal. Rides the same bounded brute-
    // ---- force + TopKByScore heap as q40/q41 (the LSH-banded variant
    // ---- is the unbounded scale path, as documented there); the
    // ---- mutuality check is a self-equi-join on the 1-row-per-vector
    // ---- top-1 table. -----------------------------------------------
    Q("q218_mutual_nn",
      (s, dir) => {
        val emb = Tables.loadParallel(s, dir, "embeddings")
          .filter(col("vec_id") < 1000)
        val top1 = Similarity.bruteForceTopK(emb, emb, k = 1)
          .select(col("query_id"), col("neighbor_id"),
            round(col("cosine"), 6).as("cosine"))
        top1.as("a").join(top1.as("b"),
            col("a.query_id") === col("b.neighbor_id") &&
              col("a.neighbor_id") === col("b.query_id") &&
              col("a.query_id") < col("a.neighbor_id"))
          .select(col("a.query_id").as("id_a"),
            col("a.neighbor_id").as("id_b"), col("a.cosine"))
          .orderBy("id_a")
      },
      Some("""WITH top1 AS (
             |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |      CAST(c.embedding AS DOUBLE[])), 6) AS cosine,
             |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
             |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |        CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rn
             |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
             |  WHERE q.vec_id < 1000 AND c.vec_id < 1000
             |  QUALIFY rn = 1
             |)
             |SELECT a.query_id AS id_a, a.neighbor_id AS id_b,
             |  a.cosine AS cosine
             |FROM top1 a JOIN top1 b
             |  ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id
             |  AND a.query_id < a.neighbor_id
             |ORDER BY id_a""".stripMargin))
  )
}
