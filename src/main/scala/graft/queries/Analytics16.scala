package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Sixteenth analytics pack (round 6, session 5): Simpson diversity
  * (exact rational), Heaps'-law vocabulary growth, near-dup cluster
  * size census, PMI collocations, supplier fulfillment latency. */
object Analytics16 {

  /** q189 vocabulary bound (top-N tokens by corpus frequency). */
  private val PmiVocab = 200
  private val PmiMinPairs = 5

  val all: Seq[Q] = Seq(

    // ---- Simpson diversity index per source (the lang-mix evenness
    // ---- gauge): D = 1 - sum c(c-1) / (n(n-1)) — an EXACT RATIONAL
    // ---- from integer counts, no transcendentals at all, so the only
    // ---- rounding is the output grain -------------------------------
    Q("q186_simpson_diversity",
      (s, dir) => {
        val counts = t(s, dir, "documents")
          .groupBy("source", "lang").agg(count(lit(1)).as("c"))
        counts.groupBy("source")
          .agg(sum(col("c")).as("n"),
            count(lit(1)).as("n_langs"),
            sum(col("c") * (col("c") - 1)).as("pairs"))
          .where(col("n") > 1)
          .select(col("source"), col("n"), col("n_langs"),
            round(lit(1.0) - col("pairs").cast("double") /
              (col("n") * (col("n") - 1)).cast("double"), 6)
              .as("simpson"))
          .orderBy("source")
      },
      Some("""WITH counts AS (
             |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM documents GROUP BY 1, 2
             |)
             |SELECT source, CAST(SUM(c) AS BIGINT) AS n,
             |  CAST(COUNT(*) AS BIGINT) AS n_langs,
             |  ROUND(1.0 - CAST(SUM(c * (c - 1)) AS DOUBLE)
             |    / CAST(SUM(c) * (SUM(c) - 1) AS DOUBLE), 6) AS simpson
             |FROM counts
             |GROUP BY source
             |HAVING SUM(c) > 1
             |ORDER BY source""".stripMargin)),

    // ---- Heaps'-law vocabulary growth curve over word 3-GRAMS (the
    // ---- unigram vocabulary of the synthetic corpus saturates in the
    // ---- first decile; the 3-gram space keeps growing, which is what
    // ---- the curve is for): each 3-gram's FIRST document decides its
    // ---- decile, the curve is the running sum of first-occurrence
    // ---- counts — all integers, one shingle shuffle -----------------
    Q("q187_heaps_curve",
      (s, dir) => {
        val nd = t(s, dir, "documents").agg(max(col("doc_id")).as("maxid"))
        val firsts = Tables.loadParallel(s, dir, "documents")
          .select(col("doc_id"),
            explode(graft.dedup.Dedup.shingles(col("text"), 3)).as("tok"))
          .groupBy("tok").agg(min(col("doc_id")).as("first_doc"))
        val wCum = Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        firsts.crossJoin(broadcast(nd))
          .select(least(floor(col("first_doc") * 10 / (col("maxid") + 1)),
            lit(9L)).cast("int").as("decile"))
          .groupBy("decile").agg(count(lit(1)).as("new_grams"))
          .select(col("decile"), col("new_grams"),
            sum(col("new_grams")).over(wCum).as("vocab_size"))
          .orderBy("decile")
      },
      Some("""WITH nd AS (
             |  SELECT MAX(doc_id) AS maxid FROM documents
             |), sh AS MATERIALIZED (
             |  SELECT doc_id, unnest(sl) AS tok FROM (
             |    SELECT doc_id,
             |      list_distinct([array_to_string(toks[i:i+2], ' ')
             |        FOR i IN range(1, greatest(len(toks) - 1, 1))]) AS sl
             |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
             |          FROM documents))
             |), firsts AS (
             |  SELECT tok, MIN(doc_id) AS first_doc FROM sh GROUP BY tok
             |), bydec AS (
             |  SELECT CAST(LEAST(FLOOR(first_doc * 10 / (maxid + 1)), 9)
             |    AS INT) AS decile, CAST(COUNT(*) AS BIGINT) AS new_grams
             |  FROM firsts CROSS JOIN nd
             |  GROUP BY 1
             |)
             |SELECT decile, new_grams,
             |  CAST(SUM(new_grams) OVER (ORDER BY decile ROWS BETWEEN
             |    UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab_size
             |FROM bydec
             |ORDER BY decile""".stripMargin)),

    // ---- near-dup cluster size census over the q52 component
    // ---- artifact (dedup observability: how much mass sits in big
    // ---- clusters): size histogram + removable-doc accounting, all
    // ---- integral. Shares neardupClustersCached with q52/q108 -------
    Q("q188_cluster_size_census",
      (s, dir) => {
        val comp = TextQueries.neardupClustersCached(s, dir)
        val sizes = comp.groupBy(col("comp")).agg(count(lit(1)).as("size"))
        sizes.groupBy("size")
          .agg(count(lit(1)).as("n_clusters"),
            (count(lit(1)) * (col("size") - 1)).as("removable_docs"))
          .orderBy("size")
      },
      // replay the q52 closure (recursive CTE over the verified-pair
      // edges) and census the component sizes
      Some(TextQueries.neardupClusterCte +
        """
          |, sizes AS (
          |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS size
          |  FROM cl GROUP BY cluster_id
          |)
          |SELECT size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
          |  CAST(COUNT(*) * (size - 1) AS BIGINT) AS removable_docs
          |FROM sizes
          |GROUP BY size
          |ORDER BY size""".stripMargin)),

    // ---- PMI collocations over the bounded frequent vocabulary:
    // ---- doc-level co-occurrence of the top-200 tokens, pmi =
    // ---- ln(n_ab * D / (n_a * n_b)) at the 9-dp grain — the corpus-
    // ---- linguistics partner of q180's keyness; candidates bounded
    // ---- by vocab², postings by the frequency floor -----------------
    Q("q189_pmi_collocations",
      (s, dir) => {
        val toks = Tables.loadParallel(s, dir, "documents")
          .select(col("doc_id"), explode(array_distinct(split(col("text"), " ")))
            .as("tok"))
        val vocab = toks.groupBy("tok").agg(count(lit(1)).as("df"))
          .orderBy(desc("df"), asc("tok")).limit(PmiVocab)
        val vt = toks.join(broadcast(vocab), Seq("tok"))
        val nDocs = t(s, dir, "documents").agg(count(lit(1)).as("nd"))
        val pairs = vt.select(col("doc_id"), col("tok").as("ta"), col("df").as("dfa"))
          .join(vt.select(col("doc_id"), col("tok").as("tb"), col("df").as("dfb")),
            Seq("doc_id"))
          .where(col("ta") < col("tb"))
          .groupBy("ta", "tb")
          .agg(count(lit(1)).as("nab"), max(col("dfa")).as("na"),
            max(col("dfb")).as("nb"))
          .where(col("nab") >= PmiMinPairs)
        pairs.crossJoin(broadcast(nDocs))
          .select(col("ta"), col("tb"), col("nab"),
            round(log(col("nab").cast("double") * col("nd") /
              (col("na") * col("nb")).cast("double")), 6).as("pmi"))
          .orderBy(desc("pmi"), asc("ta"), asc("tb"))
          .limit(50)
      },
      Some(s"""WITH toks AS (
             |  SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
             |    AS tok
             |  FROM documents
             |), vocab AS (
             |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
             |  FROM toks GROUP BY tok
             |  ORDER BY df DESC, tok LIMIT $PmiVocab
             |), vt AS (
             |  SELECT doc_id, toks.tok, df FROM toks JOIN vocab USING (tok)
             |), nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
             |pairs AS (
             |  SELECT a.tok AS ta, b.tok AS tb,
             |    CAST(COUNT(*) AS BIGINT) AS nab,
             |    MAX(a.df) AS na, MAX(b.df) AS nb
             |  FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.tok < b.tok
             |  GROUP BY 1, 2
             |  HAVING COUNT(*) >= $PmiMinPairs
             |)
             |SELECT ta, tb, nab,
             |  ROUND(ln(CAST(nab AS DOUBLE) * nd
             |    / CAST(na * nb AS DOUBLE)), 6) AS pmi
             |FROM pairs CROSS JOIN nd
             |ORDER BY pmi DESC, ta, tb
             |LIMIT 50""".stripMargin)),

    // ---- supplier fulfillment latency (ship date minus order date):
    // ---- per supplier, exact p50/p95 of the integer day lag plus the
    // ---- late rate past a 60-day SLA — counts and day diffs integral,
    // ---- percentile selection order-free ----------------------------
    Q("q190_fulfillment_latency",
      (s, dir) => {
        val lags = t(s, dir, "lineitem")
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .select(col("l_suppkey").as("suppkey"),
            datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
              .as("lag_days"))
          .where(col("lag_days") >= 0)
        lags.groupBy("suppkey")
          .agg(count(lit(1)).as("n"),
            round(expr("percentile(lag_days, 0.5)"), 4).as("p50_days"),
            round(expr("percentile(lag_days, 0.95)"), 4).as("p95_days"),
            round(sum(when(col("lag_days") > 60, 1L).otherwise(0L))
              .cast("double") / count(lit(1)).cast("double"), 6)
              .as("late_rate"))
          .where(col("n") >= 20)
          .orderBy("suppkey")
      },
      Some("""WITH lags AS (
             |  SELECT l_suppkey AS suppkey,
             |    CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) AS lag_days
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  WHERE CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) >= 0
             |)
             |SELECT suppkey, CAST(COUNT(*) AS BIGINT) AS n,
             |  ROUND(quantile_cont(lag_days, 0.5), 4) AS p50_days,
             |  ROUND(quantile_cont(lag_days, 0.95), 4) AS p95_days,
             |  ROUND(CAST(SUM(CASE WHEN lag_days > 60 THEN 1 ELSE 0 END)
             |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS late_rate
             |FROM lags
             |GROUP BY suppkey
             |HAVING COUNT(*) >= 20
             |ORDER BY suppkey""".stripMargin)))
}
