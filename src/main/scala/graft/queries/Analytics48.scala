package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Forty-eighth analytics pack (round 6, session 9): corpus and
  * embedding governance — an embedding isotropy audit, the
  * decontamination n-gram-length sweep, a capped token-budget
  * allocator, retrieval label-diversity evaluation, and a lognormal
  * fit of document lengths.
  *
  * Exactness discipline: embedding components are gridded to DECIMAL
  * before any cross-row sum (the q196 pattern), n-gram membership is
  * md5-exact, allocations are pure BIGINT arithmetic, and ln moments
  * ride the round-9 grid. */
object Analytics48 {

  /** q347 contamination sweep lengths. */
  private val GramSweep = Seq(8, 13, 20)

  /** z for the lognormal 95th percentile (double literal round-trips
    * into the oracle SQL). */
  private val Z95 = 1.6448536269514722

  val all: Seq[Q] = Seq(

    // ---- embedding isotropy audit: per-vector norms from round-9
    // ---- component squares, the corpus centroid from round-6
    // ---- component sums, and the isotropy proxy ‖c‖²/E‖x‖² (0 =
    // ---- perfectly centered cloud). The representation-health
    // ---- partner of q196's label centroids. -------------------------
    Q("q346_embedding_isotropy",
      (s, dir) => {
        val comps = t(s, dir, "embeddings")
          .select(col("vec_id"), posexplode(col("embedding")))
          .toDF("vec_id", "i", "x")
          .select(col("vec_id"), col("i"), col("x").cast("double").as("x"))
          .localCheckpoint(true)
        val perVec = comps.groupBy("vec_id")
          .agg(sum(round(col("x") * col("x"), 9)
            .cast(DecimalType(38, 9))).as("n2"))
          .select(col("vec_id"), col("n2").cast("double").as("n2"))
        val normStats = perVec
          .select(col("n2"),
            round(sqrt(col("n2")), 6).cast(DecimalType(38, 6)).as("nrm"),
            round(col("n2"), 6).cast(DecimalType(38, 6)).as("n2d"))
          .agg(count(lit(1)).as("n"),
            sum(col("nrm")).cast("double").as("snorm"),
            sum(col("n2d")).cast("double").as("sn2"))
        val centroid = comps
          .groupBy("i")
          .agg((sum(round(col("x"), 6).cast(DecimalType(38, 6)))
            .cast("double") / count(lit(1))).as("c"))
          .agg(count(lit(1)).as("dim"),
            sum(round(col("c") * col("c"), 9).cast(DecimalType(38, 9)))
              .cast("double").as("cn2"))
        normStats.crossJoin(centroid)
          .select(col("n").as("n_vecs"), col("dim"),
            round(col("snorm") / col("n"), 6).as("mean_norm"),
            round(sqrt(col("sn2") / col("n") -
              (col("snorm") / col("n")) * (col("snorm") / col("n"))) /
              (col("snorm") / col("n")), 6).as("norm_cv"),
            round(sqrt(col("cn2")), 6).as("centroid_norm"),
            round(col("cn2") / (col("sn2") / col("n")), 6).as("isotropy"))
      },
      Some("""WITH comps AS MATERIALIZED (
             |  SELECT vec_id, CAST(u.i AS BIGINT) AS i,
             |    CAST(u.x AS DOUBLE) AS x
             |  FROM embeddings,
             |    LATERAL (SELECT UNNEST(embedding) AS x,
             |      generate_subscripts(embedding, 1) AS i) u
             |), per_vec AS (
             |  SELECT vec_id,
             |    CAST(SUM(CAST(ROUND(x * x, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS n2
             |  FROM comps GROUP BY vec_id
             |), norm_stats AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(CAST(ROUND(sqrt(n2), 6) AS DECIMAL(38, 6)))
             |      AS DOUBLE) AS snorm,
             |    CAST(SUM(CAST(ROUND(n2, 6) AS DECIMAL(38, 6)))
             |      AS DOUBLE) AS sn2
             |  FROM per_vec
             |), centroid AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS dim,
             |    CAST(SUM(CAST(ROUND(c * c, 9) AS DECIMAL(38, 9)))
             |      AS DOUBLE) AS cn2
             |  FROM (
             |    SELECT i,
             |      CAST(SUM(CAST(ROUND(x, 6) AS DECIMAL(38, 6)))
             |        AS DOUBLE) / COUNT(*) AS c
             |    FROM comps GROUP BY i)
             |)
             |SELECT n AS n_vecs, dim,
             |  ROUND(snorm / n, 6) AS mean_norm,
             |  ROUND(sqrt(sn2 / n - (snorm / n) * (snorm / n))
             |    / (snorm / n), 6) AS norm_cv,
             |  ROUND(sqrt(cn2), 6) AS centroid_norm,
             |  ROUND(cn2 / (sn2 / n), 6) AS isotropy
             |FROM norm_stats CROSS JOIN centroid""".stripMargin)),

    // ---- decontamination n-gram sweep: the q231 train/test leakage
    // ---- probe at 8/13/20-gram lengths in one result — shorter grams
    // ---- catch more, longer grams catch only verbatim reuse; the
    // ---- sweep prices the decontamination threshold choice. ---------
    Q("q347_contamination_sweep",
      (s, dir) => {
        // loadParallel: the checkpoint otherwise inherits the SINGLE
        // partition of the row-group scan, making every branch's
        // explode + md5 single-task (guide §2.5 input skew)
        val arrs = Tables.loadParallel(s, dir, "documents")
          .select(col("doc_id"),
            filter(split(col("text"), " "), w => length(w) > 0).as("arr"))
          .localCheckpoint(true)
        def branch(n: Int): DataFrame = {
          // slice every position IN the explode (transform over the
          // position sequence) — no join back to arrs: the r8 form
          // exploded positions then re-joined the array by doc_id,
          // paying a shuffle join per gram length
          val grams = arrs.where(size(col("arr")) >= n)
            .select(col("doc_id"),
              explode(transform(
                sequence(lit(1), size(col("arr")) - (n - 1)),
                p => md5(array_join(slice(col("arr"), p, lit(n)), " "))))
                .as("g"))
          val trainSet = grams.where(col("doc_id") % 2 === 0)
            .select("g").distinct()
          val testDocs = arrs.where(col("doc_id") % 2 === 1)
            .select("doc_id").distinct()
          val leaked = grams.where(col("doc_id") % 2 === 1)
            .join(trainSet, "g").select("doc_id").distinct()
          testDocs.agg(count(lit(1)).as("test_docs"))
            .crossJoin(leaked.agg(count(lit(1)).as("leaked_docs")))
            .select(lit(n.toLong).as("gram_len"), col("test_docs"),
              col("leaked_docs"),
              round(col("leaked_docs").cast("double") /
                col("test_docs").cast("double"), 6).as("leak_rate"))
        }
        GramSweep.map(branch).reduce(_ unionByName _).orderBy("gram_len")
      },
      Some {
        val branches = GramSweep.map { n =>
          s"""grams$n AS MATERIALIZED (
             |  SELECT doc_id,
             |    md5(array_to_string(arr[p : p + ${n - 1}], ' ')) AS g
             |  FROM arrs, LATERAL (SELECT UNNEST(range(1,
             |    len(arr) - ${n - 2})) AS p) u
             |  WHERE len(arr) >= $n
             |), row$n AS (
             |  SELECT CAST($n AS BIGINT) AS gram_len,
             |    (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT)
             |     FROM arrs WHERE doc_id % 2 = 1) AS test_docs,
             |    (SELECT CAST(COUNT(DISTINCT t.doc_id) AS BIGINT)
             |     FROM grams$n t
             |     WHERE t.doc_id % 2 = 1 AND t.g IN (
             |       SELECT g FROM grams$n WHERE doc_id % 2 = 0))
             |      AS leaked_docs
             |)""".stripMargin
        }
        val sel = GramSweep.map { n =>
          s"""SELECT gram_len, test_docs, leaked_docs,
             |  ROUND(CAST(leaked_docs AS DOUBLE)
             |    / CAST(test_docs AS DOUBLE), 6) AS leak_rate
             |FROM row$n""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH arrs AS MATERIALIZED (
           |  SELECT doc_id,
           |    list_filter(string_split(text, ' '), w -> LEN(w) > 0)
           |      AS arr
           |  FROM documents
           |),
           |${branches.mkString(",\n")}
           |$sel
           |ORDER BY gram_len""".stripMargin
      }),

    // ---- capped token-budget allocator: spend half the corpus'
    // ---- tokens, greedily by source type-token quality, no source
    // ---- exceeding 30% of the budget — running-sum waterfilling in
    // ---- pure BIGINT arithmetic. The budgeted sibling of q81's
    // ---- proportional domain mixture. -------------------------------
    Q("q348_token_budget",
      (s, dir) => {
        // source lattice (a handful of corpus sources): bounded
        // checkpoint certifies the greedy-allocation window below as
        // lattice-grain, not doc-grain
        val perSource = graft.operators.Lattice.checkpointBounded(
          // loadParallel: the explode + countDistinct partial otherwise
          // run inside the single-task row-group scan (guide §2.5)
          Tables.loadParallel(s, dir, "documents")
          .select(col("source"),
            explode(filter(split(col("text"), " "), w => length(w) > 0))
              .as("w"))
          .groupBy("source")
          .agg(count(lit(1)).as("tokens"),
            countDistinct(col("w")).as("dw"))
          .select(col("source"), col("tokens"),
            round(col("dw").cast("double") / col("tokens").cast("double"),
              9).as("quality")),
          10000, "q348 corpus-source lattice")
        val budget = perSource.agg(expr("sum(tokens) div 2").as("budget"),
            expr("(sum(tokens) div 2) * 3 div 10").as("cap"))
        val ranked = perSource.crossJoin(broadcast(budget))
          .select(col("source"), col("tokens"), col("quality"),
            col("budget"), least(col("tokens"), col("cap")).as("elig"))
          .withColumn("cum_before",
            coalesce(sum(col("elig")).over(
              Window.orderBy(desc("quality"), asc("source"))
                .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        ranked
          .select(col("source"), round(col("quality"), 6).as("quality"),
            col("tokens"),
            greatest(lit(0L), least(col("elig"),
              col("budget") - col("cum_before"))).as("allocated"),
            col("budget"))
          .select(col("source"), col("quality"), col("tokens"),
            col("allocated"),
            round(col("allocated").cast("double") /
              col("budget").cast("double"), 6).as("budget_share"))
          .where(col("allocated") > 0)
          .orderBy(desc("quality"), asc("source"))
      },
      Some("""WITH per_source AS MATERIALIZED (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS tokens,
             |    ROUND(CAST(COUNT(DISTINCT w) AS DOUBLE)
             |      / CAST(COUNT(*) AS DOUBLE), 9) AS quality
             |  FROM (
             |    SELECT source, UNNEST(list_filter(string_split(text, ' '),
             |      x -> LEN(x) > 0)) AS w
             |    FROM documents)
             |  GROUP BY source
             |), b AS (
             |  SELECT SUM(tokens) // 2 AS budget,
             |    (SUM(tokens) // 2) * 3 // 10 AS cap
             |  FROM per_source
             |), ranked AS (
             |  SELECT source, tokens, quality, budget,
             |    LEAST(tokens, cap) AS elig,
             |    COALESCE(SUM(LEAST(tokens, cap)) OVER (
             |      ORDER BY quality DESC, source
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS cum_before
             |  FROM per_source CROSS JOIN b
             |)
             |SELECT source, ROUND(quality, 6) AS quality, tokens,
             |  CAST(GREATEST(0, LEAST(elig, budget - cum_before))
             |    AS BIGINT) AS allocated,
             |  ROUND(CAST(GREATEST(0, LEAST(elig, budget - cum_before))
             |    AS DOUBLE) / CAST(budget AS DOUBLE), 6) AS budget_share
             |FROM ranked
             |WHERE GREATEST(0, LEAST(elig, budget - cum_before)) > 0
             |ORDER BY quality DESC, source""".stripMargin)),

    // ---- retrieval label diversity: exact top-5 cosine neighbors for
    // ---- every 100th vector (q79's kernel), reporting how often the
    // ---- neighborhood agrees with the query label and how many
    // ---- distinct labels it spans — the homogeneity readout next to
    // ---- q206's recall/NDCG. ----------------------------------------
    Q("q349_knn_diversity",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        // FIXED 64-query audit sample (smallest qualifying ids), not a
        // modulus share: an every-100th split grows the exact-kNN
        // candidate count as n²/100 with corpus size — a fixed sample
        // keeps this eval kernel O(n) at any scale factor
        val queries = emb.where(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"),
            col("label").as("qlabel"))
          .orderBy("qid").limit(64)
        val corpus = emb.where(col("vec_id") % 100 =!= 0)
          .select(col("vec_id").as("cid"), col("embedding").as("cv"),
            col("label").as("clabel"))
        val top5 = queries.crossJoin(corpus)
          .select(col("qid"), col("qlabel"), col("cid"), col("clabel"),
            round(graft.functions.VectorFunctions.cosine(col("qv"),
              col("cv")), 9).as("cos"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("qid").orderBy(desc("cos"), asc("cid"))))
          .where(col("rk") <= 5)
        val perQ = top5.groupBy("qid", "qlabel")
          .agg(countDistinct(col("clabel")).as("dl"),
            sum((col("clabel") === col("qlabel")).cast("long")).as("mt"),
            sum(round(col("cos"), 6).cast(DecimalType(38, 6))).as("sc"))
        perQ.agg(count(lit(1)).as("n_queries"),
            sum(col("dl")).as("sdl"), sum(col("mt")).as("smt"),
            sum(col("sc")).cast("double").as("ssc"))
          .select(col("n_queries"),
            round(col("sdl").cast("double") / col("n_queries")
              .cast("double"), 6).as("mean_distinct_labels"),
            round(col("smt").cast("double") /
              (col("n_queries") * 5L).cast("double"), 6)
              .as("label_match_rate"),
            round(col("ssc") / (col("n_queries") * 5L).cast("double"), 6)
              .as("mean_top5_cosine"))
      },
      Some("""WITH q AS (
             |  SELECT vec_id AS qid, embedding AS qv, label AS qlabel
             |  FROM embeddings WHERE vec_id % 100 = 0
             |  ORDER BY vec_id LIMIT 64
             |), c AS (
             |  SELECT vec_id AS cid, embedding AS cv, label AS clabel
             |  FROM embeddings WHERE vec_id % 100 <> 0
             |), scored AS (
             |  SELECT qid, qlabel, cid, clabel,
             |    ROUND(list_cosine_similarity(CAST(qv AS DOUBLE[]),
             |      CAST(cv AS DOUBLE[])), 9) AS cos
             |  FROM q CROSS JOIN c
             |), top5 AS (
             |  SELECT * FROM scored
             |  QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
             |    ORDER BY cos DESC, cid) <= 5
             |), per_q AS (
             |  SELECT qid, qlabel,
             |    CAST(COUNT(DISTINCT clabel) AS BIGINT) AS dl,
             |    CAST(SUM(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END)
             |      AS BIGINT) AS mt,
             |    SUM(CAST(ROUND(cos, 6) AS DECIMAL(38, 6))) AS sc
             |  FROM top5 GROUP BY 1, 2
             |)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
             |  ROUND(CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE),
             |    6) AS mean_distinct_labels,
             |  ROUND(CAST(SUM(mt) AS DOUBLE)
             |    / CAST(COUNT(*) * 5 AS DOUBLE), 6) AS label_match_rate,
             |  ROUND(CAST(SUM(sc) AS DOUBLE)
             |    / CAST(COUNT(*) * 5 AS DOUBLE), 6) AS mean_top5_cosine
             |FROM per_q""".stripMargin)),

    // ---- lognormal fit of document lengths: ln moments on the
    // ---- round-9 grid give μ̂/σ̂; the implied median and p95 are
    // ---- compared against the exact empirical order statistics —
    // ---- the distribution-fit partner of q176's power-law MLE. ------
    Q("q350_lognormal_lengths",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"))
          .localCheckpoint(true)
        val lnm = docs
          .select(round(log(col("n_chars").cast("double")), 9)
              .cast(DecimalType(38, 9)).as("l"),
            round(log(col("n_chars").cast("double")) *
              log(col("n_chars").cast("double")), 9)
              .cast(DecimalType(38, 9)).as("l2"))
          .agg(count(lit(1)).as("n"), sum(col("l")).cast("double").as("sl"),
            sum(col("l2")).cast("double").as("sl2"))
          .select(col("n"), (col("sl") / col("n")).as("mu"),
            sqrt(col("sl2") / col("n") -
              (col("sl") / col("n")) * (col("sl") / col("n"))).as("sigma"))
        // empirical quantile picks via distributed rank (doc-grain)
        val ranked = graft.operators.Ranks
          .withGlobalRank(docs, Seq(asc("n_chars"), asc("doc_id")), "rn")
          .crossJoin(broadcast(docs.agg(count(lit(1)).as("nn"))))
        val emp = ranked.agg(
          sum(when(col("rn") === expr("(nn + 1) div 2"), col("n_chars"))
            .otherwise(0L)).as("m1"),
          sum(when(col("rn") === expr("(nn + 2) div 2"), col("n_chars"))
            .otherwise(0L)).as("m2"),
          sum(when(col("rn") === expr("(95 * nn + 99) div 100"),
            col("n_chars")).otherwise(0L)).as("p95"))
        lnm.crossJoin(emp)
          .select(col("n").as("n_docs"),
            round(col("mu"), 6).as("mu"),
            round(col("sigma"), 6).as("sigma"),
            round(exp(col("mu")), 2).as("implied_median"),
            ((col("m1") + col("m2")).cast("double") / 2.0)
              .as("emp_median_raw"),
            round(exp(col("mu") + lit(Z95) * col("sigma")), 2)
              .as("implied_p95"),
            col("p95").as("emp_p95"))
          .select(col("n_docs"), col("mu"), col("sigma"),
            col("implied_median"),
            round(col("emp_median_raw"), 1).as("emp_median"),
            col("implied_p95"), col("emp_p95"))
      },
      Some(s"""WITH lnm AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(CAST(ROUND(ln(CAST(n_chars AS DOUBLE)), 9)
             |      AS DECIMAL(38, 9))) AS DOUBLE) AS sl,
             |    CAST(SUM(CAST(ROUND(ln(CAST(n_chars AS DOUBLE))
             |        * ln(CAST(n_chars AS DOUBLE)), 9)
             |      AS DECIMAL(38, 9))) AS DOUBLE) AS sl2
             |  FROM documents
             |), fitp AS (
             |  SELECT n, sl / n AS mu,
             |    sqrt(sl2 / n - (sl / n) * (sl / n)) AS sigma
             |  FROM lnm
             |), ranked AS (
             |  SELECT n_chars,
             |    CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id)
             |      AS BIGINT) AS rn,
             |    CAST(COUNT(*) OVER () AS BIGINT) AS nn
             |  FROM documents
             |), emp AS (
             |  SELECT
             |    CAST(SUM(CASE WHEN rn = (nn + 1) // 2 THEN n_chars
             |      ELSE 0 END) AS BIGINT) AS m1,
             |    CAST(SUM(CASE WHEN rn = (nn + 2) // 2 THEN n_chars
             |      ELSE 0 END) AS BIGINT) AS m2,
             |    CAST(SUM(CASE WHEN rn = (95 * nn + 99) // 100
             |      THEN n_chars ELSE 0 END) AS BIGINT) AS p95
             |  FROM ranked
             |)
             |SELECT n AS n_docs,
             |  ROUND(mu, 6) AS mu,
             |  ROUND(sigma, 6) AS sigma,
             |  ROUND(exp(mu), 2) AS implied_median,
             |  ROUND(CAST(m1 + m2 AS DOUBLE) / 2.0, 1) AS emp_median,
             |  ROUND(exp(mu + $Z95 * sigma), 2) AS implied_p95,
             |  p95 AS emp_p95
             |FROM fitp CROSS JOIN emp""".stripMargin))
  )
}
