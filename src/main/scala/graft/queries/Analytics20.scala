package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Twentieth analytics pack (round 6, session 6): retrieval-quality
  * evaluation (recall@k / NDCG@k of the LSH index against the exact
  * scan), greedy max-coverage source selection, and an equi-depth
  * histogram on exact-dyadic octile boundaries. */
object Analytics20 {

  private val EvalK = 5

  /** Greedy coverage steps (bounded driver loop, q121 MMR pattern). */
  private val CoverSteps = 5

  val all: Seq[Q] = Seq(

    // ---- ANN index evaluation: recall@5 and binary-relevance NDCG@5
    // ---- of the q42 LSH index against the q40 exact scan — the
    // ---- retrieval-quality dashboard every vector index needs. Both
    // ---- rankings are engine-portable already; per-rank DCG terms are
    // ---- quantized to the 1e-9 grid so the 5-term sums are
    // ---- order-independent. The ideal DCG comes off a range() spine
    // ---- with the same grid, not a hand-typed constant ---------------
    Q("q206_ann_eval",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 8)
        val exact = graft.sim.Similarity.bruteForceTopK(emb, queries, k = EvalK)
          .select(col("query_id"), col("neighbor_id"))
        val lsh = graft.sim.DataQuantizers.lshTopK(emb, queries, k = EvalK,
            bits = 4, tables = 8, planeOffset = 100, cacheKey = dir)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
        val dcgTerm = round(lit(1e9) /
          log2(col("rank").cast("double") + 1.0)).cast("long")
        val hits = lsh.join(exact, Seq("query_id", "neighbor_id"))
          .groupBy("query_id")
          .agg(count(lit(1)).as("n_hits"), sum(dcgTerm).as("dcgq"))
        val idealTerm = round(lit(1e9) /
          log2(col("id").cast("double") + 1.0)).cast("long")
        val ideal = s.range(1, EvalK + 1).agg(sum(idealTerm).as("idcgq"))
        exact.select("query_id").distinct()
          .join(hits, Seq("query_id"), "left")
          .crossJoin(broadcast(ideal))
          .select(col("query_id"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            round(coalesce(col("n_hits"), lit(0L)).cast("double") /
              lit(EvalK.toDouble), 6).as("recall"),
            round(coalesce(col("dcgq"), lit(0L)).cast("double") /
              col("idcgq").cast("double"), 6).as("ndcg"))
          .orderBy("query_id")
      },
      Some(s"""WITH ex AS (
             |  SELECT query_id, neighbor_id FROM (
             |    ${graft.queries.TextQueries.q40Sql.replace("\n", "\n    ")})
             |), ls AS (
             |  SELECT query_id, neighbor_id, rank FROM (
             |    ${graft.sim.DataQuantizers.lshTopKSql("embeddings", k = EvalK,
                      bits = 4, tables = 8, planeOffset = 100,
                      queryPred = "id < 8").replace("\n", "\n    ")})
             |), hits AS (
             |  SELECT l.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
             |    CAST(SUM(CAST(ROUND(1e9 / log2(CAST(l.rank AS DOUBLE) + 1.0))
             |      AS BIGINT)) AS BIGINT) AS dcgq
             |  FROM ls l JOIN ex e USING (query_id, neighbor_id)
             |  GROUP BY l.query_id
             |), ideal AS (
             |  SELECT CAST(SUM(CAST(ROUND(1e9 / log2(CAST(r.range AS DOUBLE) + 1.0))
             |    AS BIGINT)) AS BIGINT) AS idcgq
             |  FROM range(1, ${EvalK + 1}) r
             |)
             |SELECT q.query_id, COALESCE(h.n_hits, 0) AS n_hits,
             |  ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
             |    / CAST($EvalK AS DOUBLE), 6) AS recall,
             |  ROUND(CAST(COALESCE(h.dcgq, 0) AS DOUBLE)
             |    / CAST(idcgq AS DOUBLE), 6) AS ndcg
             |FROM (SELECT DISTINCT query_id FROM ex) q
             |LEFT JOIN hits h USING (query_id)
             |CROSS JOIN ideal
             |ORDER BY q.query_id""".stripMargin)),

    // ---- greedy max-coverage source selection (the submodular
    // ---- curation step: which 5 sources together cover the most
    // ---- vocabulary?): classic (1−1/e) greedy — each step collects
    // ---- ONE argmax row and drives the next anti-join with literal
    // ---- ids (q121 MMR pattern; steps are bounded by construction).
    // ---- The oracle unrolls the same 5 steps as chained CTEs over a
    // ---- MATERIALIZED token table ------------------------------------
    Q("q207_greedy_coverage",
      (s, dir) => {
        // 3-gram coverage, not unigram — the synthetic corpus's unigram
        // vocabulary saturates after one source (q187), which would
        // degenerate the greedy sequence to a single pick
        val ts = graft.sim.IndexCache.getOrBuild(s, s"source-3grams:$dir") {
          t(s, dir, "documents")
            .select(col("source"),
              explode(graft.dedup.Dedup.shingles(col("text"), 3)).as("tok"))
            .distinct()
        }
        var picked = Vector.empty[(Int, String, Long, Long)]
        var exhausted = false
        for (step <- 1 to CoverSteps if !exhausted) {
          val pickedSrc = picked.map(_._2)
          val covered = ts.filter(col("source").isin(pickedSrc: _*))
            .select("tok").distinct()
          val gains = ts
            .filter(!col("source").isin(pickedSrc: _*))
            .join(covered, Seq("tok"), "left_anti")
            .groupBy("source").agg(count(lit(1)).as("gain"))
            .orderBy(col("gain").desc, col("source").asc)
            .limit(1)
          gains.collect().headOption match {
            case Some(row) =>
              val cum = picked.lastOption.map(_._4).getOrElse(0L) + row.getLong(1)
              picked :+= ((step, row.getString(0), row.getLong(1), cum))
            case None => exhausted = true // every token already covered
          }
        }
        import s.implicits._
        picked.toDF("step", "source", "gain", "cum_tokens")
      },
      Some {
        // chained greedy steps; pN = the N-th pick (argmax of marginal
        // gain over tokens not covered by the previous picks)
        def pickedUnion(k: Int): String =
          (1 to k).map(i => s"SELECT source FROM p$i").mkString(" UNION ALL ")
        val steps = (1 to CoverSteps).map { k =>
          val pred =
            if (k == 1) ""
            else s"""  WHERE source NOT IN (${pickedUnion(k - 1)})
                    |    AND tok NOT IN (SELECT tok FROM ts
                    |      WHERE source IN (${pickedUnion(k - 1)}))
                    |""".stripMargin
          s"""g$k AS (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS gain FROM ts
             |$pred  GROUP BY source
             |), p$k AS MATERIALIZED (
             |  SELECT $k AS step, source, gain
             |  FROM g$k ORDER BY gain DESC, source LIMIT 1
             |)""".stripMargin
        }.mkString(",\n")
        val arms = (1 to CoverSteps).map { k =>
          s"""SELECT step, source, gain,
             |  (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) FROM ts
             |   WHERE source IN (${pickedUnion(k)})) AS cum_tokens
             |FROM p$k""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH ts AS MATERIALIZED (
           |  SELECT DISTINCT source, tok FROM (
           |    SELECT source, unnest(sl) AS tok FROM (
           |      SELECT source,
           |        list_distinct([array_to_string(toks[i:i+2], ' ')
           |          FOR i IN range(1, greatest(len(toks) - 1, 1))]) AS sl
           |      FROM (SELECT source, string_split(text, ' ') AS toks
           |            FROM documents)))
           |),
           |$steps
           |$arms
           |ORDER BY step""".stripMargin
      }),

    // ---- equi-depth histogram per lang on exact-dyadic octile
    // ---- boundaries (the DB-statistics building block q146's
    // ---- equi-WIDTH form doesn't cover): k/8 quantiles of integer
    // ---- data interpolate on eighths, which are exact in binary —
    // ---- so bucket assignment is bit-identical across engines.
    // ---- Depths are NOT uniform exactly where values tie, which is
    // ---- the operationally interesting output ------------------------
    Q("q208_equidepth_histogram",
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("lang"), col("n_chars"))
        val bCols = (1 to 7).map(k =>
          expr(s"percentile(n_chars, ${k / 8.0})").as(s"b$k"))
        val qs = docs.groupBy("lang").agg(bCols.head, bCols.tail: _*)
        val x = col("n_chars").cast("double")
        val bucket = (1 to 7).foldRight(lit(8): org.apache.spark.sql.Column) {
          case (k, acc) => when(x <= col(s"b$k"), k).otherwise(acc)
        }
        docs.join(broadcast(qs), Seq("lang"))
          .select(Seq(col("lang"), bucket.as("bucket")) ++
            (1 to 7).map(k => col(s"b$k")): _*)
          .groupBy("lang", "bucket")
          .agg(count(lit(1)).as("n"),
            round(max(
              (1 to 7).foldRight(lit(null).cast("double")) { case (k, acc) =>
                when(col("bucket") === k, col(s"b$k")).otherwise(acc)
              }), 4).as("hi"))
          .orderBy("lang", "bucket")
      },
      Some {
        val bs = (1 to 7).map(k =>
          s"quantile_cont(n_chars, ${k / 8.0}) AS b$k").mkString(",\n    ")
        val bucket = (1 to 7).reverse.foldLeft("8") { case (acc, k) =>
          s"CASE WHEN CAST(n_chars AS DOUBLE) <= b$k THEN $k ELSE $acc END"
        }
        val hi = (1 to 7).reverse.foldLeft("CAST(NULL AS DOUBLE)") {
          case (acc, k) => s"CASE WHEN bucket = $k THEN b$k ELSE $acc END"
        }
        s"""WITH qs AS (
           |  SELECT lang,
           |    $bs
           |  FROM documents GROUP BY lang
           |), assigned AS (
           |  SELECT d.lang, $bucket AS bucket,
           |    b1, b2, b3, b4, b5, b6, b7
           |  FROM documents d JOIN qs USING (lang)
           |)
           |SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n,
           |  ROUND(MAX($hi), 4) AS hi
           |FROM assigned
           |GROUP BY lang, bucket
           |ORDER BY lang, bucket""".stripMargin
      })
  )
}
