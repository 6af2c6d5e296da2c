package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{TopKAgg, VectorFunctions => VF}

/** Similarity search over an embedding column (`array<float>`).
  *
  * [[bruteForceTopK]] is the exact top-k: broadcast the (small) query
  * set against the corpus, score with the codegen'd cosine expression,
  * reduce with the bounded-heap [[graft.functions.TopKByScore]]
  * aggregate. The only shuffle is queries×k rows (partial aggregation
  * collapses each task to k candidates per query before the exchange)
  * — the formulation that survives a corpus of 10^10 vectors.
  *
  * Near-duplicate pairs ([[nearDupPairs]], [[crossNearDupPairs]]) band
  * vectors with random-hyperplane LSH (Charikar 2002) and score only
  * bucket-mates. The approximate top-k forms (LSH, IVF, PQ) are
  * [[DataQuantizers]]'s, whose quantizers are rows of the table and so
  * replayable by the SQL oracle.
  */
object Similarity {

  /** Exact top-k cosine neighbors for each query vector.
    *
    * @param corpus  (idCol, vecCol) frame — arbitrarily large
    * @param queries (idCol, vecCol) frame — small enough to broadcast
    * @return (query_id, neighbor_id, cosine) rows, k per query,
    *         ordered within query by (cosine desc, neighbor_id)
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     excludeSelf: Boolean = true): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val scored = c.join(q,
        if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        VF.cosine(col("q_vec"), col("c_vec")).as("cosine"))
    scored
      .groupBy("query_id")
      .agg(TopKAgg.topKBy(col("cosine"), col("neighbor_id"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("rank0", "nb")))
      .select(col("query_id"), col("nb.id").as("neighbor_id"),
        col("nb.score").as("cosine"), (col("rank0") + 1).cast("int").as("rank"))
  }

  /** The LSH plane-seed schedule: table `t` hashes with seed
    * `BandSeed + BandStride * t`. ONE definition, shared by
    * [[nearDupPairs]], [[crossNearDupPairs]] and
    * [[graft.streaming.IndexedVectorCorpus]] — the indexed admission
    * gate's equivalence to the direct-scan gate depends on every site
    * deriving buckets from the same schedule. */
  val BandSeed: Long = 0xD00DL
  val BandStride: Long = 104729L

  /** Single-scan banding projection (all tables' buckets in one
    * projection + one explode): (idAs[, vecAs], table, bucket). Pass
    * `vecAs = None` for the NARROW form (the vector is consumed by the
    * bucket bits and not carried — the signature-index shape). */
  private[graft] def bandedBuckets(df: DataFrame, idCol: String, vecCol: String,
                                   idAs: String, vecAs: Option[String],
                                   bits: Int, tables: Int,
                                   seed: Long = BandSeed): DataFrame = {
    require(tables > 0, s"banding needs at least one table, got $tables")
    val withTb = df.select(col(idCol).as(idAs), col(vecCol).as("__v"))
      .withColumn("tb", explode(array((0 until tables).map { t =>
        struct(lit(t).as("table"),
          VF.hyperplaneSignBits(col("__v"), bits, seed = seed + BandStride * t)
            .as("bucket"))
      }: _*)))
    vecAs match {
      case Some(v) => withTb.select(col(idAs), col("__v").as(v),
        col("tb.table").as("table"), col("tb.bucket").as("bucket"))
      case None => withTb.select(col(idAs),
        col("tb.table").as("table"), col("tb.bucket").as("bucket"))
    }
  }

  /** Near-duplicate pairs of every `batch` vector against every
    * `corpus` vector sharing an LSH bucket — the *incremental* shape
    * (the embedding analog of [[graft.dedup.Dedup.crossJaccardPairs]]):
    * an arriving micro-batch is checked against the standing corpus
    * without corpus ever self-joining. The batch side is broadcast
    * (micro-batches are small by contract); the corpus side is ONE scan
    * with the bucket ids computed in the projection — no corpus
    * shuffle, work O(corpus·tables) bucket probes + rescoring only on
    * bucket-mates. Output: (batch_id, corpus_id, cosine).
    *
    * Self-matching is intentional: a vector already in the corpus
    * matches itself at cosine 1.0, which is what makes replayed
    * admission batches idempotent (see
    * [[graft.streaming.EmbeddingAdmission]]). */
  def crossNearDupPairs(corpus: DataFrame, batch: DataFrame,
                        threshold: Double, bits: Int = 6, tables: Int = 4,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        seed: Long = BandSeed): DataFrame = {
    bandedBuckets(corpus, idCol, vecCol, "corpus_id", Some("c_vec"),
        bits, tables, seed)
      .join(broadcast(bandedBuckets(batch, idCol, vecCol, "batch_id",
        Some("b_vec"), bits, tables, seed)), Seq("table", "bucket"))
      .select(col("batch_id"), col("corpus_id"),
        VF.cosine(col("b_vec"), col("c_vec")).as("cosine"))
      .where(col("cosine") >= threshold)
      .groupBy("batch_id", "corpus_id") // dedup across tables
      .agg(max(col("cosine")).as("cosine"))
  }

  /** Embedding near-duplicate pairs: cosine above `threshold` among
    * LSH bucket-mates (the scale path for embedding-based dedup).
    *
    * Tuning rule: candidate volume ≈ n²·tables/2^bits, so `bits`
    * scales with log2(corpus) to hold per-bucket size constant; recall
    * per table is p_bit^bits with p_bit = 1 - θ/π. For true near-dups
    * (cosine ≥ 0.9, p_bit ≈ 0.86) 6 bits × 8 tables gives ~0.98
    * recall; chasing weakly-similar pairs (cosine ≈ 0.45) needs fewer
    * bits or more tables — that regime is what [[bruteForceTopK]] is
    * for. */
  def nearDupPairs(vectors: DataFrame, threshold: Double,
                   bits: Int = 6, tables: Int = 4,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val banded = bandedBuckets(vectors, idCol, vecCol, "id", Some("vec"),
      bits, tables)
    val a = banded.select(col("table"), col("bucket"), col("id").as("id_a"), col("vec").as("vec_a"))
    val b = banded.select(col("table"), col("bucket"), col("id").as("id_b"), col("vec").as("vec_b"))
    a.join(b, Seq("table", "bucket"))
      .where(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("cosine", VF.cosine(col("vec_a"), col("vec_b")))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998) —
    * the diversified-retrieval step of a RAG pipeline: greedily pick k
    * results trading relevance against similarity to what's already
    * picked: argmax λ·rel − μ·max_{s∈selected} sim(d, s).
    *
    * Scale shape: MMR is inherently sequential in k, so the scale
    * design is pool-bounded — an ANN stage reduces the corpus to a
    * small candidate pool (`pool` here, ≤ ~100 rows regardless of
    * corpus size), and the k greedy steps run as chained bounded
    * plans over the persisted pool and its pairwise similarity table
    * (pool² rows, still bounded). All scoring stays in Spark
    * expressions at the round-6 cosine grain, so the unrolled SQL
    * oracle replays every pick exactly (ties toward smaller id).
    *
    * `pool` columns: id (long), vec (float array), rel (double,
    * already rounded to 6). λ and μ are passed separately (not
    * μ = 1−λ) so both render to identical SQL literals.
    */
  def mmrRerank(pool: DataFrame, k: Int, lambda: Double, mu: Double): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // respect a caller-cached pool (IndexCache) — only persist here
    // when the caller didn't
    val p = if (pool.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      pool.persist() else pool
    val pairs = p.select(col("id").as("ida"), col("vec").as("va"))
      .join(broadcast(p.select(col("id").as("idb"), col("vec").as("vb"))),
        col("ida") =!= col("idb"))
      .select(col("ida"), col("idb"),
        round(VF.cosine(col("va"), col("vb")), 6).as("sim"))
      .persist()
    // Each greedy step picks exactly ONE row, so the selected set is
    // metadata-sized by construction (<= k ids) — collect each pick and
    // drive the next step with a literal id list. A lazily-chained
    // union would re-evaluate every earlier step per iteration (O(k²)
    // bounded jobs); this runs exactly k bounded jobs over the
    // persisted pool + pairs.
    val first = p.orderBy(desc("rel"), asc("id")).limit(1)
      .select(col("id"), col("rel").as("score"))
      .collect()
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Double)]
    first.foreach(r => picked += ((r.getLong(0), 1, r.getDouble(1))))
    var i = 2
    while (i <= k && picked.length == i - 1) {
      val selIds: Seq[Any] = picked.map(_._1).toSeq
      val pen = pairs.where(col("idb").isin(selIds: _*))
        .groupBy(col("ida")).agg(max(col("sim")).as("pen"))
      val step = p.join(pen, col("id") === col("ida"))
        .where(!col("id").isin(selIds: _*))
        .select(col("id"),
          (lit(lambda) * col("rel") - lit(mu) * col("pen")).as("score"))
        .orderBy(desc("score"), asc("id")).limit(1)
        .collect()
      step.foreach(r => picked += ((r.getLong(0), i, r.getDouble(1))))
      i += 1
    }
    val spark = pool.sparkSession
    import spark.implicits._
    picked.toSeq.toDF("id", "rank", "score")
      .select(col("rank"), col("id"), round(col("score"), 6).as("score"))
      .orderBy("rank")
  }

  /** DuckDB mirror of [[mmrRerank]]: the greedy chain unrolled as
    * CTEs over `poolCte`, which must yield pool(id, emb, rel). */
  def mmrSql(poolCte: String, k: Int, lambda: Double, mu: Double): String = {
    val base =
      s"""WITH pool AS ($poolCte),
         |pairs AS (
         |  SELECT a.id AS ida, b.id AS idb,
         |    ROUND(list_cosine_similarity(CAST(a.emb AS DOUBLE[]), CAST(b.emb AS DOUBLE[])), 6) AS sim
         |  FROM pool a JOIN pool b ON a.id <> b.id
         |),
         |acc1 AS (SELECT id, 1 AS rank, rel AS score FROM pool ORDER BY rel DESC, id LIMIT 1)""".stripMargin
    val steps = (2 to k).map { i =>
      s"""sel$i AS (
         |  SELECT p.id, $i AS rank, $lambda * p.rel - $mu * MAX(pr.sim) AS score
         |  FROM pool p
         |  JOIN pairs pr ON pr.ida = p.id AND pr.idb IN (SELECT id FROM acc${i - 1})
         |  WHERE p.id NOT IN (SELECT id FROM acc${i - 1})
         |  GROUP BY p.id, p.rel
         |  ORDER BY score DESC, p.id LIMIT 1
         |),
         |acc$i AS (SELECT * FROM acc${i - 1} UNION ALL SELECT * FROM sel$i)""".stripMargin
    }
    (base +: steps).mkString(",\n") +
      s"\nSELECT rank, id, ROUND(score, 6) AS score FROM acc$k ORDER BY rank"
  }
}
