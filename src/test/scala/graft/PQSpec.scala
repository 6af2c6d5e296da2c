package graft

import org.apache.spark.sql.functions._

import graft.sim.{DataQuantizers, Similarity}
import graft.sources.Tables

/** Product-quantization specs over the seed-row PQ form
  * ([[DataQuantizers.pqTopK]]): code well-formedness and end-to-end
  * recall vs exact brute force. */
class PQSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.load(spark, sfDir, "embeddings")
  private val DIM = 64
  // synthetic embeddings are near-uniform (tiny cosine gaps), so the
  // spec uses a fine quantizer; real clustered corpora need far less
  private val M = 16
  private val K = 64
  private val SeedOffset = 240

  private lazy val codebook =
    DataQuantizers.pqCodebook(emb, M, DIM, K, SeedOffset)

  test("codes are well-formed: m entries, all within [0, k)") {
    val codes = DataQuantizers.pqEncode(emb, codebook, M, DIM)
    val bad = codes.groupBy(col("id"))
      .agg(count(lit(1)).as("n"), countDistinct(col("m")).as("nm"),
        min(col("m")).as("m0"), max(col("m")).as("m1"),
        min(col("code")).as("c0"), max(col("code")).as("c1"))
      .where(col("n") =!= M || col("nm") =!= M || col("m0") =!= 0 ||
        col("m1") =!= M - 1 || col("c0") < 0 || col("c1") >= K)
      .count()
    assert(bad == 0)
    assert(codes.select("id").distinct().count() == emb.count())
  }

  test("ADC top-k recall vs exact brute force") {
    val queries = emb.where($"vec_id" < 8)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id")
    val adc = DataQuantizers.pqTopK(emb, queries, k = 10, m = M, dim = DIM,
        codebookSize = K, seedOffset = SeedOffset)
      .select("query_id", "neighbor_id")
    val recall = exact.intersect(adc).count().toDouble / exact.count()
    assert(recall >= 0.4, s"ADC recall@10-of-5 too low: $recall")
  }
}
