package graft

import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, Portable}
import graft.functions.{PortableHash, PortableHashFunctions}
import graft.sim.{DataQuantizers, IndexCache}
import graft.sources.Tables

/** Portable (engine-reproducible) dedup/ANN forms: differential tests
  * against built-ins-only formulations and exact passes. The primary
  * gate for these operators is the driver's DuckDB oracle (full
  * pipeline replay — see Portable.minhashPairsSql etc.); these specs
  * guard the Spark side against refactors without needing DuckDB. */
class PortableSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, sfDir, "documents")
  private lazy val emb = Tables.load(spark, sfDir, "embeddings")

  test("portable minhash kernel == built-ins HOF formulation (md5/conv/pmod)") {
    val P = PortableHash.P
    val numHashes = 32
    val seed = 42L
    val base = transform(col("sh"), s =>
      pmod(conv(substring(md5(s), 1, 15), 16, 10).cast("long"), lit(P)))
    val hof = array(PortableHash.coeffs(numHashes, seed).map { case (a, b) =>
      array_min(transform(col("bh"), h => pmod(h * lit(a) + lit(b), lit(P))))
    }: _*)
    // corpus sample + adversarial rows: multi-byte UTF-8 (md5 runs over
    // UTF-8 bytes in both engines), empty-ish and whitespace shapes
    val adversarial = Seq(
      (9101L, "héllo wörld ünïcode tökens ünïcode tökens héllo wörld möre"),
      (9102L, "日本語 トークン 分割 テスト 日本語 トークン 分割 テスト 追加"),
      (9103L, "emoji 🚀 mix 🚀 emoji 🚀 mix 🚀 tail 🚀 end"),
      (9104L, "a  b   c a  b   c a  b   c") // repeated internal spaces
    ).toDF("doc_id", "text")
    val both = docs.select("doc_id", "text").limit(50)
      .unionByName(adversarial)
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .withColumn("bh", base)
      .select(col("doc_id"),
        PortableHashFunctions.minhashSignature(col("sh"), numHashes, seed).as("kernel"),
        hof.as("hof"))
    assert(both.where(col("kernel") =!= col("hof")).count() == 0,
      "imperative kernel diverged from the built-ins formulation")
  }

  test("portable simhash banded pairs == full O(n^2) hamming pass (pigeonhole)") {
    val d = docs.limit(120)
    val banded = Portable.simhashPairs(d, maxHamming = 6, numBands = 8)
    val sigs = d.select(col("doc_id").as("id"),
        PortableHashFunctions.simhashWords(split(col("text"), " ")).as("sw"))
      .select(col("id"), element_at(col("sw"), 1).as("hi"),
        element_at(col("sw"), 2).as("lo"))
    val a = sigs.select(col("id").as("id_a"), col("hi").as("ha"), col("lo").as("la"))
    val b = sigs.select(col("id").as("id_b"), col("hi").as("hb"), col("lo").as("lb"))
    val brute = a.join(b, col("id_a") < col("id_b"))
      .withColumn("hamming",
        (bit_count(col("ha").bitwiseXOR(col("hb"))) +
         bit_count(col("la").bitwiseXOR(col("lb")))).cast("int"))
      .where(col("hamming") <= 6)
      .select("id_a", "id_b", "hamming")
    assertSameRows(banded, brute)
  }

  test("portable minhash pairs: sound vs exact jaccard, complete on exact dups") {
    val dup = Seq(
      (9001L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (9002L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (9003L, "totally unrelated words about distributed query planning")
    ).toDF("doc_id", "text")
    val d = docs.select("doc_id", "text").limit(80).unionByName(dup)
    val pairs = Portable.minhashPairs(d, threshold = 0.6)
    // soundness: every emitted pair clears the exact-Jaccard threshold
    val exact = Dedup.jaccardPairs(d, threshold = 0.6).select("id_a", "id_b")
    assert(pairs.select("id_a", "id_b").exceptAll(exact).count() == 0,
      "portable minhash emitted a below-threshold pair")
    // completeness on identical texts: same shingle set => same
    // signature => same band keys, deterministically
    assert(pairs.where(col("id_a") === 9001L && col("id_b") === 9002L).count() == 1,
      "exact duplicates must always collide")
  }

  test("data-quantizer LSH top-k: rescored cosines are exact, ranks dense") {
    IndexCache.clear()
    val res = DataQuantizers.lshTopK(emb, emb.filter(col("vec_id") < 8),
      k = 5, bits = 4, tables = 8, planeOffset = 100, cacheKey = "spec")
    // every emitted cosine equals the rounded exact cosine of that pair
    val withExact = res
      .join(emb.select(col("vec_id").as("query_id"), col("embedding").as("qv")), "query_id")
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv")), "neighbor_id")
      .withColumn("exact", round(graft.functions.VectorFunctions.cosine(col("qv"), col("nv")), 6))
    assert(withExact.where(col("cosine") =!= col("exact")).count() == 0)
    // ranks are 1..n(q) with no gaps, descending cosine
    val badRank = res.groupBy("query_id")
      .agg(count(lit(1)).as("n"), max(col("rank")).as("mx"), min(col("rank")).as("mn"))
      .where(col("mx") =!= col("n") || col("mn") =!= 1)
    assert(badRank.count() == 0, "ranks must be dense from 1")
  }

  test("seed-row IVF: neighbors only come from probed cells; no self-match") {
    val res = DataQuantizers.ivfTopK(emb, emb.filter(col("vec_id") < 8),
      k = 5, nCentroids = 16, nProbe = 4, centOffset = 200)
    assert(res.where(col("query_id") === col("neighbor_id")).count() == 0)
    assert(res.groupBy("query_id").count().where(col("count") > 5).count() == 0)
    // the same call is deterministic end to end
    val again = DataQuantizers.ivfTopK(emb, emb.filter(col("vec_id") < 8),
      k = 5, nCentroids = 16, nProbe = 4, centOffset = 200)
    assertSameRows(res, again)
  }

  test("seed-row PQ/ADC: scores are integer-quantized and deterministic") {
    val res = DataQuantizers.pqTopK(emb, emb.filter(col("vec_id") < 8),
      k = 5, m = 8, dim = 64, codebookSize = 32, seedOffset = 240)
    // adc_score * 1e6 must be an exact integer (BIGINT-summed LUT)
    val nonInt = res.where(
      abs(col("adc_score") * 1000000.0 - round(col("adc_score") * 1000000.0)) > 1e-6)
    assert(nonInt.count() == 0, "adc_score must be an integer-quantized sum")
    val again = DataQuantizers.pqTopK(emb, emb.filter(col("vec_id") < 8),
      k = 5, m = 8, dim = 64, codebookSize = 32, seedOffset = 240)
    assertSameRows(res, again)
  }
}
