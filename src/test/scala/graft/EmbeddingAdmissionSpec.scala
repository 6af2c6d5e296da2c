package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.{EmbeddingAdmission, IndexedVectorCorpus}

/** Embedding admission gate: within-batch collapse, corpus rejection,
  * replay idempotence, streaming e2e. Fixtures are seeded clusters —
  * a base direction plus tiny perturbations (cosine ≈ 0.999, far above
  * the 0.9 gate) vs near-orthogonal novel directions (cosine ≈ 0). */
class EmbeddingAdmissionSpec extends SparkSpec {

  private val DIM = 16

  private def vec(rnd: scala.util.Random): Array[Float] =
    Array.fill(DIM)(rnd.nextGaussian().toFloat)

  private def perturb(base: Array[Float], rnd: scala.util.Random,
                      eps: Float = 0.01f): Array[Float] =
    base.map(x => x + eps * rnd.nextGaussian().toFloat)

  private def df(rows: Seq[(Long, Array[Float])]): DataFrame = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, v) => Row(i, v.toSeq) }, 2),
      schema)
  }

  test("within-batch collapse, corpus rejection, novel admission") {
    val rnd = new scala.util.Random(7)
    val a = vec(rnd); val b = vec(rnd); val c = vec(rnd)
    val corpus = tmpDir("graft-embadm") + "/corpus"

    // batch 1: cluster around a (3 copies) + one b → 2 representatives
    val b1 = df(Seq(1L -> a, 2L -> perturb(a, rnd), 3L -> perturb(a, rnd),
      10L -> b))
    val admitted1 = EmbeddingAdmission.admitBatch(b1, corpus)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    assert(admitted1.sameElements(Array(1L, 10L)), admitted1.mkString(","))

    // batch 2: more near-copies of a and b → rejected; novel c → admitted
    val b2 = df(Seq(20L -> perturb(a, rnd), 21L -> perturb(b, rnd), 30L -> c))
    val admitted2 = EmbeddingAdmission.admitBatch(b2, corpus)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    assert(admitted2.sameElements(Array(30L)), admitted2.mkString(","))

    val landed = spark.read.parquet(corpus)
    assert(landed.count() == 3)
  }

  test("replayed batch admits nothing (self-match masking)") {
    val rnd = new scala.util.Random(11)
    val a = vec(rnd); val b = vec(rnd)
    val corpus = tmpDir("graft-embadm-rp") + "/corpus"
    val batch = df(Seq(1L -> a, 2L -> b))
    assert(EmbeddingAdmission.admitBatch(batch, corpus).count() == 2)
    // at-least-once redelivery of the SAME batch
    assert(EmbeddingAdmission.admitBatch(batch, corpus).count() == 0)
    assert(spark.read.parquet(corpus).count() == 2)
  }

  test("streaming e2e over a json vector source") {
    val rnd = new scala.util.Random(23)
    val a = vec(rnd); val b = vec(rnd)
    val src = tmpDir("graft-embadm-src")
    val corpus = tmpDir("graft-embadm-st") + "/corpus"
    val cp = tmpDir("graft-embadm-cp")

    def writeFile(name: String, rows: Seq[(Long, Array[Float])]): Unit = {
      val lines = rows.map { case (i, v) =>
        s"""{"vec_id":$i,"embedding":[${v.mkString(",")}]}"""
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(src, name),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    writeFile("f1.json", Seq(1L -> a, 2L -> perturb(a, rnd), 3L -> b))
    writeFile("f2.json", Seq(4L -> perturb(b, rnd), 5L -> perturb(a, rnd)))

    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(src)
    EmbeddingAdmission.nearDupAdmission(stream, corpus, s"$cp/c")
      .awaitTermination()

    val landed = spark.read.parquet(corpus)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    // every near-copy of a or b is gated out whichever file it rode in
    assert(landed.length == 2 && landed.contains(3L), landed.mkString(","))
  }

  private def ids(d: DataFrame): Set[Long] =
    d.select("vec_id").collect().map(_.getLong(0)).toSet

  test("indexed gate admits exactly what the direct gate admits") {
    val rnd = new scala.util.Random(31)
    val a = vec(rnd); val b = vec(rnd); val c = vec(rnd)
    val direct = tmpDir("graft-ivc-d") + "/corpus"
    val ivc = new IndexedVectorCorpus(tmpDir("graft-ivc-i") + "/corpus")
    val batches = Seq(
      df(Seq(1L -> a, 2L -> perturb(a, rnd), 10L -> b)),
      df(Seq(20L -> perturb(a, rnd), 21L -> perturb(b, rnd), 30L -> c)),
      df(Seq(40L -> perturb(c, rnd), 41L -> vec(rnd))))
    batches.zipWithIndex.foreach { case (bt, i) =>
      val d = ids(EmbeddingAdmission.admitBatch(bt, direct))
      val x = ids(ivc.admit(bt, i.toLong))
      assert(d == x, s"batch $i diverged: direct=$d indexed=$x")
    }
    assert(ids(spark.read.parquet(direct)) == ids(ivc.readVecs(spark).get))
  }

  test("indexed gate fences replays; orphan dirs stay invisible") {
    val rnd = new scala.util.Random(37)
    val a = vec(rnd); val b = vec(rnd)
    val root = tmpDir("graft-ivc-f") + "/corpus"
    val ivc = new IndexedVectorCorpus(root)
    assert(ids(ivc.admit(df(Seq(1L -> a)), 0L)) == Set(1L))
    // replay of batch 0 — even with DIFFERENT content — admits nothing
    // (the fence, not self-matching, is the guarantee here)
    assert(ivc.admit(df(Seq(2L -> b)), 0L).isEmpty)
    assert(ids(ivc.readVecs(spark).get) == Set(1L))
    // a crash-orphan data dir without a manifest entry is invisible
    df(Seq(99L -> b)).write.parquet(root + "/vecs/b7")
    assert(ids(ivc.readVecs(spark).get) == Set(1L))
    // the next real batch still lands
    assert(ids(ivc.admit(df(Seq(2L -> b)), 1L)) == Set(2L))
    assert(ids(ivc.readVecs(spark).get) == Set(1L, 2L))
    // an id BEHIND the fence is a checkpoint reset: it throws
    val behind = intercept[IllegalArgumentException](
      ivc.admit(df(Seq(70L -> a)), 0L))
    assert(behind.getMessage.contains("behind the store fence"))
    assert(ids(ivc.readVecs(spark).get) == Set(1L, 2L))
    // an all-duplicates batch advances the fence without adding a dir…
    assert(ivc.admit(df(Seq(50L -> a)), 2L).isEmpty)
    assert(ivc.lastBatchId(spark) == 2L)
    assert(ids(ivc.readVecs(spark).get) == Set(1L, 2L))
    // …and admission continues normally past it
    val c = vec(rnd)
    assert(ids(ivc.admit(df(Seq(60L -> c)), 3L)) == Set(60L))
    assert(ids(ivc.readVecs(spark).get) == Set(1L, 2L, 60L))
  }

  test("streaming e2e over the indexed corpus") {
    val rnd = new scala.util.Random(41)
    val a = vec(rnd); val b = vec(rnd)
    val src = tmpDir("graft-ivc-src")
    val ivc = new IndexedVectorCorpus(tmpDir("graft-ivc-st") + "/corpus")
    val cp = tmpDir("graft-ivc-cp")

    def writeFile(name: String, rows: Seq[(Long, Array[Float])]): Unit = {
      val lines = rows.map { case (i, v) =>
        s"""{"vec_id":$i,"embedding":[${v.mkString(",")}]}"""
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(src, name),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    writeFile("f1.json", Seq(1L -> a, 2L -> perturb(a, rnd), 3L -> b))
    writeFile("f2.json", Seq(4L -> perturb(b, rnd), 5L -> perturb(a, rnd)))

    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(src)
    graft.streaming.EmbeddingAdmission
      .nearDupAdmissionIndexed(stream, ivc, s"$cp/c")
      .awaitTermination()

    val landed = ids(ivc.readVecs(spark).get)
    assert(landed.size == 2 && landed.contains(3L), landed.mkString(","))
  }
}
