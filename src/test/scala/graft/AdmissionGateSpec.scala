package graft

import org.apache.spark.sql.functions._

import graft.streaming.AdmissionGate

/** Dedup admission gate: within-batch collapse, corpus rejection,
  * replay idempotency, and the streaming form end-to-end. */
class AdmissionGateSpec extends SparkSpec {
  import spark.implicits._

  // distinct docs share no 3-gram shingles; near-dups share most
  private val base = "the quick brown fox jumps over the lazy dog again and again"
  private val baseVariant = base + " tonight"
  private val other = "entirely different words about spark catalyst planning internals"
  private val third = "completely unrelated content regarding parquet storage layouts here"

  test("admitBatch: self-dedup, corpus rejection, replay idempotency") {
    val corpus = tmpDir("graft-admit") + "/corpus"

    // batch 1: A, B ~ A (near-dup), C distinct → A, C admitted
    val b1 = Seq((1L, base), (2L, baseVariant), (3L, other)).toDF("doc_id", "text")
    val a1 = AdmissionGate.admitBatch(b1, corpus).select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(a1 == Seq(1L, 3L), s"batch 1 admitted $a1")

    // batch 2: D ~ A (already in corpus) rejected, E distinct admitted
    val b2 = Seq((4L, base + " today"), (5L, third)).toDF("doc_id", "text")
    val a2 = AdmissionGate.admitBatch(b2, corpus).select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(a2 == Seq(5L), s"batch 2 admitted $a2")

    // replaying batch 2 admits nothing: its survivors now self-match
    val a2r = AdmissionGate.admitBatch(b2, corpus).count()
    assert(a2r == 0, s"replay re-admitted $a2r docs")

    val landed = spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(landed == Seq(1L, 3L, 5L), s"corpus holds $landed")
  }

  test("corpus read failures propagate — dedup never silently disabled") {
    val corpus = tmpDir("graft-admit-bad") + "/corpus"
    val b1 = Seq((1L, base)).toDF("doc_id", "text")
    AdmissionGate.admitBatch(b1, corpus)
    // corrupt the corpus: schema inference must now fail loudly instead
    // of treating the corpus as absent and admitting duplicates
    java.nio.file.Files.write(
      java.nio.file.Paths.get(corpus, "part-junk.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    val dup = Seq((9L, base + " tonight")).toDF("doc_id", "text")
    intercept[Exception] { AdmissionGate.admitBatch(dup, corpus).count() }
  }

  test("streaming dedupAdmission: file stream to corpus, exactly-once effect") {
    val root = tmpDir("graft-admit-stream")
    val src = s"$root/src"
    val corpus = s"$root/corpus"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))

    def writeJson(name: String, rows: Seq[(Long, String)]): Unit = {
      val p = java.nio.file.Paths.get(src, name)
      val body = rows.map { case (i, t) => s"""{"doc_id":$i,"text":"$t"}""" }
        .mkString("\n")
      java.nio.file.Files.write(p, body.getBytes("UTF-8"))
    }
    writeJson("b1.json", Seq((1L, base), (2L, baseVariant), (3L, other)))

    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")
    def run(): Unit = {
      val q = AdmissionGate.dedupAdmission(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src),
        corpus, s"$root/cp")
      q.awaitTermination(120000); ()
    }
    run()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().sorted.toSeq
      == Seq(1L, 3L))

    // second file arrives; restart from checkpoint processes only it
    writeJson("b2.json", Seq((4L, base + " today"), (5L, third)))
    run()
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().sorted.toSeq
      == Seq(1L, 3L, 5L))
  }

  test("IndexedCorpus: same admissions as the direct-scan gate; fence blocks replays") {
    import graft.streaming.IndexedCorpus
    val c = new IndexedCorpus(tmpDir("graft-idx") + "/corpus")

    val b1 = Seq((1L, base), (2L, baseVariant), (3L, other)).toDF("doc_id", "text")
    val a1 = c.admit(b1, batchId = 0).select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(a1 == Seq(1L, 3L), s"batch 1 admitted $a1")

    val b2 = Seq((4L, base + " today"), (5L, third)).toDF("doc_id", "text")
    val a2 = c.admit(b2, batchId = 1).select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(a2 == Seq(5L), s"batch 2 admitted $a2")

    // replay: the fence rejects the whole batch, corpus unchanged
    assert(c.admit(b2, batchId = 1).count() == 0)
    assert(c.lastBatchId(spark) == 1L)
    // an id BEHIND the fence is a checkpoint reset: it throws
    val behind = intercept[IllegalArgumentException](c.admit(b2, batchId = 0))
    assert(behind.getMessage.contains("behind the store fence"))
    assert(c.lastBatchId(spark) == 1L)
    val landed = c.readDocs(spark).get.select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(landed == Seq(1L, 3L, 5L), s"corpus holds $landed")

    // the index agrees with a from-scratch derivation off the docs
    val derived = graft.dedup.Dedup
      .shingleIndex(c.readDocs(spark).get, "doc_id", "text", 3)
      .select("id", "shingle")
    val stored = c.readPostings(spark).get.select("id", "shingle")
    assertSameRows(derived, stored)

    // an all-duplicates batch advances the fence without a new dir
    val b3 = Seq((6L, base + " yet again tonight")).toDF("doc_id", "text")
    assert(c.admit(b3, batchId = 2).count() == 0)
    assert(c.lastBatchId(spark) == 2L)
    assert(c.readDocs(spark).get.count() == 3)
  }

  test("IndexedCorpus: uncommitted writes are invisible; probe prunes to touched buckets") {
    import graft.streaming.IndexedCorpus
    val root = tmpDir("graft-idx-crash")
    val c = new IndexedCorpus(s"$root/corpus", buckets = 8)
    c.admit(Seq((1L, base), (2L, other)).toDF("doc_id", "text"), batchId = 0)

    // simulate a crash AFTER data write, BEFORE manifest swap: an
    // orphan batch dir exists but is not committed — readers skip it
    Seq((9L, third)).toDF("doc_id", "text")
      .write.parquet(s"$root/corpus/docs/b99")
    assert(c.readDocs(spark).get.count() == 2, "orphan dir must be invisible")

    // bucket pruning: the probe plan carries an __sbucket IN (...)
    // partition filter derived from the batch's own shingles
    val probe = Seq((3L, base + " maybe")).toDF("doc_id", "text")
    val admitted = c.admit(probe, batchId = 1)
    assert(admitted.count() == 0, "near-dup of committed doc must be rejected")

    // streaming form: index-backed admission end to end (fresh corpus —
    // foreachBatch ids restart at 0, and the fence demands monotonicity)
    val c2 = new IndexedCorpus(s"$root/corpus2", buckets = 8)
    val src = s"$root/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    java.nio.file.Files.write(java.nio.file.Paths.get(src, "b1.json"),
      s"""{"doc_id":10,"text":"$third"}""".getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(src, "b2.json"),
      s"""{"doc_id":11,"text":"$third later"}""".getBytes("UTF-8"))
    val q = graft.streaming.AdmissionGate.dedupAdmissionIndexed(
      spark.readStream.schema(org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING"))
        .option("maxFilesPerTrigger", 1).json(src),
      c2, s"$root/cp")
    q.awaitTermination(120000)
    // doc 11 is a near-dup of doc 10, admitted a micro-batch earlier —
    // rejected through the index probe
    val landed = c2.readDocs(spark).get.select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(landed == Seq(10L), s"corpus holds $landed")
  }
}
