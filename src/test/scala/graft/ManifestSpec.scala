package graft.streaming

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import graft.SparkSpec

/** The shared pointer swap: atomic on the local filesystem the tests and
  * the benchmark run on, and backward-compatible with pointers an older
  * build wrote through the checksummed filesystem (`.crc` sidecars). */
class ManifestSpec extends SparkSpec {
  import spark.implicits._

  private def localFs(p: HPath): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("a poller never sees the pointer missing, torn or unknown across 2000 swaps") {
    val pointer = new HPath(tmpDir("graft-manifest"), "_CURRENT")
    val fs = localFs(pointer)
    val swaps = 2000
    def version(i: Int): Seq[String] = i.toString +: (0 until 8).map(b => s"$b $i")
    Manifest.swap(fs, pointer, version(0))

    val done = new AtomicBoolean(false)
    var polls, missing, unreadable, unknown = 0
    val poller = new Thread(() =>
      while (!done.get()) {
        polls += 1
        try Manifest.read(fs, pointer) match {
          case None => missing += 1
          case Some(lines) =>
            if (lines != version(lines.head.toInt)) unknown += 1
        } catch { case _: Exception => unreadable += 1 }
      })
    poller.start()
    try (1 to swaps).foreach(i => Manifest.swap(fs, pointer, version(i)))
    finally { done.set(true); poller.join() }

    assert(polls > 0)
    assert((missing, unreadable, unknown) == ((0, 0, 0)),
      s"$missing missing, $unreadable unreadable, $unknown unknown of $polls polls")
    assert(Manifest.read(fs, pointer).contains(version(swaps)))
    info(s"$polls polls over $swaps swaps")
  }

  /** Re-write a pointer through the checksummed filesystem, as older
    * builds did, leaving a `.crc` sidecar beside it. */
  private def rewriteChecksummed(dir: String, name: String): Unit = {
    val p = new HPath(dir, name)
    val fs = localFs(p)
    val lines = Manifest.read(fs, p).get
    val out = fs.create(p, true)
    try out.write(lines.mkString("\n").getBytes("UTF-8")) finally out.close()
    assert(fs.exists(new HPath(dir, s".$name.crc")))
  }

  private def sidecarGone(dir: String, name: String): Boolean =
    !localFs(new HPath(dir)).exists(new HPath(dir, s".$name.crc"))

  test("checksummed pointers of older builds open, read the same rows and accept a commit") {
    // _CURRENT
    val state = tmpDir("graft-manifest-state")
    val store = new ParquetStateStore(state, Seq("id"), Seq("v"), buckets = 4)
    assert(store.mergeOnce(Seq((1, 1L, "a"), (2, 1L, "b")).toDF("id", "v", "p"), 0))
    val stateRows = store.read(spark).get.collect().toSet
    rewriteChecksummed(state, "_CURRENT")
    assert(store.read(spark).get.collect().toSet == stateRows)
    assert(store.lastBatchId(spark).contains(0L))
    assert(store.mergeOnce(Seq((2, 2L, "b2")).toDF("id", "v", "p"), 1))
    assert(store.read(spark).get.as[(Int, Long, String)].collect().toSet ==
      Set((1, 1L, "a"), (2, 2L, "b2")))
    assert(sidecarGone(state, "_CURRENT"))

    // _COMPACTED
    val archive = tmpDir("graft-manifest-archive") + "/data"
    spark.range(0, 100).repartition(3).write.parquet(archive)
    val compactor = new ArchiveCompactor(archive, tmpDir("graft-manifest-z"))
    assert(compactor.compact(spark, minFiles = 2) == 3)
    val archiveRows = compactor.read(spark).as[Long].collect().toSet
    rewriteChecksummed(compactor.compactPath, "_COMPACTED")
    assert(compactor.read(spark).as[Long].collect().toSet == archiveRows)
    spark.range(100, 150).repartition(2).write.mode("append").parquet(archive)
    assert(compactor.compact(spark, minFiles = 2) == 2)
    assert(compactor.read(spark).as[Long].collect().sorted.toSeq == (0L until 150L))
    assert(sidecarGone(compactor.compactPath, "_COMPACTED"))

    // _COMMITTED
    val corpusDir = tmpDir("graft-manifest-corpus") + "/corpus"
    val corpus = new IndexedCorpus(corpusDir)
    val doc1 = "the quick brown fox jumps over the lazy dog again and again"
    val doc2 = "entirely different words about spark catalyst planning internals"
    corpus.admit(Seq((1L, doc1)).toDF("doc_id", "text"), 0)
    rewriteChecksummed(corpusDir, "_COMMITTED")
    assert(corpus.lastBatchId(spark) == 0L)
    assert(corpus.readDocs(spark).get.select("doc_id").as[Long].collect().toSeq == Seq(1L))
    assert(corpus.admit(Seq((2L, doc2)).toDF("doc_id", "text"), 1).count() == 1)
    assert(corpus.readDocs(spark).get.select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L))
    assert(sidecarGone(corpusDir, "_COMMITTED"))
  }
}
