package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.cdc.{CdcSim, DecodeOptions, DeletePolicy, EnvelopeDecode}
import graft.sources.Tables
import graft.streaming.{ParquetStateStore, PipelineRegistry, Sinks}

/** Structured-Streaming rendering of the reference MV stack: file-backed
  * envelope stream → L1 raw archive (S6) and L2 versioned upsert (S7),
  * with checkpoint-restart (consumer-group analog) — SURVEY §5.2. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val valueSchema = StructType(Seq(StructField("value", StringType)))

  private def writeFiles(df: org.apache.spark.sql.DataFrame, dir: String,
                         parts: Int): Unit =
    df.repartition(parts).write.mode("overwrite").json(dir)

  /** Write the synthesized envelope stream as N json files (micro-batch
    * fodder for the file source). */
  private def writeEnvelopeFiles(dir: String, parts: Int): Long = {
    val orders = Tables.load(spark, sfDir, "orders").limit(400)
    val env = CdcSim.orderEnvelopes(orders).select("value")
    env.repartition(parts).write.mode("overwrite").json(dir)
    env.count()
  }

  test("L1 raw archive sink: append with ingestion_time, exactly-once restart") {
    val src = tmpDir("graft-src"); val sink = tmpDir("graft-l1")
    val cp = tmpDir("graft-cp1")
    val total = writeEnvelopeFiles(src, parts = 4)

    val raw = spark.readStream.schema(valueSchema).json(src)
    val q = Sinks.rawArchive(raw, s"$sink/data", s"$cp/c")
    q.awaitTermination()

    val landed = spark.read.parquet(s"$sink/data")
    assert(landed.count() == total)
    assert(landed.columns.contains("ingestion_time"))

    // restart with same checkpoint: no new input → no duplicates
    val q2 = Sinks.rawArchive(spark.readStream.schema(valueSchema).json(src),
      s"$sink/data", s"$cp/c")
    q2.awaitTermination()
    assert(spark.read.parquet(s"$sink/data").count() == total)
  }

  test("L2 versioned-upsert sink lands the batch-computed current state") {
    val src = tmpDir("graft-src2"); val state = tmpDir("graft-l2")
    val cp = tmpDir("graft-cp2")
    writeEnvelopeFiles(src, parts = 5)

    val store = new ParquetStateStore(state, keys = Seq("id"),
      versionCols = Seq("__ts_ms", "__lsn"), deletedCol = Some("__deleted"))

    val raw = spark.readStream.schema(valueSchema).json(src)
    val changes = EnvelopeDecode.changes(raw, CdcSim.ordersRow,
      DecodeOptions(deletePolicy = DeletePolicy.Apply))
    val q = Sinks.versionedUpsert(changes, store, s"$cp/c")
    q.awaitTermination()

    val got = store.read(spark).get.select("id", "status", "total_amount")
    val expected = CdcSim.currentState(
      CdcSim.orderEnvelopes(Tables.load(spark, sfDir, "orders").limit(400)))
      .select("id", "status", "total_amount")
    assertSameRows(got, expected)
  }

  test("L2 sink with per-batch vacuum keeps storage at live state only") {
    val src = tmpDir("graft-srcv"); val state = tmpDir("graft-l2v")
    val cp = tmpDir("graft-cpv")
    writeEnvelopeFiles(src, parts = 5)

    val store = new ParquetStateStore(state, keys = Seq("id"),
      versionCols = Seq("__ts_ms", "__lsn"), deletedCol = Some("__deleted"))
    val raw = spark.readStream.schema(valueSchema)
      .option("maxFilesPerTrigger", 2).json(src)  // force multiple batches
    val changes = EnvelopeDecode.changes(raw, CdcSim.ordersRow,
      DecodeOptions(deletePolicy = DeletePolicy.Apply))
    // grace 0: single-process test wants eager reclamation (the sink
    // DEFAULT keeps superseded copies for DefaultVacuumGraceMs so
    // concurrent out-of-process readers survive — spec below)
    Sinks.versionedUpsert(changes, store, s"$cp/c", vacuumEvery = 1,
        vacuumGraceMs = 0L)
      .awaitTermination()

    // content identical to the non-vacuuming sink
    val got = store.read(spark).get.select("id", "status", "total_amount")
    val expected = CdcSim.currentState(
      CdcSim.orderEnvelopes(Tables.load(spark, sfDir, "orders").limit(400)))
      .select("id", "status", "total_amount")
    assertSameRows(got, expected)

    // storage: every on-disk bucket dir is referenced by the manifest
    import scala.jdk.CollectionConverters._
    val onDisk = Files.walk(Paths.get(state)).iterator().asScala
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("__gbucket="))
      .size
    val live = scala.io.Source.fromFile(s"$state/_CURRENT").getLines()
      .drop(1).count(_.nonEmpty)
    assert(onDisk == live,
      s"$onDisk bucket dirs on disk but only $live referenced — vacuum missed")
  }

  test("S1 analog: JDBC-style snapshot then streaming changes land one state") {
    // snapshot.mode=initial ≡ land the snapshot at version 0, then let
    // the change stream upsert on top (same store, same keys).
    val state = tmpDir("graft-s1"); val cp = tmpDir("graft-s1cp")
    val src = tmpDir("graft-s1src")
    val orders = Tables.load(spark, sfDir, "orders").limit(300)

    // snapshot: the relational image, stamped before every change event
    val snapshot = orders.select(
      col("o_orderkey").cast("int").as("id"),
      col("o_orderstatus").as("status"),
      lit(0L).as("__ts_ms"), lit(0L).as("__lsn"), lit(false).as("__deleted"))
    val store = new ParquetStateStore(state, Seq("id"),
      Seq("__ts_ms", "__lsn"), Some("__deleted"))
    store.merge(snapshot)

    // stream the synthesized changes on top
    writeFiles(CdcSim.orderEnvelopes(orders).select("value"), src, 3)
    val changes = EnvelopeDecode.changes(
      spark.readStream.schema(valueSchema).json(src), CdcSim.ordersRow,
      DecodeOptions(deletePolicy = DeletePolicy.Apply))
      .select("id", "status", "__ts_ms", "__lsn", "__deleted")
    Sinks.versionedUpsert(changes, store, s"$cp/c").awaitTermination()

    val got = store.read(spark).get.select("id", "status")
    val expected = CdcSim.currentState(CdcSim.orderEnvelopes(orders))
      .select("id", "status")
    assertSameRows(got, expected)
  }

  test("dropDuplicatesWithinWatermark dedups replayed events") {
    val src = tmpDir("graft-ddw")
    val ev = Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "event_type")
    // replay every event twice (at-least-once delivery)
    ev.unionByName(ev).repartition(3).write.mode("overwrite").parquet(src)

    val streamed = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val q = streamed.writeStream.format("memory").queryName("ddw")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table("ddw").count() == ev.count())
  }

  test("event-time tumbling window with watermark matches batch aggregation") {
    val src = tmpDir("graft-ev")
    val ev = Tables.load(spark, sfDir, "events")
    ev.select("event_id", "ts", "event_type", "value")
      .repartition(4).write.mode("overwrite").parquet(src)

    val streamed = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .parquet(src)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
    val q = streamed.writeStream
      .format("memory").queryName("win_agg")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // Append mode emits only CLOSED windows: the final watermark is
    // max(ts) - 10min, so windows ending after it stay open and are
    // withheld — that is the contract, so the batch oracle filters the
    // same way.
    val got = spark.table("win_agg")
    val maxTs = spark.read.parquet(src).agg(max(col("ts"))).head().getTimestamp(0)
    val horizon = new java.sql.Timestamp(maxTs.getTime - 10 * 60 * 1000)
    val expected = spark.read.parquet(src)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .where(col("window.end") <= lit(horizon))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
    assertSameRows(got, expected)
    assert(got.count() > 0)
  }

  test("state store merge is idempotent under batch replay (at-least-once)") {
    val state = tmpDir("graft-replay")
    val store = new ParquetStateStore(state, Seq("id"), Seq("v"), None)
    import spark.implicits._
    val b1 = Seq((1, 1L, "a"), (2, 1L, "b")).toDF("id", "v", "payload")
    store.merge(b1)
    val once = store.read(spark).get.collect().map(_.toString).sorted
    store.merge(b1)  // replayed delivery
    val twice = store.read(spark).get.collect().map(_.toString).sorted
    assert(once.sameElements(twice))
    assert(store.currentVersion(spark).contains(1))
  }

  test("state store merge rewrites only dirty buckets") {
    val state = tmpDir("graft-dirty")
    val store = new ParquetStateStore(state, Seq("id"), Seq("v"), None,
      buckets = 8)
    import spark.implicits._
    // epoch 0: keys spread over (almost) all buckets
    store.merge((1 to 200).map(i => (i, 1L, s"p$i")).toDF("id", "v", "payload"))
    val e0Buckets = Files.list(Paths.get(state, "e0")).toArray.map(_.toString)
      .filter(_.contains("__gbucket=")).sorted
    assert(e0Buckets.length == 8)
    val e0Mtimes = e0Buckets.map(d => d -> Files.getLastModifiedTime(Paths.get(d)))

    // epoch 1: a single-key batch must rewrite exactly one bucket
    store.merge(Seq((1, 2L, "p1-updated")).toDF("id", "v", "payload"))
    val e1Buckets = Files.list(Paths.get(state, "e1")).toArray.map(_.toString)
      .filter(_.contains("__gbucket="))
    assert(e1Buckets.length == 1, s"expected 1 dirty bucket, got ${e1Buckets.length}")
    // clean buckets: same directories, untouched since epoch 0
    e0Mtimes.foreach { case (d, t) =>
      assert(Files.getLastModifiedTime(Paths.get(d)) == t, s"clean bucket $d rewritten")
    }

    // correctness across the incremental merge
    val got = store.read(spark).get
    assert(got.count() == 200)
    assert(got.where($"id" === 1).select("payload").as[String].head() == "p1-updated")
    assert(store.currentVersion(spark).contains(1))
  }

  test("state store vacuum reclaims superseded buckets, snapshot unchanged") {
    val state = tmpDir("graft-vacuum")
    val store = new ParquetStateStore(state, Seq("id"), Seq("v"), None,
      buckets = 4)
    import spark.implicits._
    store.merge((1 to 100).map(i => (i, 1L, s"p$i")).toDF("id", "v", "payload"))
    store.merge((1 to 100).map(i => (i, 2L, s"q$i")).toDF("id", "v", "payload"))
    // an orphan from a "crashed merge": epoch dir past the manifest must
    // survive vacuum (it may belong to an in-flight writer)
    Files.createDirectories(Paths.get(state, "e99", "__gbucket=0"))

    val before = store.read(spark).get.orderBy("id").collect()
    // every e0 bucket was superseded by e1 (all keys rewritten)
    val reclaimed = store.vacuum(spark)
    assert(reclaimed == 4, s"expected 4 superseded buckets, got $reclaimed")
    assert(!Files.exists(Paths.get(state, "e0")), "empty epoch dir not dropped")
    assert(Files.exists(Paths.get(state, "e99", "__gbucket=0")),
      "vacuum must not touch epochs beyond the manifest")

    val after = store.read(spark).get.orderBy("id").collect()
    assert(after.sameElements(before), "vacuum changed the visible snapshot")
    assert(store.vacuum(spark) == 0, "second vacuum should be a no-op")

    // the store keeps working after vacuum
    store.merge(Seq((1, 3L, "final")).toDF("id", "v", "payload"))
    assert(store.read(spark).get.where($"id" === 1)
      .select("payload").as[String].head() == "final")
    assert(store.currentVersion(spark).contains(2))
  }

  test("vacuum grace period protects freshly superseded buckets") {
    val state = tmpDir("graft-vacgrace")
    val store = new ParquetStateStore(state, Seq("id"), Seq("v"), None,
      buckets = 4)
    import spark.implicits._
    store.merge((1 to 100).map(i => (i, 1L, s"p$i")).toDF("id", "v", "payload"))
    store.merge((1 to 100).map(i => (i, 2L, s"q$i")).toDF("id", "v", "payload"))
    // all e0 buckets are superseded, but the supersession just happened:
    // a reader that resolved the pre-merge manifest may still be
    // scanning them, so a generous grace must reclaim nothing
    assert(store.vacuum(spark, graceMs = 3600 * 1000L) == 0,
      "grace period ignored — just-superseded buckets were deleted")
    assert(Files.exists(Paths.get(state, "e0")),
      "superseded epoch removed despite grace period")
    // beyond the grace window the same copies are reclaimable
    assert(store.vacuum(spark, graceMs = 0L) == 4)
    assert(!Files.exists(Paths.get(state, "e0")))
  }

  test("default sink grace: a reader on the prior manifest survives vacuum") {
    val state = tmpDir("graft-vacdefault")
    val store = new ParquetStateStore(state, Seq("id"), Seq("v"), None,
      buckets = 4)
    import spark.implicits._
    store.merge((1 to 100).map(i => (i, 1L, s"p$i")).toDF("id", "v", "payload"))
    // reader resolves the CURRENT manifest now, scans later
    val readerPlan = store.read(spark).get.select("id", "v", "payload")
    // writer supersedes every bucket, then vacuums with the sink default
    store.merge((1 to 100).map(i => (i, 2L, s"q$i")).toDF("id", "v", "payload"))
    assert(store.vacuum(spark, Sinks.DefaultVacuumGraceMs) == 0,
      "default grace must protect just-superseded copies")
    // the stale reader completes against the files it resolved
    val seen = readerPlan.orderBy("id").collect()
    assert(seen.length == 100 && seen.head.getString(2) == "p1",
      "reader on the prior manifest must still see its snapshot")
  }

  test("summing store: additive collapse, batch-id fencing, streaming sink") {
    import graft.streaming.SummingStateStore
    val state = tmpDir("graft-summing")
    val store = new SummingStateStore(state, Seq("k"), Seq("cnt", "amt"),
      buckets = 4)
    import spark.implicits._
    assert(store.mergeOnce(
      Seq(("a", 1L, 10.0), ("a", 2L, 5.0), ("b", 1L, 1.0))
        .toDF("k", "cnt", "amt"), batchId = 0))
    assert(store.mergeOnce(
      Seq(("a", 3L, 2.5), ("c", 7L, 0.5)).toDF("k", "cnt", "amt"),
      batchId = 1))
    def snap() = store.read(spark).get.orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(snap() == Seq(("a", 6L, 17.5), ("b", 1L, 1.0), ("c", 7L, 0.5)))
    // a replayed batch id must be rejected — additive merge would
    // double-count (the SummingMergeTree failure mode this store fixes)
    assert(!store.mergeOnce(
      Seq(("a", 3L, 2.5), ("c", 7L, 0.5)).toDF("k", "cnt", "amt"),
      batchId = 1))
    assert(snap() == Seq(("a", 6L, 17.5), ("b", 1L, 1.0), ("c", 7L, 0.5)))
    // an id BEHIND the fence is a checkpoint reset: it throws
    val behind = intercept[IllegalArgumentException](store.mergeOnce(
      Seq(("a", 3L, 2.5)).toDF("k", "cnt", "amt"), batchId = 0))
    assert(behind.getMessage.contains("behind the store fence"))
    assert(snap() == Seq(("a", 6L, 17.5), ("b", 1L, 1.0), ("c", 7L, 0.5)))

    // streaming form over a file stream, restart included
    val root = tmpDir("graft-summing-stream")
    val src = s"$root/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    def writeJson(name: String, rows: Seq[(String, Long, Double)]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(src, name),
        rows.map { case (k, c, a) => s"""{"k":"$k","cnt":$c,"amt":$a}""" }
          .mkString("\n").getBytes("UTF-8"))
    val s2 = new SummingStateStore(s"$root/state", Seq("k"), Seq("cnt", "amt"))
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL("k STRING, cnt BIGINT, amt DOUBLE")
    def run(): Unit = {
      val q = Sinks.aggregatingUpsert(
        spark.readStream.schema(schema).json(src), s2, s"$root/cp")
      q.awaitTermination(120000); ()
    }
    writeJson("b1.json", Seq(("x", 1L, 1.0), ("x", 1L, 2.0)))
    run()
    writeJson("b2.json", Seq(("x", 1L, 4.0), ("y", 5L, 0.25)))
    run() // restart from checkpoint: only the new file is applied
    val got = s2.read(spark).get.orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq(("x", 3L, 7.0), ("y", 5L, 0.25)))
  }

  test("sketch store: per-key distinct state merges across batches") {
    import graft.streaming.SketchStateStore
    val state = tmpDir("graft-sketch")
    val store = new SketchStateStore(state, Seq("seg"), Seq("users"),
      buckets = 4)
    import spark.implicits._
    def batchOf(rows: (String, Long)*) = rows.toSeq.toDF("seg", "uid")
      .groupBy("seg").agg(hll_sketch_agg($"uid").as("users"))
    assert(store.mergeOnce(batchOf(
      ("a", 1L), ("a", 2L), ("b", 10L)), batchId = 0))
    assert(store.mergeOnce(batchOf(
      ("a", 2L), ("a", 3L), ("b", 10L), ("b", 11L)), batchId = 1))
    val est = store.read(spark).get
      .select($"seg", hll_sketch_estimate($"users").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // exact at these cardinalities (sketch sparse mode): a={1,2,3}, b={10,11}
    assert(est == Map("a" -> 3L, "b" -> 2L), s"got $est")

    // streaming form: raw values sketched per batch, union-merged
    val root = tmpDir("graft-sketch-stream")
    val src = s"$root/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    java.nio.file.Files.write(java.nio.file.Paths.get(src, "b1.json"),
      Seq(("a", 1L), ("a", 2L), ("b", 9L))
        .map { case (k, u) => s"""{"seg":"$k","uid":$u}""" }
        .mkString("\n").getBytes("UTF-8"))
    val s2 = new SketchStateStore(s"$root/state", Seq("seg"), Seq("users"))
    val q = Sinks.sketchUpsert(
      spark.readStream.schema(
        org.apache.spark.sql.types.StructType.fromDDL("seg STRING, uid BIGINT"))
        .json(src),
      s2, valueCols = Seq("uid" -> "users"), s"$root/cp")
    q.awaitTermination(120000)
    val est2 = s2.read(spark).get
      .select($"seg", hll_sketch_estimate($"users").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est2 == Map("a" -> 2L, "b" -> 1L), s"got $est2")
  }

  test("fenced sink refuses a checkpoint reset against a live store") {
    import graft.streaming.SummingStateStore
    val root = tmpDir("graft-fence-reset")
    val src = s"$root/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    def writeJson(name: String, rows: Seq[(String, Long)]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(src, name),
        rows.map { case (k, c) => s"""{"k":"$k","cnt":$c}""" }
          .mkString("\n").getBytes("UTF-8"))
    val store = new SummingStateStore(s"$root/state", Seq("k"), Seq("cnt"))
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL("k STRING, cnt BIGINT")
    def run(cp: String) = {
      val q = Sinks.aggregatingUpsert(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).json(src), store, cp)
      q.awaitTermination(120000); ()
    }
    writeJson("b1.json", Seq(("x", 1L)))
    writeJson("b2.json", Seq(("x", 2L)))
    run(s"$root/cp1") // batches 0 and 1 applied; fence is now 1
    // a FRESH checkpoint renumbers batches from 0 against the live
    // store — dropping them silently would lose data, so it must throw
    writeJson("b3.json", Seq(("x", 4L)))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(s"$root/cp2")
    }
    assert(ex.getMessage.contains("behind the store fence") ||
      Option(ex.getCause).exists(_.getMessage.contains("behind the store fence")),
      s"unexpected failure: ${ex.getMessage}")
  }

  test("state store deletes hide rows but tombstones block resurrection") {
    val state = tmpDir("graft-delbkt")
    val store = new ParquetStateStore(state, Seq("id"), Seq("v"),
      Some("__deleted"), buckets = 4)
    import spark.implicits._
    store.merge(Seq((1, 1L, false), (2, 1L, false))
      .toDF("id", "v", "__deleted"))
    assert(store.read(spark).get.count() == 2)
    store.merge(Seq((1, 3L, true), (2, 3L, true)).toDF("id", "v", "__deleted"))
    assert(store.read(spark).get.count() == 0)
    // tombstones are retained (not physically dropped) …
    assert(store.readWithTombstones(spark).get.count() == 2)
    // … so an OLDER update arriving in a later batch cannot resurrect
    store.merge(Seq((1, 2L, false), (2, 2L, false)).toDF("id", "v", "__deleted"))
    assert(store.read(spark).get.count() == 0,
      "late out-of-order update resurrected a deleted key")
    // idempotent delete replay still holds
    store.merge(Seq((1, 3L, true), (2, 3L, true)).toDF("id", "v", "__deleted"))
    assert(store.read(spark).get.count() == 0)
    // and a genuinely NEWER write revives the key
    store.merge(Seq((1, 4L, false)).toDF("id", "v", "__deleted"))
    assert(store.read(spark).get.select("id").as[Int].collect().toSeq == Seq(1))
  }

  test("tombstone purge honors the replay horizon") {
    val state = tmpDir("graft-purge")
    val store = new ParquetStateStore(state, Seq("id"), Seq("v"),
      Some("__deleted"), buckets = 4)
    import spark.implicits._
    store.merge(Seq((1, 1L, false), (2, 1L, false), (3, 1L, false))
      .toDF("id", "v", "__deleted"))
    store.merge(Seq((1, 5L, true), (2, 2L, true)).toDF("id", "v", "__deleted"))
    assert(store.read(spark).get.count() == 1)
    assert(store.readWithTombstones(spark).get.count() == 3)

    // horizon v<3: only key 2's tombstone (v=2) is safe to forget
    store.purgeTombstones(spark, $"v" < 3)
    assert(store.readWithTombstones(spark).get.count() == 2,
      "purge removed a tombstone inside the replay horizon")
    assert(store.read(spark).get.count() == 1, "purge changed visible state")

    // key 1's tombstone (v=5) still blocks an older replayed update …
    store.merge(Seq((1, 4L, false)).toDF("id", "v", "__deleted"))
    assert(store.read(spark).get.count() == 1)
    // … while key 2, purged past the horizon, accepts fresh writes
    store.merge(Seq((2, 6L, false)).toDF("id", "v", "__deleted"))
    assert(store.read(spark).get.select("id").as[Int].collect().sorted
      .toSeq == Seq(2, 3))
    // vacuum after purge reclaims the superseded epochs
    assert(store.vacuum(spark) > 0)
    assert(store.read(spark).get.count() == 2)
  }

  test("mapGroupsWithState streaming latest-by-key == batch latestByKey") {
    val src = tmpDir("graft-mgws")
    val ev = Tables.load(spark, sfDir, "events")
      .select("user_id", "event_id", "ts", "value")
    ev.repartition(4).write.mode("overwrite").parquet(src)

    import graft.streaming.Sessionize.Event
    val streamed = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src).as[Event]
    val latest = graft.operators.Versioned.streamingLatestByKey[Long, Event](
      streamed, _.user_id, e => e.ts.getTime * 1000 + e.event_id)
    val q = latest.toDF().select(col("_1").as("user_id"), col("_2.event_id").as("last_event_id"))
      .writeStream.format("memory").queryName("mgws")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // update mode re-emits per batch: collapse to the final emission
    val got = graft.operators.Versioned.latestByKey(
      spark.table("mgws"), Seq("user_id"), Seq(col("last_event_id")))
    val expected = graft.operators.Versioned.latestByKey(
      ev, Seq("user_id"), Seq(col("ts"), col("event_id")))
      .select(col("user_id"), col("event_id").as("last_event_id"))
    assertSameRows(got, expected)
  }

  test("asof edge: equal timestamps are inclusive, no-match yields null") {
    import graft.operators.AsOfJoin
    import spark.implicits._
    val l = Seq((1L, 100L, 10L), (1L, 50L, 11L), (2L, 10L, 12L))
      .toDF("k", "lts", "lid")
    val r = Seq((1L, 100L, 91L), (1L, 40L, 92L))
      .toDF("k", "rts", "rid")
    val out = AsOfJoin.asofBackward(l, r, Seq("k"), "lts", "rts",
      Seq("rid"), tiebreak = Some("rid"))
      .select($"lid", $"rid").as[(Long, Option[Long])].collect().toMap
    assert(out(10L).contains(91L))  // equal ts matches
    assert(out(11L).contains(92L))  // latest prior
    assert(out(12L).isEmpty)        // no right row for key 2
  }

  test("asof attaches one whole right row — no torn match from nulls") {
    import graft.operators.AsOfJoin
    import spark.implicits._
    // two right rows where each has a null in a different value column:
    // per-column carry-forward would stitch a=1 (from ts=10) with
    // b=2 (from ts=20) — a row that never existed.
    val l = Seq((1L, 30L, 100L)).toDF("k", "lts", "lid")
    val r = Seq(
      (1L, 10L, Some(1L), Option.empty[Long]),
      (1L, 20L, Option.empty[Long], Some(2L)))
      .toDF("k", "rts", "a", "b")
    val out = AsOfJoin.asofBackward(l, r, Seq("k"), "lts", "rts",
      Seq("a", "b"))
      .select($"a", $"b").as[(Option[Long], Option[Long])].head()
    assert(out == (None, Some(2L)), s"torn match: $out")
  }

  test("pipeline registry is idempotent and stops cleanly (O2/O3)") {
    val src = tmpDir("graft-src3"); val sink = tmpDir("graft-l3")
    val cp = tmpDir("graft-cp3")
    writeEnvelopeFiles(src, parts = 1)
    val reg = new PipelineRegistry
    // continuous trigger so the query stays active across both calls
    def start() = Sinks.rawArchive(
      spark.readStream.schema(valueSchema).json(src), s"$sink/d", s"$cp/c",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    val q1 = reg.startIfAbsent("mv_raw")(start())
    val q2 = reg.startIfAbsent("mv_raw")(start())
    assert(q1.id == q2.id)   // second start is a no-op
    q1.processAllAvailable()
    reg.stopAll()
    assert(reg.active.isEmpty)
  }

  test("batch metrics listener captures per-batch ingest progress") {
    val root = tmpDir("graft-obs")
    val src = s"$root/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    java.nio.file.Files.write(java.nio.file.Paths.get(src, "a.json"),
      (1 to 25).map(i => s"""{"v":$i}""").mkString("\n").getBytes("UTF-8"))

    val listener = new graft.streaming.BatchMetricsListener().attach(spark)
    try {
      val q = spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL("v BIGINT"))
        .json(src)
        .writeStream.format("memory").queryName("obs_stream")
        .option("checkpointLocation", s"$root/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      // listener events are delivered asynchronously after termination
      var tries = 0
      def rows() = listener.metrics(spark)
        .where(col("queryName") === "obs_stream" && col("numInputRows") > 0)
      while (rows().isEmpty && tries < 50) { Thread.sleep(200); tries += 1 }
      val m = rows().collect()
      assert(m.nonEmpty, "no batch metrics captured")
      assert(m.map(_.getAs[Long]("numInputRows")).sum == 25)
      assert(m.forall(_.getAs[Long]("batchDurationMs") >= 0))
    } finally spark.streams.removeListener(listener)
  }

  test("stream-stream interval join matches the batch join") {
    val root = tmpDir("graft-ssjoin")
    val ev = Tables.load(spark, sfDir, "events")
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
    val buys = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("buy_ts"),
        col("event_id").as("buy_id"))
    views.repartition(3).write.mode("overwrite").parquet(s"$root/views")
    buys.repartition(3).write.mode("overwrite").parquet(s"$root/buys")

    def stream(path: String, tsCol: String) = spark.readStream
      .schema(spark.read.parquet(path).schema).parquet(path)
      .withWatermark(tsCol, "1 hour")

    // attribute each purchase to views in the preceding hour
    val joined = graft.streaming.StreamJoins.intervalJoin(
      stream(s"$root/views", "view_ts"), stream(s"$root/buys", "buy_ts"),
      key = "user_id", leftTs = "view_ts", rightTs = "buy_ts",
      lowerSec = 0, upperSec = 3600)
      .select("user_id", "view_id", "buy_id")
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val batch = graft.streaming.StreamJoins.intervalJoin(
      spark.read.parquet(s"$root/views"), spark.read.parquet(s"$root/buys"),
      key = "user_id", leftTs = "view_ts", rightTs = "buy_ts",
      lowerSec = 0, upperSec = 3600)
      .select("user_id", "view_id", "buy_id")
    assert(spark.table("ssj").count() > 0, "join produced no pairs")
    assertSameRows(spark.table("ssj"), batch)
  }
}
