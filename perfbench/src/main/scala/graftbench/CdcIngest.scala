package graftbench

import java.io.File
import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.cdc.{CdcSim, DecodeOptions, DeletePolicy, EnvelopeDecode}
import graft.streaming.{BatchMetricsListener, CdcPipeline, ParquetStateStore, PipelineRegistry, Sinks,
  TableCdcConfig}

/** `cdc_ingest`: the full pipeline, `CdcPipeline.start` with raw and typed
  * landing, `DeletePolicy.Apply` and 32 buckets, with a reader beside it.
  *
  * Set-up streams a snapshot of every `orders` row (`op=r`) through the
  * pipeline with `Trigger.AvailableNow`, restarts it on the same
  * checkpoints with `maxFilesPerTrigger=1`, so each change file is one
  * micro-batch, and primes it with untimed batches (the JIT and codegen
  * warm-up a long-running pipeline pays once). One client then loops:
  * write a file of 1024 change events
  * (Debezium's `max.batch.size`: 60% updates over live keys, 30% inserts,
  * 10% deletes with a before-image), wait for the typed layer, run the q64
  * shape (live state joined to `customer`, orders and decimal spend by
  * segment × status) over `store.read`, check the answer against the
  * generator's oracle, then wait for the raw archive. */
final class CdcIngest(args: Args) extends Workload {
  import CdcIngest._

  private var base: String = _
  private var gen: ChangeGen = _
  private var segments: Map[Int, String] = Map.empty
  private var events = 0L
  private var bytesIn = 0L
  private var running: CdcPipeline.Running = _
  private var batches: BatchMetricsListener = _
  private var progress: ProgressLog = _
  private var primed: Seq[Batch] = Nil

  private val config = TableCdcConfig("public.orders", "poc", CdcSim.ordersRow, Seq("id"),
    deletePolicy = DeletePolicy.Apply)

  private def inDir = Paths.get(base, "in")
  private def tableDir = s"$base/public_orders"

  /** `CdcSource.fileStream`, with an optional per-trigger file cap. */
  private def envelopes(spark: SparkSession, perTrigger: Option[Int]): DataFrame = {
    val r = spark.readStream.schema(envelopeFileSchema)
    perTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n.toString)).json(inDir.toString)
  }

  def setup(spark: SparkSession): Unit = {
    base = new File(args.work, "cdc_ingest").getAbsolutePath
    val rows = OrderRow.load(spark, args.data)
    segments = spark.read.parquet(s"${args.data}/customer.parquet")
      .select("c_custkey", "c_mktsegment").collect()
      .map(r => r.getLong(0).toInt -> r.getString(1)).toMap
    gen = new ChangeGen(args.seed, rows, segments.size)
    val snap = gen.snapshotEvents
    val parts = spark.sparkContext.defaultParallelism
    snap.grouped((snap.length + parts - 1) / parts).zipWithIndex.foreach { case (part, i) =>
      ChangeGen.writeFile(inDir, f"snapshot-$i%05d.json", part.toSeq)
    }
    events = snap.length
    val landing = CdcPipeline.start(spark, config, envelopes(spark, None), base,
      new PipelineRegistry, Trigger.AvailableNow())
    (landing.raw ++ landing.typed).foreach(_.awaitTermination())
    batches = new BatchMetricsListener(capacity = 100000).attach(spark)
    progress = new ProgressLog
    spark.streams.addListener(progress)
    running = CdcPipeline.start(spark, config, envelopes(spark, Some(1)), base,
      new PipelineRegistry, Trigger.ProcessingTime(0L))
    primed = (1 to PrimeBatches).map(i => batch(spark, f"prime-$i%02d.json", new Trace(false)))
  }

  /** The q64 shape over the store's visible state. */
  private def q64(spark: SparkSession, state: DataFrame): DataFrame =
    state.join(spark.read.parquet(s"${args.data}/customer.parquet"),
        col("customer_id") === col("c_custkey"))
      .groupBy("c_mktsegment", "status")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("total_amount").cast("decimal(12,2)")).cast("double").as("total_spend"))
      .orderBy("c_mktsegment", "status")

  /** (segment, status) → (orders, spend) over the oracle state. */
  private def expected: Map[(String, String), (Long, Double)] =
    gen.state.values.groupBy(r => (segments(r.customerId), r.status)).map { case (k, rs) =>
      k -> ((rs.size.toLong, rs.map(r => new java.math.BigDecimal(r.total))
        .foldLeft(java.math.BigDecimal.ZERO)(_ add _).doubleValue))
    }

  /** One closed-loop operation: hand a change file to the pipeline, wait
    * for the typed layer, read and check the q64 answer, wait for the raw
    * archive. A failed check or an exception is returned, not thrown. */
  private def batch(spark: SparkSession, name: String, trace: Trace,
                    tracing: Boolean = false): Batch = {
    val sc = spark.sparkContext
    val lines = gen.changes(BatchEvents, 0.6, 0.3)
    val exp = expected
    val t1 = System.nanoTime()
    try trace("cdc.batch") {
      bytesIn += ChangeGen.writeFile(inDir, name, lines.toSeq)
      events += lines.length
      running.typed.get.processAllAvailable()
      val ((answer, files), readS) = Stats.timed(trace("store.read") {
        Counters.inGroup(sc, "store.read") {
          val state = running.store.get.read(spark).get
          (q64(spark, state).collect(), if (tracing) state.inputFiles.length else 0)
        }
      })
      val fresh = Stats.secondsSince(t1)
      val got = answer.map((r: Row) =>
        (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
      val failure =
        if (got == exp) None
        else Some(s"$name: answer ${got.toSeq.sorted.take(2)} differs from oracle ${exp.toSeq.sorted.take(2)}")
      running.raw.get.processAllAvailable()
      Batch(name, fresh, readS, files, failure)
    } catch {
      case e: Throwable =>
        Batch(name, Double.NaN, Double.NaN, 0,
          Some(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
    }
  }

  def timed(spark: SparkSession, seconds: Double, trace: Trace): Outcome = {
    val sc = spark.sparkContext
    val counters = new Counters
    val raw = running.raw.get
    val typed = running.typed.get
    val store = running.store.get
    val opts = DecodeOptions(deletePolicy = DeletePolicy.Apply)
    var attached = false
    val decodeS, mergeS = mutable.ArrayBuffer.empty[Double]
    var shadow: ParquetStateStore = null
    val done = mutable.ArrayBuffer.empty[(Batch, Boolean)]
    var decodedRows = 0L
    val failures = mutable.ArrayBuffer.from(primed.flatMap(_.failure))
    var n = 0
    val t0 = System.nanoTime()
    while (Stats.secondsSince(t0) < seconds && failures.isEmpty) {
      // a traced run measures its first half untraced, for the overhead
      val tracing = trace.enabled && Stats.secondsSince(t0) >= seconds / 2
      if (tracing && !attached) {
        sc.addSparkListener(counters)
        attached = true
        shadow = shadowOf(store)
      }
      val name = f"changes-$n%05d.json"
      val b = batch(spark, name, trace, tracing)
      done += ((b, tracing))
      failures ++= b.failure
      if (tracing) {
        // Outside the pipeline, from this thread, so job groups and call
        // sites stay the benchmark's: decode the same file alone, then
        // merge it into a shadow copy of the state with `mergeOnce`.
        val changes = EnvelopeDecode.changes(
          spark.read.schema(envelopeFileSchema).json(inDir.resolve(name).toString),
          CdcSim.ordersRow, opts)
        val (rows, dt) = Stats.timed(trace("cdc.decode")(changes.collect().length.toLong))
        decodeS += dt
        decodedRows += rows
        val (_, dm) = Stats.timed(trace("store.merge") {
          Counters.inGroup(sc, "store.merge")(shadow.mergeOnce(changes, n.toLong))
        })
        mergeS += dm
      }
      n += 1
    }
    val wall = Stats.secondsSince(t0)
    (running.raw ++ running.typed).foreach(_.stop())
    if (attached) { org.apache.spark.BusDrain(sc); sc.removeSparkListener(counters) }
    spark.streams.removeListener(batches)
    spark.streams.removeListener(progress)

    // final checks: the whole visible state, and the raw archive row count
    val visible = store.read(spark).get.select("id", "customer_id", "status", "total_amount",
      "order_date", "priority").collect()
    failures ++= ChangeGen.diff(visible, gen.state)
    val archived = spark.read.parquet(s"$tableDir/raw").count()
    if (archived != events) failures += s"raw archive holds $archived rows, expected $events"

    val ops = done.size
    val typedId = typed.id.toString
    // every change file is one typed micro-batch; the last `ops` are timed
    val batchS = batches.metrics(spark).collect().toSeq
      .filter(r => r.getAs[String]("queryName") == typedId && r.getAs[Long]("numInputRows") > 0)
      .map(r => r.getAs[Long]("batchDurationMs") / 1e3).takeRight(ops)
    val good = done.filter(_._1.failure.isEmpty)
    val measured = good.collect { case (b, t) if t == trace.enabled => b.freshS }.toSeq
    val untraced = good.collect { case (b, false) => b.freshS }.toSeq
    val changeEvents = ops.toLong * BatchEvents
    val storeMb = (Stats.diskBytes(new File(s"$tableDir/state")) +
      Stats.diskBytes(new File(s"$tableDir/raw"))) / 1e6
    // live state: the files the current manifest points at, without the
    // superseded bucket copies that wait out the vacuum grace
    val liveMb = store.read(spark).get.inputFiles
      .map(f => new File(new java.net.URI(f)).length).sum / 1e6
    val e2e = Map(
      "latency_p50_s" -> Stats.median(measured),
      "throughput_per_s" -> changeEvents / wall,
      "footprint_mb" -> liveMb)
    val detail = Seq(
      ("events_per_s", changeEvents / wall, "events/s"),
      ("batch_p50_s", Stats.median(batchS), "s"),
      ("batch_max_s", batchS.maxOption.getOrElse(Double.NaN), "s"),
      ("fresh_p50_s", Stats.median(measured), "s"),
      ("fresh_max_s", measured.maxOption.getOrElse(Double.NaN), "s"),
      ("store_mb", storeMb, "MB"),
      ("live_state_mb", liveMb, "MB"),
      ("batches", ops.toDouble, "count"))

    val layers =
      if (!trace.enabled) Map.empty[String, Double]
      else {
        val tracedBatches = done.collect { case (b, true) => b }
        val nt = tracedBatches.size
        val typedPs = progress.batches(typedId).filter(_.rows > 0).takeRight(nt)
        val rawPs = progress.batches(raw.id.toString).filter(_.rows > 0).takeRight(nt)
        val merge = counters.group("store.merge")
        val nb = mergeS.size.max(1).toDouble
        val tracedBytes = bytesIn.toDouble / ops.max(1) * nb
        val dirty = dirtyRatio(new File(shadow.path), shadow.buckets, mergeS.size)
        val (_, vacuumS) = Stats.timed(trace("store.vacuum")(store.vacuum(spark, Sinks.DefaultVacuumGraceMs)))
        Map(
          "cdc.decode_s" -> Stats.median(decodeS.toSeq),
          "cdc.rows_per_event" -> decodedRows.toDouble / (decodeS.size * BatchEvents).max(1),
          "store.merge_s" -> Stats.median(mergeS.toSeq),
          "store.merge_jobs" -> merge.jobs / nb,
          "store.merge_stages" -> merge.stages / nb,
          "store.merge_tasks" -> merge.tasks / nb,
          "store.merge_cpu_s" -> merge.cpuNs / 1e9 / nb,
          "store.vacuum_s" -> vacuumS,
          "store.merge_write_mb" -> merge.output / 1e6 / nb,
          "store.write_amp" -> merge.output / tracedBytes.max(1),
          "store.dirty_bucket_ratio" -> dirty,
          "store.read_s" -> Stats.median(tracedBatches.map(_.readS).toSeq),
          "store.read_files" -> tracedBatches.lastOption.map(_.readFiles.toDouble).getOrElse(0.0),
          "store.disk_mb" -> Stats.diskBytes(new File(s"$tableDir/state")) / 1e6,
          "stream.source_s" -> Stats.median(typedPs.map(_.sourceS)),
          "stream.add_batch_s" -> Stats.median(typedPs.map(_.addBatchS)),
          "stream.commit_s" -> Stats.median(typedPs.map(_.commitS)),
          "archive.add_batch_s" -> Stats.median(rawPs.map(_.addBatchS)),
          "trace.overhead" -> (Stats.median(measured) / Stats.median(untraced) - 1.0))
      }
    val extra: Map[String, Any] = Map(
      "fresh_s" -> done.map(_._1.freshS), "batch_s" -> batchS, "prime_fresh_s" -> primed.map(_.freshS)) ++ (
      if (!trace.enabled) Map.empty
      else Map(
        "merge_by_call_site" -> counters.sites(_ == "store.merge").map { case (k, v) => k -> v.toMap },
        "typed_stream" -> counters.group(typed.runId.toString).toMap,
        "archive_by_call_site" -> counters.sites(_ == raw.runId.toString).map { case (k, v) => k -> v.toMap },
        "read_by_call_site" -> counters.sites(_ == "store.read").map { case (k, v) => k -> v.toMap }))
    // one attempt per batch, priming ones included, plus the final state
    // and archive checks
    Outcome(ops.toLong + primed.size + 2, failures.toSeq, e2e, detail, layers, extra)
  }
}

object CdcIngest {
  /** Debezium's default `max.batch.size`. */
  val BatchEvents = 1024

  /** Untimed batches at the end of set-up. The first batch after a
    * restart runs about 2× slower than a warm one while the JIT and codegen
    * warm up, the next two about 1.3×. After three, the timed batches still
    * get a little faster each time; each further prime costs about 4 s of
    * set-up, which the run budget does not have. */
  val PrimeBatches = 3

  val envelopeFileSchema: StructType = StructType(Seq(StructField("value", StringType)))

  /** One closed-loop batch: handoff to checked answer, the read alone, the
    * files the read scanned (traced batches only), and a failure if any. */
  final case class Batch(name: String, freshS: Double, readS: Double, readFiles: Int,
                         failure: Option[String])

  final case class BatchProgress(rows: Long, sourceS: Double, addBatchS: Double, commitS: Double)

  /** Phase durations of every micro-batch, from `StreamingQueryProgress`. */
  final class ProgressLog extends StreamingQueryListener {
    private val log = mutable.Map.empty[String, mutable.ArrayBuffer[BatchProgress]]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
      log.getOrElseUpdate(p.id.toString, mutable.ArrayBuffer.empty) += BatchProgress(
        p.numInputRows, d("latestOffset") + d("getBatch"), d("addBatch"),
        d("walCommit") + d("commitOffsets"))
    }
    def batches(id: String): Seq[BatchProgress] = synchronized(log.get(id).map(_.toList).getOrElse(Nil))
  }

  /** Mean share of buckets rewritten by the last `k` merges, read from the
    * epoch directories they wrote. */
  def dirtyRatio(state: File, buckets: Int, k: Int): Double = {
    val epochs = Option(state.listFiles).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName.matches("e\\d+"))
      .sortBy(_.getName.drop(1).toInt).takeRight(k)
    if (epochs.isEmpty) 0.0
    else epochs.map(e => e.listFiles.count(_.getName.startsWith("__gbucket=")).toDouble / buckets)
      .sum / epochs.length
  }

  /** A store over a copy of `store`'s files, for merges the benchmark
    * makes itself beside the pipeline's. */
  def shadowOf(store: ParquetStateStore): ParquetStateStore = {
    val from = Paths.get(store.path)
    val to = Paths.get(store.path + "-shadow")
    java.nio.file.Files.walk(from).forEach { p =>
      val q = to.resolve(from.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    }
    new ParquetStateStore(to.toString, store.keys, store.versionCols, store.deletedCol, store.buckets)
  }
}
