package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.cdc.CdcSim
import graft.queries.{CdcQueries, Q, VolumeQueries}
import graft.sources.Tables

/** `analytics`: graft's queries over the star-schema tables, one query at
  * a time over landed CDC state. A timed call is build + plan + one
  * `collect()`, which computes every output column of every row and the
  * final ordering. The rows of each query's first call are written out
  * after the loop, untimed, for the check against DuckDB. */
final class Analytics(args: Args) extends Workload {
  import Analytics._

  private val dir = args.data
  private val set: Seq[Q] = querySet
  private var warmS = 0.0
  private var warmCpuS = 0.0
  private var cachedMb = 0.0

  /** Lands what the query set reads: the synthesized CDC topic, its
    * decoded layer and the current-state table, through the same `CdcSim`
    * calls `SparkEntry.warm` starts with (the volume and kernel queries
    * read no warm artifact). Then primes the JVM with one untimed pass: the
    * first calls of a process run up to 2× slower while the JIT and codegen
    * warm up. Traced and untraced runs share this set-up, so the per-layer
    * query figures come from the state the end-to-end figures do. */
  def setup(spark: SparkSession): Unit = {
    val env = CdcSim.orderEnvelopesCached(dir, Tables.load(spark, dir, "orders"))
    CdcSim.decodedEnvelopesCached(dir, env)
    CdcSim.currentStateCached(dir, env)
    set.foreach(q => q.fn(spark, dir).collect())
  }

  /** The whole `SparkEntry.warm`, after a traced run's passes: wall and
    * process CPU seconds, and the persisted blocks it leaves. */
  private def timeWarm(spark: SparkSession): Unit = {
    val cpu0 = Counters.jvmCpuNs
    val t0 = System.nanoTime()
    SparkEntry.warm(spark, dir)
    warmS = Stats.secondsSince(t0)
    warmCpuS = (Counters.jvmCpuNs - cpu0) / 1e9
    cachedMb = storedMb(spark)
  }

  /** One timed call; returns the call and its rows. */
  private def call(spark: SparkSession, q: Q, shapes: Boolean,
                   trace: Trace): (Call, (Array[Row], StructType)) =
    trace(s"query:${q.name}") {
      val gc0 = Counters.jvmGcMs
      Counters.inGroup(spark.sparkContext, s"q:${q.name}") {
        val (df, build) = Stats.timed(trace("queries.build")(q.fn(spark, dir)))
        val (_, plan) = Stats.timed(trace("queries.plan")(df.queryExecution.executedPlan))
        val (rows, exec) = Stats.timed(trace("queries.exec")(df.collect()))
        val shape = if (shapes) PlanShape.of(df.queryExecution.executedPlan) else Map.empty[String, Long]
        (Call(q.name, build, plan, exec, (Counters.jvmGcMs - gc0) / 1e3, shape), (rows, df.schema))
      }
    }

  def timed(spark: SparkSession, seconds: Double, trace: Trace): Outcome = {
    val results = scala.collection.mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
    val failures = scala.collection.mutable.LinkedHashSet.empty[String]
    var attempted = 0L
    // per pass: calls of that pass
    val untraced = scala.collection.mutable.ArrayBuffer.empty[Seq[Call]]
    val traced = scala.collection.mutable.ArrayBuffer.empty[Seq[Call]]
    val counters = new Counters
    val t0 = System.nanoTime()
    /** One pass in a fixed order, so every run warms up the same way; with
      * `stopAtDeadline`, it ends early once the run length is used. */
    def pass(tr: Trace, stopAtDeadline: Boolean): Seq[Call] = set.flatMap { q =>
      if (stopAtDeadline && Stats.secondsSince(t0) >= seconds) None
      else {
        attempted += 1
        try {
          val (c, rows) = call(spark, q, tr.enabled, tr)
          if (!results.contains(q.name)) results(q.name) = rows
          Some(c)
        } catch {
          case e: Throwable =>
            failures += s"${q.name}: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
            None
        }
      }
    }
    val off = new Trace(false)
    if (!trace.enabled) {
      // one whole pass, then more until the run length is used
      untraced += pass(off, stopAtDeadline = false)
      while (Stats.secondsSince(t0) < seconds) untraced += pass(off, stopAtDeadline = true)
    } else {
      // one untraced pass, so the run can report what tracing costs, then
      // one traced pass
      untraced += pass(off, stopAtDeadline = false)
      spark.sparkContext.addSparkListener(counters)
      traced += pass(trace, stopAtDeadline = false)
      org.apache.spark.BusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(counters)
    }
    // the rows each query returned, for the check against its DuckDB oracle
    results.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"${args.work}/results/$name")
    }
    val measured = if (trace.enabled) traced.toSeq else untraced.toSeq
    val calls = measured.flatten
    // per query: median over its calls, so suite_s is one pass's worth
    val perQuery: Map[String, Double] =
      calls.groupBy(_.name).map { case (n, cs) => n -> Stats.median(cs.map(_.total)) }
    val suiteS = perQuery.values.sum
    val times = perQuery.values.toSeq
    val endMb = storedMb(spark)
    if (trace.enabled) timeWarm(spark)
    val e2e = Map(
      "latency_p50_s" -> Stats.median(times),
      "throughput_per_s" -> perQuery.size / suiteS,
      "footprint_mb" -> endMb)
    val detail = Seq(
      ("suite_s", suiteS, "s"),
      ("query_p50_s", Stats.median(times), "s"),
      ("query_max_s", times.max, "s"),
      ("cache_mb", endMb, "MB"),
      ("queries", perQuery.size.toDouble, "count"),
      ("calls", calls.size.toDouble, "count"))
    val layers =
      if (!trace.enabled) Map.empty[String, Double]
      else {
        val q = counters.total(_.startsWith("q:"))
        def sumBy(f: Call => Double): Double =
          perQuery.keys.toSeq.map(n => Stats.median(calls.filter(_.name == n).map(f))).sum
        def shape(k: String): Double =
          perQuery.keys.toSeq.map(n => calls.find(_.name == n).get.shape(k)).sum.toDouble
        val untracedSuite = untraced.head.map(_.total).sum
        val tracedSuite = traced.head.map(_.total).sum
        val kernels = KernelQueries.map { case (short, full) =>
          s"kernel.$short.exec_s" -> perQueryMedian(calls, full, _.exec)
        }
        Map(
          "SparkEntry.warm_s" -> warmS,
          "SparkEntry.warm_cpu_s" -> warmCpuS,
          "SparkEntry.cached_mb" -> cachedMb,
          "queries.build_s" -> sumBy(_.build),
          "queries.plan_s" -> sumBy(_.plan),
          "queries.exec_s" -> sumBy(_.exec),
          "exec.jobs" -> q.jobs.toDouble,
          "exec.stages" -> q.stages.toDouble,
          "exec.tasks" -> q.tasks.toDouble,
          "exec.cpu_s" -> q.cpuNs / 1e9,
          "exec.shuffle_write_mb" -> q.shuffleWrite / 1e6,
          "exec.spill_mb" -> q.spill / 1e6,
          "exec.scan_mb" -> q.input / 1e6,
          "exec.gc_s" -> sumBy(_.gcS),
          "plan.exchanges" -> shape("exchanges"),
          "plan.windows" -> shape("windows"),
          "plan.global_windows" -> shape("global_windows"),
          "plan.broadcasts" -> shape("broadcasts"),
          "plan.sorts" -> shape("sorts"),
          "trace.overhead" -> (tracedSuite / untracedSuite - 1.0)
        ) ++ kernels
      }
    val extra: Map[String, Any] = Map(
      "query_s" -> perQuery,
      "oracle_sql" -> set.flatMap(q => q.oracle.map(q.name -> _)).toMap) ++ (
      if (!trace.enabled) Map.empty
      else Map(
        "untraced_query_s" -> untraced.head.map(c => c.name -> c.total).toMap,
        "plans" -> calls.groupBy(_.name).map { case (n, cs) => n -> cs.head.shape },
        "counters" -> perQuery.keys.toSeq.sorted.map(n => n -> counters.group(s"q:$n").toMap).toMap))
    Outcome(attempted, failures.toSeq, e2e, detail, layers, extra)
  }

  private def perQueryMedian(calls: Seq[Call], name: String, f: Call => Double): Double = {
    val xs = calls.filter(_.name == name).map(f)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }
}

object Analytics {
  /** One timed query call: build, plan and collect seconds, JVM GC seconds
    * during it, and (traced runs) its plan shape. */
  final case class Call(name: String, build: Double, plan: Double, exec: Double,
                        gcS: Double, shape: Map[String, Long]) {
    def total: Double = build + plan + exec
  }

  /** Short name → query of the kernels the per-layer metrics time alone. */
  val KernelQueries: Seq[(String, String)] = Seq(
    "q33" -> "q33_doc_langid", "q86" -> "q86_quantile_sketch",
    "q114" -> "q114_bpe_encode", "q206" -> "q206_ann_eval",
    "q233" -> "q233_tokenizer_fertility", "q68" -> "q68_volume_backfill")

  /** Every query of the CDC and volume packs, plus the kernel queries.
    * The first query of each of the other 76 packs is left out: a pass over
    * them does not fit the benchmark's run budget. */
  lazy val querySet: Seq[Q] = {
    val byName = SparkEntry.packs.map(q => q.name -> q).toMap
    (CdcQueries.all ++ VolumeQueries.all ++ KernelQueries.map(k => byName(k._2)))
      .distinctBy(_.name)
  }

  /** Memory and disk bytes of every persisted or checkpointed RDD block. */
  def storedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
}
