package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query timer: times `SparkEntry.queries` against
  * `SPARK_GRAFT_SF_DIR` (default `/root/testdata/sf0.1`).
  *
  * Protocol:
  *  - Session: `SparkEnv.local()`, the library session Verify checks
  *    and perfbench times. A JVM/codegen warm-up and `SparkEntry.warm`
  *    run before the first timed query.
  *  - Action: each rep times build (`fn(spark, sfDir)`, including any
  *    eager artifact work the query triggers), plan
  *    (`queryExecution.executedPlan`) and exec (a `noop` write, which
  *    computes every output column of every row; `.count()` would let
  *    Catalyst prune the output expressions). `jobs` counts the Spark
  *    jobs started during the rep, as the listener bus delivers them
  *    (asynchronously: a start still queued when a rep ends counts
  *    toward the next one).
  *  - Reading: the minimum of build + plan + exec over the successful
  *    ones of `SPARK_GRAFT_REPS` (default 2) reps, run back to back.
  *    `dev/duck_bench.py`'s DuckDB leg is min-of-2 too, so both engines
  *    get the same rep count. Back to back because a query's codegen
  *    and JIT state do not survive 480 other queries between its reps.
  *  - Failed reps: a rep that throws never enters a minimum. A query
  *    with no successful rep is left out of `value`, `n`, `queries` and
  *    the pair, and is named in `failed`.
  *  - Pair: when `SPARK_GRAFT_PAIR_FILE` (default
  *    `dev/bench_artifacts/latest_pair.json`, the DuckDB leg
  *    `dev/rested_ab.sh` writes) exists, its `queries` object (seconds by
  *    name) is aligned with the readings: `pair` holds both totals over
  *    the aligned queries, their ratio and the file's age. A file older
  *    than an hour is marked `"stale": true`, because host throttling
  *    drifts both engines together only within one session. A file
  *    whose `sf` names another scale factor than `SPARK_GRAFT_SF_DIR`
  *    gives no `pair` (a file without `sf` is aligned as is). The file
  *    is read before the first query, so a malformed one fails the run
  *    at once.
  *
  * Output: one `[bench]` line per rep; `SPARK_GRAFT_BENCH_OUT` (default
  * `bench_out.json`), moved into place atomically, with `queries`
  * (seconds by name, the reading) and `phases` (the best rep's
  * `build_s`, `plan_s`, `exec_s` and `jobs` by name); and, as the last
  * stdout line, the same JSON without those two maps.
  *
  * `SPARK_GRAFT_ONLY=q1,q2` times only the named queries
  * ([[SparkEntry.select]]: an unknown name throws), e.g. with
  * `SPARK_GRAFT_REPS=3` to profile them.
  */
object Bench {
  private[graft] type Query = (SparkSession, String) => DataFrame

  /** One successful rep, in seconds. */
  private final case class Rep(build: Double, plan: Double, exec: Double, jobs: Int) {
    def total: Double = build + plan + exec
  }

  // A suite in one JVM accumulates dead localCheckpoint blocks,
  // broadcasts and codegen classes that only the ContextCleaner reaps,
  // and it reaps on JVM GC, which a big heap defers until late queries
  // pay 2-4x in GC pauses (r7: q160 2.35 s in-suite vs 0.92 s alone).
  private val GcEvery = 40

  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt.max(1)
    val selected = sys.env.get("SPARK_GRAFT_ONLY").map(SparkEntry.select)
      .filter(_.nonEmpty)
      .getOrElse(SparkEntry.queries.toSeq)
      .sortBy(_._1)
    val spark = SparkEnv.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    SparkEntry.warm(spark, sfDir)
    val envelope = run(spark, sfDir, selected, reps,
      Paths.get(sys.env.getOrElse("SPARK_GRAFT_PAIR_FILE",
        "dev/bench_artifacts/latest_pair.json")),
      Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")))
    spark.stop()
    println(envelope)
  }

  /** Times `queries` (no warm-up) by the protocol above, writes `out`
    * and returns the envelope line. */
  private[graft] def run(spark: SparkSession, sfDir: String,
      queries: Seq[(String, Query)], reps: Int, pairFile: Path,
      out: Path): String = {
    val duck = readPair(pairFile, sfDir)
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def timeOnce(name: String, rep: Int, fn: Query): Option[Rep] = {
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        val r = Rep((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
          jobs.get() - j0)
        println(f"[bench] $name rep$rep build=${r.build * 1e3}%.0fms " +
          f"plan=${r.plan * 1e3}%.0fms exec=${r.exec * 1e3}%.0fms " +
          f"jobs=${r.jobs} total=${r.total * 1e3}%.0fms")
        Some(r)
      } catch { case e: Throwable =>
        println(f"[bench] $name rep$rep failed after " +
          f"${(System.nanoTime() - t0) / 1e6}%.0fms: $e")
        None
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val best: Seq[(String, Option[Rep])] =
      try queries.zipWithIndex.map { case ((name, fn), i) =>
        val ok = (1 to reps).flatMap(rep => timeOnce(name, rep, fn))
        if ((i + 1) % GcEvery == 0) System.gc()
        name -> ok.minByOption(_.total)
      } finally spark.sparkContext.removeSparkListener(listener)
    val results = best.collect { case (name, Some(r)) => name -> r }
    val readings = results.map { case (name, r) => name -> r.total }.toMap

    val envelope = mapper.createObjectNode()
      .put("metric", "total")
      .put("value", round(readings.values.sum))
      .put("unit", "sec")
      .put("n", results.size)
      .put("reps", reps)
    val failed = envelope.putArray("failed")
    best.collect { case (name, None) => name }.foreach(failed.add)
    duck.foreach { case (duckSec, mtime) =>
      val common = duckSec.keySet.intersect(readings.keySet).toSeq
      val ds = common.map(duckSec).sum
      if (ds > 0) {
        val ss = common.map(readings).sum
        val age = (System.currentTimeMillis - mtime) / 1000
        val pair = envelope.putObject("pair")
          .put("spark_total", round(ss))
          .put("duck_total", round(ds))
          .put("ratio", round(ss / ds))
          .put("aligned_n", common.size)
        if (age > 3600) pair.put("stale", true)
        pair.put("pair_age_sec", age)
      }
    }
    envelope.put("sf", sfDir)

    val full = envelope.deepCopy()
    val qs = full.putObject("queries")
    val phases = full.putObject("phases")
    results.foreach { case (name, r) =>
      qs.put(name, round(r.total))
      phases.putObject(name)
        .put("build_s", round(r.build))
        .put("plan_s", round(r.plan))
        .put("exec_s", round(r.exec))
        .put("jobs", r.jobs)
    }
    val tmp = Paths.get(s"$out.tmp")
    mapper.writeValue(tmp.toFile, full)
    Files.move(tmp, out, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    mapper.writeValueAsString(envelope)
  }

  /** The pair file's `queries` object (DuckDB seconds by name) and the
    * file's mtime in ms; None when the file does not exist or its `sf`
    * is another scale factor than `sfDir`. */
  private def readPair(p: Path, sfDir: String): Option[(Map[String, Double], Long)] =
    if (!Files.exists(p)) None
    else {
      val root = mapper.readTree(p.toFile)
      val qs = root.get("queries")
      require(qs != null && qs.isObject, s"$p: no \"queries\" object")
      val duck = qs.properties().asScala.map { e =>
        require(e.getValue.isNumber, s"$p: queries.${e.getKey} is not a number")
        e.getKey -> e.getValue.asDouble
      }.toMap
      def norm(dir: String) = Paths.get(dir).toAbsolutePath.normalize
      Option(root.get("sf")).map(_.asText) match {
        case Some(sf) if norm(sf) != norm(sfDir) =>
          println(s"[bench] no pair: $p is for sf $sf, this run is $sfDir")
          None
        case _ => Some(duck -> Files.getLastModifiedTime(p).toMillis)
      }
    }

  private def round(v: Double): Double =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
}
