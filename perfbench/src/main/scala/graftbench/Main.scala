package graftbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

/** What one workload reports back to [[Main]]. `e2e` holds the metrics of
  * BENCHMARK.json's `end_to_end` list, `detail` the workload-specific
  * end-to-end figures printed by name, `layers` the per-layer metrics of a
  * traced run. */
final case class Outcome(
    attempted: Long,
    failures: Seq[String],
    e2e: Map[String, Double],
    detail: Seq[(String, Double, String)],
    layers: Map[String, Double] = Map.empty,
    extra: Map[String, Any] = Map.empty)

/** One benchmark workload: set-up, then one timed closed loop with a
  * single client. */
trait Workload {
  /** Lands the workload's inputs; everything done here counts as set-up. */
  def setup(spark: SparkSession): Unit
  def timed(spark: SparkSession, seconds: Double, trace: Trace): Outcome
}

final case class Args(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, work: String, out: String)

/** Entry point: `graftbench.Main --workload <w> --seed <n> --seconds <s>
  * --trace <0|1> --data <dir> --work <dir> --out <file>`. Writes one JSON
  * result to `--out`.
  *
  * The session is graft's library default, `SparkEnv.builder(local[n], n)`
  * with n the number of cores; the benchmark adds no configuration. */
object Main {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("data"), m("work"), m("out"))
  }

  def session(): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val s = graft.SparkEnv.builder(s"local[$n]", n).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val wl: Workload = args.workload match {
      case "cdc_ingest" => new CdcIngest(args)
      case "analytics" => new Analytics(args)
      case w => sys.error(s"unknown workload $w")
    }
    val spark = session()
    wl.setup(spark)
    // set-up runs from process start to the first timed operation
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val trace = new Trace(args.trace)
    val o = wl.timed(spark, args.seconds, trace)
    spark.stop()
    val result = Map(
      "workload" -> args.workload,
      "seed" -> args.seed,
      "trace" -> args.trace,
      "attempted" -> o.attempted,
      "failed" -> o.failures.size,
      "failures" -> o.failures,
      "e2e" -> (o.e2e + ("setup_s" -> setupS)),
      "detail" -> o.detail.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
      "layers" -> o.layers,
      "extra" -> o.extra,
      "spans" -> trace.spans)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(args.out), json.writeValueAsBytes(result))
  }
}
