package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The query timer's protocol on synthetic queries: failed reps,
  * pair alignment and staleness, and the artifact's shape. */
class BenchSpec extends SparkSpec {
  private val mapper = new ObjectMapper()

  private val ok: Bench.Query = (s, _) => s.range(100).selectExpr("id", "id * 2 AS y")
  private val other: Bench.Query = (s, _) => s.range(10).toDF("id")
  // Fails only when its output column is computed: `.count()` would
  // prune the projection and record a success.
  private val boom: Bench.Query = (s, _) => s.range(3).selectExpr("raise_error('boom') AS x")

  private def runBench(queries: Seq[(String, Bench.Query)],
      pair: Path = Paths.get(tmpDir("bench-nopair"), "absent.json")): (JsonNode, JsonNode) = {
    val out = Paths.get(tmpDir("bench-spec"), "bench_out.json")
    val line = Bench.run(spark, sfDir, queries, 2, pair, out)
    (mapper.readTree(out.toFile), mapper.readTree(line))
  }

  private def pairFile(json: String): Path = {
    val p = Paths.get(tmpDir("bench-pair"), "latest_pair.json")
    Files.write(p, json.getBytes("UTF-8"))
    p
  }

  private def names(n: JsonNode): Set[String] = n.fieldNames().asScala.toSet

  test("a query that throws is named in failed and left out of the totals") {
    val (file, line) = runBench(Seq("qa" -> ok, "qboom" -> boom))
    for (j <- Seq(file, line)) {
      assert(j.get("failed").elements().asScala.map(_.asText).toSeq == Seq("qboom"))
      assert(j.get("n").asInt == 1)
    }
    assert(names(file.get("queries")) == Set("qa"))
    assert(names(file.get("phases")) == Set("qa"))
    assert(file.get("value").asDouble == file.get("queries").get("qa").asDouble)
  }

  test("the pair covers aligned successful queries only; later fields do not leak") {
    val p = pairFile(
      """{"tag": "t", "queries": {"qa": 2.0, "qboom": 5.0, "qduck": 7.0}, "total": 1000.0}""")
    val (file, _) = runBench(Seq("qa" -> ok, "qb" -> other, "qboom" -> boom), p)
    val pair = file.get("pair")
    assert(pair.get("aligned_n").asInt == 1)
    assert(pair.get("duck_total").asDouble == 2.0)
    assert(pair.get("spark_total").asDouble == file.get("queries").get("qa").asDouble)
    assert(!pair.has("stale"))
    assert(pair.get("pair_age_sec").asLong < 3600)

    // a file naming another scale factor gives no pair; the run's own
    // scale factor (as written, or with a trailing slash) aligns as above
    val elsewhere = pairFile("""{"sf": "/elsewhere/sf0.1", "queries": {"qa": 2.0}}""")
    assert(!runBench(Seq("qa" -> ok), elsewhere)._1.has("pair"))
    for (sf <- Seq(sfDir, sfDir + "/")) {
      val same = pairFile(s"""{"sf": "$sf", "queries": {"qa": 2.0}}""")
      assert(runBench(Seq("qa" -> ok), same)._1.get("pair").get("aligned_n").asInt == 1)
    }
  }

  test("a pair file older than an hour is marked stale") {
    val p = pairFile("""{"queries": {"qa": 2.0}}""")
    Files.setLastModifiedTime(p,
      FileTime.fromMillis(System.currentTimeMillis - 2 * 3600 * 1000L))
    val (file, line) = runBench(Seq("qa" -> ok), p)
    for (j <- Seq(file, line)) {
      assert(j.get("pair").get("stale").asBoolean)
      assert(j.get("pair").get("pair_age_sec").asLong >= 7200)
    }
  }

  test("a malformed pair file fails before the first query runs") {
    var built = 0
    val counted: Bench.Query = (s, d) => { built += 1; ok(s, d) }
    for (bad <- Seq("""{"queries": [1, 2]""", """{"queries": {"qa": "fast"}}""",
        """{"total": 1.0}""")) {
      intercept[Exception](runBench(Seq("qa" -> counted), pairFile(bad)))
    }
    assert(built == 0)
  }

  test("SparkEntry.select keeps the given order, drops blanks and repeats, and names an unknown query") {
    val got = SparkEntry.select(" q60_cdc_current_state,,q01_pricing_summary,q60_cdc_current_state ")
    assert(got.map(_._1) == Seq("q60_cdc_current_state", "q01_pricing_summary"))
    assert(SparkEntry.select("").isEmpty)
    val e = intercept[RuntimeException](SparkEntry.select("q01_pricing_summary,q01_pricing_sumary"))
    assert(e.getMessage == "unknown query q01_pricing_sumary")
  }

  test("bench_out.json holds value, queries and each query's phases; the line holds neither map") {
    val (file, line) = runBench(Seq("qa" -> ok, "qb" -> other))
    assert(file.get("metric").asText == "total")
    assert(file.get("reps").asInt == 2)
    assert(names(file.get("queries")) == Set("qa", "qb"))
    for (q <- Seq("qa", "qb")) {
      val ph = file.get("phases").get(q)
      assert(names(ph) == Set("build_s", "plan_s", "exec_s", "jobs"))
      assert(ph.get("jobs").isInt)
      val sum = Seq("build_s", "plan_s", "exec_s").map(ph.get(_).asDouble).sum
      assert(math.abs(sum - file.get("queries").get(q).asDouble) <= 0.0025)
    }
    assert(math.abs(file.get("value").asDouble -
      file.get("queries").elements().asScala.map(_.asDouble).sum) <= 0.0025)
    assert(!line.has("queries") && !line.has("phases"))
    assert(line.get("value") == file.get("value"))
  }
}
