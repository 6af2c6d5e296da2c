package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool (guide §1: measure first): per-query cost breakdown.
  *
  * For each named query, over `SPARK_GRAFT_REPS` (default 3) reps:
  *   - `build`: DataFrame construction (driver-side, includes any
  *     eager artifact work the query triggers)
  *   - `plan`: analysis + optimization + physical planning
  *     (`queryExecution.executedPlan` forced)
  *   - `exec`: full materialization (a `noop` write computes every
  *     output column of every row; `count()` would let Catalyst prune
  *     the output expressions)
  *   - `jobs`: Spark jobs launched by the action window
  *
  * Prints one line per (query, rep) plus a min-rep summary. The
  * session is the library's (`SparkEnv.builder`), as in Verify.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Profile q1,q2"`
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val names = args.headOption.map(_.split(",").map(_.trim)
      .filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
    require(names.nonEmpty, "usage: runMain graft.Profile <q1,q2,...>")
    val spark = SparkEnv.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobCount = new java.util.concurrent.atomic.AtomicInteger(0)
    // Per-stage wall vs executor time: wall = completion-submission,
    // run = Σ task executorRunTime, cpu = Σ executorCpuTime (ns→ms),
    // gc = Σ jvmGCTime. wall ≫ run/cores ⇒ time lost BETWEEN tasks
    // (scheduling/launch); run ≫ cpu ⇒ threads blocked/descheduled.
    val stageLog = sys.env.get("SPARK_GRAFT_STAGES").contains("1")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobCount.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (stageLog) {
          val si = sc.stageInfo
          val wall = (for {a <- si.completionTime; b <- si.submissionTime}
            yield a - b).getOrElse(-1L)
          val m = si.taskMetrics
          println(f"[stage] id=${si.stageId} tasks=${si.numTasks} " +
            f"wall=${wall}ms run=${m.executorRunTime}ms " +
            f"cpu=${m.executorCpuTime / 1000000}ms gc=${m.jvmGCTime}ms " +
            f"deser=${m.executorDeserializeTime}ms " +
            f"shufR=${m.shuffleReadMetrics.fetchWaitTime}ms " +
            f"shufW=${m.shuffleWriteMetrics.writeTime / 1000000}ms " +
            si.name.takeWhile(_ != '\n').take(60))
        }
    })
    spark.range(1000000).selectExpr("sum(id)").collect()
    SparkEntry.warm(spark, sfDir)
    def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      val readings = (1 to reps).map { rep =>
        val j0 = jobCount.get()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val tBuild = ms(t0)
        val jBuild = jobCount.get() - j0
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val tPlan = ms(t1)
        val t2 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val tExec = ms(t2)
        val jTot = jobCount.get() - j0
        println(f"[profile] $name rep$rep build=$tBuild%.0fms (jobs=$jBuild) " +
          f"plan=$tPlan%.0fms exec=$tExec%.0fms jobs_total=$jTot total=${tBuild + tPlan + tExec}%.0fms")
        (tBuild, tPlan, tExec, jTot)
      }
      val best = readings.minBy(r => r._1 + r._2 + r._3)
      println(f"[profile] $name BEST build=${best._1}%.0f plan=${best._2}%.0f " +
        f"exec=${best._3}%.0f jobs=${best._4} total=${best._1 + best._2 + best._3}%.0fms")
    }
    spark.stop()
  }
}
