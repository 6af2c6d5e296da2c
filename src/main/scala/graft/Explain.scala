package graft

/** Dev tool: print the formatted physical plan of named queries —
  * the `.explain("formatted")` loop the scale audits read (shuffle
  * count, pushed filters, WholeStageCodegen spans, single-task sorts).
  * The session is Verify's and Bench's (`SparkEnv.local()`), so these
  * are the plans Verify checks and Bench times.
  *
  * Usage: `sbt "runMain graft.Explain <sfDir> <q1,q2,...>"`
  */
object Explain {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: runMain graft.Explain <sfDir> <q1,q2,...>")
      sys.exit(2)
    }
    val Array(sfDir, names) = args.take(2)
    val selected = SparkEntry.select(names)
    val spark = SparkEnv.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    selected.foreach { case (name, fn) =>
      println(s"\n===== $name =====")
      println(fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
