package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Work counted for one job group or call site: jobs, stages, tasks and the
  * task metrics Spark reports. Unlike wall time these do not move when the
  * host steals CPU, so they are the evidence that a change did less work. */
final class Tally {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
  var jobMs = 0L

  def +=(o: Tally): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    runMs += o.runMs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill; input += o.input
    output += o.output; jobMs += o.jobMs
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "cpu_s" -> cpuNs / 1e9, "run_s" -> runMs / 1e3, "task_gc_s" -> gcMs / 1e3,
    "shuffle_write_mb" -> shuffleWrite / 1e6, "shuffle_read_mb" -> shuffleRead / 1e6,
    "spill_mb" -> spill / 1e6, "scan_mb" -> input / 1e6, "write_mb" -> output / 1e6,
    "job_s" -> jobMs / 1e3)
}

/** Benchmark-owned listener: attributes every job, stage and task to the
  * job group of the call that launched it ([[Counters.inGroup]], or the run
  * id a streaming query uses as its group) and to the job's call site
  * (`collect at ParquetStateStore.scala:187`). */
final class Counters extends SparkListener {
  private case class Owner(group: String, site: String)
  private val jobOwner = new ConcurrentHashMap[Int, Owner]()
  private val stageOwner = new ConcurrentHashMap[Int, Owner]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val byGroup = mutable.Map.empty[String, Tally]
  private val bySite = mutable.Map.empty[(String, String), Tally]

  private def tallies(o: Owner): Seq[Tally] = synchronized {
    Seq(byGroup.getOrElseUpdate(o.group, new Tally),
      bySite.getOrElseUpdate((o.group, o.site), new Tally))
  }

  private val sqlSite = new ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => sqlSite.put(s.executionId, s.description)
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val group = prop("spark.jobGroup.id").getOrElse("-")
    // an explicit call site (a streaming query sets its own), else the
    // calling frame of the SQL action that launched the job, else the
    // result stage's name
    val site = prop("callSite.short")
      .orElse(prop("spark.sql.execution.id").flatMap(id => Option(sqlSite.get(id.toLong))))
      .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("-")
    val o = Owner(group, site)
    jobOwner.put(e.jobId, o)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageOwner.putIfAbsent(s, o))
    synchronized(tallies(o).foreach(_.jobs += 1))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val o = jobOwner.get(e.jobId)
    if (o != null) synchronized {
      val t0 = jobStart.getOrDefault(e.jobId, e.time)
      tallies(o).foreach(_.jobMs += e.time - t0)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val o = stageOwner.get(e.stageInfo.stageId)
    if (o != null) synchronized(tallies(o).foreach(_.stages += 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val o = stageOwner.get(e.stageId)
    val m = e.taskMetrics
    if (o != null && m != null) synchronized {
      tallies(o).foreach { t =>
        t.tasks += 1
        t.cpuNs += m.executorCpuTime
        t.runMs += m.executorRunTime
        t.gcMs += m.jvmGCTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.input += m.inputMetrics.bytesRead
        t.output += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Sum over the groups `keep` accepts. */
  def total(keep: String => Boolean): Tally = synchronized {
    val t = new Tally
    byGroup.foreach { case (g, x) => if (keep(g)) t += x }
    t
  }

  def group(g: String): Tally = total(_ == g)

  /** Per call site within the groups `keep` accepts, call-site text → tally. */
  def sites(keep: String => Boolean): Map[String, Tally] = synchronized {
    val out = mutable.Map.empty[String, Tally]
    bySite.foreach { case ((g, s), x) =>
      if (keep(g)) out.getOrElseUpdate(s, new Tally) += x
    }
    out.toMap
  }
}

object Counters {
  /** Runs `body` with its jobs in job group `group`. The group is set
    * without a job description, so SQL executions keep their call site
    * (`collect at ParquetStateStore.scala:176`) as their description. */
  def inGroup[T](sc: SparkContext, group: String)(body: => T): T = {
    sc.setLocalProperty("spark.jobGroup.id", group)
    try body finally sc.setLocalProperty("spark.jobGroup.id", null)
  }

  def jvmGcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def jvmCpuNs: Long = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
}
