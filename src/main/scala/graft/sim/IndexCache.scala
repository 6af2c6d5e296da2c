package graft.sim

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one store of ingest-time artifacts — the deploy-time split
  * between INGEST and QUERY: a production system trains ANN indexes
  * and LM counts, decodes the CDC topic and resolves table relations
  * once, and every query reads the landed artifact, exactly as the
  * reference decodes Debezium at ingest and reads the landed table.
  *
  * Keys are `"<namespace>:<key>"` (`cdc-state:<dir>`, `rel:<dir>:<table>`,
  * `mh-index:<dir>`, ...). The map holds the artifacts of the one live
  * SparkContext: Spark runs one context per JVM, so a call that arrives
  * from a new applicationId empties the map — the old context's blocks
  * died with it, and its plans must not be served to the new one.
  *
  * Builds run OUTSIDE the map's lock (plain get / putIfAbsent, never
  * `computeIfAbsent`): a multi-second training job must not block
  * unrelated keys, and a build composing other cached artifacts (the
  * CDC state reads the decoded layer, which reads the envelopes; IVF
  * assignments read the cached centroids) re-enters the map. Two racing
  * builders may both build; the first to land wins. */
object IndexCache {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Any]()
  @volatile private var liveApp: String = null

  /** Memo of `build` under `key` for `spark`'s context. The value is
    * kept as built: nothing is persisted here. */
  def getOrCompute[T](spark: SparkSession, key: String)(build: => T): T = {
    val app = spark.sparkContext.applicationId
    if (app != liveApp) synchronized {
      if (app != liveApp) { cache.clear(); liveApp = app }
    }
    val hit = cache.get(key)
    if (hit != null) return hit.asInstanceOf[T]
    val built = build
    val prev = cache.putIfAbsent(key, built)
    if (prev != null) prev.asInstanceOf[T] else built
  }

  /** [[getOrCompute]] for a landed frame: persisted MEMORY_AND_DISK and
    * counted eagerly (probes must not pay training); a builder that
    * loses the race unpersists its copy. */
  def getOrBuild(spark: SparkSession, key: String)
                (build: => DataFrame): DataFrame = {
    var mine: DataFrame = null
    val landed = getOrCompute(spark, key) {
      mine = build.persist(StorageLevel.MEMORY_AND_DISK)
      mine.count()
      mine
    }
    if (mine != null && (mine ne landed)) mine.unpersist()
    landed
  }

  /** Drop every artifact, unpersisting the live ones (test hook). */
  def clear(): Unit = synchronized {
    cache.values.forEach {
      case ds: Dataset[_] if !ds.sparkSession.sparkContext.isStopped => ds.unpersist()
      case _ =>
    }
    cache.clear()
  }
}
