package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Versioned

/** Keyed current-state table over plain parquet with last-writer-wins
  * merge — the Spark rendering of `ReplacingMergeTree(version) ORDER BY
  * key` (`basic_example/clickhouse.sql:40-52`) for environments without
  * a transactional table format.
  *
  * Semantics: eager, deterministic last-writer-wins by `versionCols`
  * (strictly stronger than the reference's lazy background-merge dedup,
  * SURVEY §7 risk 1). Rows whose latest event has `deletedCol = true`
  * are hidden from [[read]] but RETAINED in state as tombstones: a
  * delete arriving in an early micro-batch must still out-version an
  * older update arriving later (at-least-once sources reorder across
  * batches), exactly why ClickHouse's ReplacingMergeTree keeps
  * `is_deleted` rows until an explicit `CLEANUP` merge.
  *
  * Mechanics — incremental, like the reference's background merges:
  * state is hash-partitioned into `buckets` fixed buckets by key
  * (`pmod(xxhash64(keys), buckets)`); a manifest file maps each bucket
  * to the epoch directory holding its current data. A merge rewrites
  * ONLY the buckets its batch keys hash into (union prior bucket data +
  * batch rows, re-run last-writer-wins, write `e{N}/__gbucket={b}`),
  * then atomically swaps the manifest — clean buckets keep their old
  * files untouched. Merge I/O is O(dirty-bucket bytes), not O(state):
  * with B buckets a batch touching K distinct buckets reads/writes
  * ~K/B of the state. Readers always see a complete snapshot (the
  * manifest swap is one atomic rename, see [[Manifest]]; old epochs are
  * never mutated). On a production cluster the same layout maps to
  * Delta/Iceberg `MERGE INTO` (log instead of manifest file); size
  * `buckets` so one bucket ≈ a few GB at the target scale.
  *
  * Schema evolution: ADDITIVE columns evolve in place — a batch
  * carrying a column the stored state lacks (Debezium `ALTER TABLE ADD
  * COLUMN` flowing through the envelope) widens the union
  * (`allowMissingColumns`), old rows read as null for the new column,
  * and multi-epoch reads merge footers (`mergeSchema`) so buckets
  * written before the widening still surface it. Key and version
  * columns are fixed for the life of the store; drops/renames are NOT
  * tracked (a dropped source column simply stops updating and reads
  * null on new rows — the additive discipline every append-only
  * landing layer uses).
  */
class ParquetStateStore(
    val path: String,
    val keys: Seq[String],
    val versionCols: Seq[String],
    val deletedCol: Option[String] = None,
    val buckets: Int = 32) extends Serializable {
  require(buckets > 0, "buckets must be positive")

  private def pointer = new HPath(path, "_CURRENT")

  private def fs(spark: SparkSession): FileSystem =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One parsed `_CURRENT`: header `epoch [lastBatchId]`, then one
    * `bucket epoch` line per non-empty bucket. The optional batch id
    * fences replayed micro-batches ([[mergeOnce]]); it travels in the
    * same atomically-swapped file as the bucket map, so "state updated"
    * and "batch recorded" cannot diverge across a crash. */
  private case class Snapshot(epoch: Int, lastBatch: Long, buckets: Map[Int, Int])

  private def snapshot(hfs: FileSystem): Option[Snapshot] =
    Manifest.read(hfs, pointer).map { lines =>
      val head = lines.head.trim.split("\\s+")
      val map = lines.tail.map { l =>
        val Array(b, e) = l.trim.split("\\s+"); b.toInt -> e.toInt
      }.toMap
      Snapshot(head(0).toInt, if (head.length > 1) head(1).toLong else -1L, map)
    }

  private def bucketDir(epoch: Int, b: Int) = s"$path/e$epoch/__gbucket=$b"

  private def bucketCol = pmod(xxhash64(keys.map(col): _*), lit(buckets.toLong))
    .cast("int")

  /** Data schema of each live epoch this instance wrote. Spark records
    * the written frame's schema in every parquet footer, so a scan
    * whose buckets all come from one such epoch needs no footer
    * inference (a Spark job per merge). Epochs written before a restart
    * or by another instance are not here and are inferred. */
  @transient private lazy val epochSchemas =
    scala.collection.concurrent.TrieMap.empty[Int, StructType]

  /** The bucket copies `map` names, tombstones included. `mergeSchema`
    * surfaces columns added after some buckets were written. */
  private def scan(spark: SparkSession, map: Map[Int, Int]): DataFrame = {
    val dirs = map.toSeq.sorted.map { case (b, e) => bucketDir(e, b) }
    map.values.toSeq.distinct.map(epochSchemas.get).distinct match {
      case Seq(Some(schema)) => spark.read.schema(schema).parquet(dirs: _*)
      case _ => spark.read.option("mergeSchema", "true").parquet(dirs: _*)
    }
  }

  /** Write `rows` (carrying `__gbucket`, already hash-partitioned on it
    * so each bucket is one file) as epoch `epoch`, then swap the
    * pointer to `kept` plus each of `touched` that came out non-empty —
    * a bucket whose content is empty (every key deleted) writes no dir
    * and drops out of the map. */
  private def commit(hfs: FileSystem, rows: DataFrame, epoch: Int,
                     kept: Map[Int, Int], touched: Iterable[Int],
                     lastBatch: Long): Unit = {
    rows.write.mode("overwrite").partitionBy("__gbucket")
      .parquet(s"$path/e$epoch")
    val written = touched.filter(b => hfs.exists(new HPath(bucketDir(epoch, b))))
    val map = kept ++ written.map(_ -> epoch)
    val live = map.values.toSet
    epochSchemas.keys.filterNot(live).foreach(epochSchemas.remove)
    if (written.nonEmpty)
      epochSchemas(epoch) = StructType(rows.schema.filterNot(_.name == "__gbucket"))
    val head = if (lastBatch >= 0) s"$epoch $lastBatch" else epoch.toString
    Manifest.swap(hfs, pointer,
      head +: map.toSeq.sorted.map { case (b, e) => s"$b $e" })
  }

  /** Current manifest epoch, resolved against `spark`'s Hadoop conf
    * (matching read/merge/vacuum, which all take the session). */
  def currentVersion(spark: SparkSession): Option[Int] =
    snapshot(fs(spark)).map(_.epoch)

  def read(spark: SparkSession): Option[DataFrame] =
    snapshot(fs(spark)).map { s =>
      if (s.buckets.isEmpty) spark.emptyDataFrame
      else {
        val df = scan(spark, s.buckets)
        // tombstones stay in state (late-arrival protection) but are
        // not part of the visible current state
        deletedCol match {
          case Some(d) => df.where(!coalesce(col(d), lit(false))).drop(d)
          case None => df
        }
      }
    }

  /** Raw state including tombstones — for maintenance/debug. */
  def readWithTombstones(spark: SparkSession): Option[DataFrame] =
    snapshot(fs(spark)).map { s =>
      if (s.buckets.isEmpty) spark.emptyDataFrame else scan(spark, s.buckets)
    }

  /** Collapse the union of prior bucket state and batch rows to one
    * row per key — last-writer-wins by `versionCols` here; subclasses
    * override for other MergeTree collapse disciplines (additive merge
    * in [[SummingStateStore]]). Receives rows hash-partitioned on
    * `__gbucket` and must preserve that column; grouping by
    * `keys :+ "__gbucket"` (the bucket is a function of the keys) keeps
    * that partitioning, so the write needs no further shuffle. */
  protected def collapse(unioned: DataFrame): DataFrame =
    Versioned.latestByKey(unioned, keys :+ "__gbucket", versionCols.map(col))

  /** Merge a change-batch into the state (idempotent for replayed
    * batches: last-writer-wins is order-insensitive given distinct
    * versions). Rewrites only the buckets the batch touches. */
  def merge(batch: DataFrame): Unit = synchronized {
    val hfs = fs(batch.sparkSession)
    doMerge(hfs, snapshot(hfs), batch, None)
  }

  /** Fenced merge for NON-idempotent collapse disciplines (summing):
    * applies the batch only if `batchId` passes the [[Manifest.fence]]
    * — true when applied, false for a replay of the last recorded id;
    * an id behind it throws. The batch id rides in the manifest header,
    * so fencing and state share one atomic swap — a crash cannot record
    * a batch without its data or vice versa (Delta txn-version fencing,
    * manifest-file rendition). Requires monotonically increasing batch
    * ids (Structured Streaming's foreachBatch contract). */
  def mergeOnce(batch: DataFrame, batchId: Long): Boolean = synchronized {
    val hfs = fs(batch.sparkSession)
    val prev = snapshot(hfs)
    val fresh = Manifest.fence(prev.fold(-1L)(_.lastBatch), batchId, path)
    if (fresh) doMerge(hfs, prev, batch, Some(batchId))
    fresh
  }

  /** Highest batch id recorded by [[mergeOnce]], if any. */
  def lastBatchId(spark: SparkSession): Option[Long] =
    synchronized(snapshot(fs(spark)).map(_.lastBatch).filter(_ >= 0))

  private def doMerge(hfs: FileSystem, prev: Option[Snapshot],
                      batch: DataFrame, batchId: Option[Long]): Unit = {
    val Snapshot(prevEpoch, prevLast, prevMap) =
      prev.getOrElse(Snapshot(-1, -1L, Map.empty))

    val batchB = batch.withColumn("__gbucket", bucketCol)
    // Metadata-sized driver action: ≤ `buckets` rows per partition, one
    // job without a shuffle (the touched-file listing a transactional
    // table format would do).
    val dirty = batchB.select("__gbucket").as(Encoders.scalaInt)
      .mapPartitions(_.toSet.iterator)(Encoders.scalaInt)
      .collect().toSet

    val priorMap = prevMap.filter { case (b, _) => dirty(b) }
    // allowMissingColumns: an additive schema change (new column in the
    // batch, or a bucket written before one) null-fills the absent side
    val unioned =
      if (priorMap.isEmpty) batchB
      else scan(batch.sparkSession, priorMap).withColumn("__gbucket", bucketCol)
        .unionByName(batchB, allowMissingColumns = true)
    // NOTE: tombstones (latest event deleted) are kept, not filtered —
    // dropping them here would let an older update arriving in a later
    // batch resurrect the row. read() hides them.
    // one task per dirty bucket, but no more tasks than cores: each
    // write task pays a fixed setup (it deserializes the write job's
    // Hadoop conf), so extra waves cost more than they parallelize
    val n = dirty.size.min(batch.sparkSession.sparkContext.defaultParallelism).max(1)
    val rows = collapse(unioned.repartition(n, col("__gbucket")))
    commit(hfs, rows, prevEpoch + 1, prevMap -- dirty, dirty,
      batchId.getOrElse(prevLast))
  }

  /** Physically drop tombstones `safeToForget` marks as past the replay
    * horizon — the ClickHouse `OPTIMIZE ... CLEANUP` analog. Retained
    * tombstones guard against out-of-order replays resurrecting deleted
    * keys, so only purge ones older than any event the source can still
    * redeliver (e.g. `col("__ts_ms") < lit(horizon)`). Explicit O(state)
    * maintenance: every bucket is rewritten into a fresh epoch (run
    * [[vacuum]] after to reclaim the superseded copies). No-op for
    * stores without a `deletedCol`. */
  def purgeTombstones(spark: SparkSession,
                      safeToForget: org.apache.spark.sql.Column): Unit =
    synchronized {
      deletedCol.foreach { d =>
        val hfs = fs(spark)
        snapshot(hfs).filter(_.buckets.nonEmpty).foreach { s =>
          val kept = scan(spark, s.buckets)
            .where(!(coalesce(col(d), lit(false)) && safeToForget))
            .withColumn("__gbucket", bucketCol)
            .repartition(buckets.min(s.buckets.size), col("__gbucket"))
          commit(hfs, kept, s.epoch + 1, Map.empty, s.buckets.keys,
            s.lastBatch)
        }
      }
    }

  /** Delete storage the current manifest no longer references:
    * superseded bucket copies from old epochs and orphans left by a
    * merge that crashed before its manifest swap. Readers of the
    * current snapshot are unaffected (live bucket dirs are never
    * touched; epochs newer than the manifest are left alone). Call
    * periodically between merges — without it, state storage grows by
    * the dirty-bucket bytes of every merge, forever (the analog of
    * Delta/Iceberg VACUUM / expire_snapshots). Returns the number of
    * bucket directories deleted.
    *
    * `graceMs` keeps recently-superseded copies alive: a bucket copy is
    * deleted only if the live copy that superseded it (or, for buckets
    * dropped from the manifest, the manifest itself) is older than
    * `graceMs`. An out-of-process reader that resolved the previous
    * manifest — or holds an unexecuted read() plan — can otherwise hit
    * FileNotFoundException mid-scan; size it above the longest reader
    * scan, as Delta's `deletedFileRetentionDuration` does. The default
    * 0 is for single-process use where the store's lock serializes
    * readers and vacuums. */
  def vacuum(spark: SparkSession, graceMs: Long = 0L): Int = synchronized {
    val hfs = fs(spark)
    snapshot(hfs) match {
      case None => 0
      case Some(Snapshot(epoch, _, map)) =>
        // via toSeq: mapping the Map directly would re-key by epoch and
        // collapse every bucket sharing an epoch into one entry
        val live = map.toSeq.map { case (b, e) => (e, b) }.toSet
        val cutoff = System.currentTimeMillis() - graceMs
        // When a superseded copy of bucket b was replaced is bounded
        // above by the live copy's write time (later supersessions only
        // push it forward) — conservative for grace purposes. Buckets
        // no longer in the manifest were last superseded no later than
        // the current manifest swap.
        lazy val manifestMtime = hfs.getFileStatus(pointer).getModificationTime
        def supersededRecently(b: Int): Boolean = graceMs > 0 && {
          val t = map.get(b) match {
            case Some(e) =>
              val d = new HPath(bucketDir(e, b))
              if (hfs.exists(d)) hfs.getFileStatus(d).getModificationTime
              else manifestMtime
            case None => manifestMtime
          }
          t >= cutoff
        }
        var deleted = 0
        hfs.listStatus(new HPath(path))
          .filter(s => s.isDirectory && s.getPath.getName.matches("e\\d+"))
          .foreach { ed =>
            val e = ed.getPath.getName.drop(1).toInt
            if (e <= epoch) {
              hfs.listStatus(ed.getPath)
                .filter(s => s.isDirectory &&
                  s.getPath.getName.startsWith("__gbucket="))
                .foreach { bd =>
                  val b = bd.getPath.getName.stripPrefix("__gbucket=").toInt
                  if (!live((e, b)) && !supersededRecently(b)) {
                    hfs.delete(bd.getPath, true); deleted += 1
                  }
                }
              // drop the epoch dir once no bucket dirs remain (only
              // write markers like _SUCCESS — note bucket dirs also
              // start with "_", so test for them explicitly)
              if (!hfs.listStatus(ed.getPath)
                  .exists(_.getPath.getName.startsWith("__gbucket=")))
                hfs.delete(ed.getPath, true)
            }
          }
        deleted
    }
  }
}
