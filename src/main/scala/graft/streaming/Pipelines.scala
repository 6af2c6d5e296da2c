package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Named streaming-query registry — the engine's analog of the
  * reference's materialized views (T1, `CREATE MATERIALIZED VIEW ... TO`
  * `basic_example/clickhouse.sql:57-68`) with create-or-update
  * idempotency (O2, `basic_example/connect.txt:1-34`). */
class PipelineRegistry {
  private val queries = mutable.Map.empty[String, StreamingQuery]

  /** Start the pipeline if absent (idempotent bootstrap). */
  def startIfAbsent(name: String)(start: => StreamingQuery): StreamingQuery =
    synchronized {
      queries.get(name).filter(_.isActive).getOrElse {
        val q = start; queries(name) = q; q
      }
    }

  def get(name: String): Option[StreamingQuery] = synchronized(queries.get(name))
  def active: Seq[String] = synchronized(queries.filter(_._2.isActive).keys.toSeq)

  /** O3 clean-slate analog. */
  def stopAll(): Unit = synchronized {
    queries.values.filter(_.isActive).foreach(_.stop())
    queries.clear()
  }
}

/** Streaming sinks mirroring the reference's two landing layers. */
object Sinks {

  /** Default grace for sink-driven vacuums: superseded bucket copies
    * younger than this survive, so an out-of-process reader that
    * resolved the previous manifest (or holds an unexecuted read()
    * plan) finishes its scan instead of hitting FileNotFoundException.
    * Matches the retention discipline of ArchiveCompactor.expire and
    * Delta's `deletedFileRetentionDuration`; single-process tests and
    * storage-tight deployments can pass 0 explicitly. */
  val DefaultVacuumGraceMs: Long = 5 * 60 * 1000L

  /** L1 raw archive (S6 + S4 + S8 + T3 + F2): append raw values with
    * stream metadata and an ingestion timestamp to parquet, clustered
    * by (partition, offset) within files — the analog of
    * `transaction_details_raw_data` (`init_clickhouse_raw_tables.sql:28-48`).
    *
    * Exactly-once via the checkpoint + parquet sink's transactional
    * file manifest (an upgrade over the reference's at-least-once
    * consumer-group model, SURVEY §2.9). */
  def rawArchive(raw: DataFrame, path: String, checkpoint: String,
                 trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val projected = raw
      .where(col("value").isNotNull && col("value") =!= "")     // F2
      .withColumn("ingestion_time", current_timestamp())        // S8
    projected.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(trigger)
      .start()
  }

  /** L2 versioned-upsert sink (S7/W1): per micro-batch, last-writer-wins
    * MERGE of decoded change rows into a [[ParquetStateStore]] — the
    * eager, exact analog of `ReplacingMergeTree(ts_ms) ORDER BY id` +
    * `FINAL`. The batch goes to `store.merge` as is: the store unions
    * it with the prior rows of the hash buckets it touches and collapses
    * both together with Versioned.latestByKey, rewriting only those
    * buckets, so merge I/O is O(dirty-bucket bytes), not O(state). */
  def versionedUpsert(changes: DataFrame, store: ParquetStateStore,
                      checkpoint: String,
                      trigger: Trigger = Trigger.AvailableNow(),
                      vacuumEvery: Int = 16,
                      vacuumGraceMs: Long = DefaultVacuumGraceMs): StreamingQuery =
    changes.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        store.merge(batch)
        // reclaim superseded bucket files periodically so state storage
        // stays O(live state), not O(merge history); safe against
        // replayed batch ids (vacuum never touches the live snapshot).
        // Concurrent OUT-OF-PROCESS readers need vacuumGraceMs above
        // their longest scan (or vacuumEvery = 0 and offline vacuums):
        // with no grace a reader that resolved the previous manifest can
        // hit FileNotFoundException on a just-reclaimed bucket copy.
        if (vacuumEvery > 0 && batchId % vacuumEvery == vacuumEvery - 1) {
          store.vacuum(batch.sparkSession, vacuumGraceMs)
          ()
        }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Shared fenced-merge sink: pre-collapse each micro-batch, apply it
    * through the batch-id fence ([[ParquetStateStore.mergeOnce]]: a
    * replayed id applies nothing, an id BEHIND the fence — a checkpoint
    * reset against a live store — fails the query), vacuum
    * periodically. */
  private def fencedUpsert(changes: DataFrame, store: ParquetStateStore,
                           checkpoint: String, trigger: Trigger,
                           vacuumEvery: Int, vacuumGraceMs: Long)
                          (preCollapse: DataFrame => DataFrame): StreamingQuery =
    changes.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        store.mergeOnce(preCollapse(batch), batchId)
        if (vacuumEvery > 0 && batchId % vacuumEvery == vacuumEvery - 1) {
          store.vacuum(batch.sparkSession, vacuumGraceMs)
          ()
        }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Streaming sink for ADDITIVE state ([[SummingStateStore]], the
    * SummingMergeTree analog): every micro-batch is pre-collapsed
    * map-side and applied through the batch-id fence, so at-least-once
    * redelivery (crash between state swap and checkpoint commit)
    * cannot double-count. */
  def aggregatingUpsert(changes: DataFrame, store: SummingStateStore,
                        checkpoint: String,
                        trigger: Trigger = Trigger.AvailableNow(),
                        vacuumEvery: Int = 16,
                        vacuumGraceMs: Long = DefaultVacuumGraceMs): StreamingQuery =
    fencedUpsert(changes, store, checkpoint, trigger,
      vacuumEvery, vacuumGraceMs) { batch =>
      batch.groupBy(store.keys.map(col): _*)
        .agg(sum(col(store.sumCols.head)).as(store.sumCols.head),
          store.sumCols.tail.map(c => sum(col(c)).as(c)): _*)
    }

  /** Streaming sink for SKETCH state ([[SketchStateStore]], the
    * AggregatingMergeTree analog): each `(rawCol -> sketchCol)` pair
    * is sketched per key within the batch (`hll_sketch_agg`), then
    * union-merged into the store through the same fence. */
  def sketchUpsert(changes: DataFrame, store: SketchStateStore,
                   valueCols: Seq[(String, String)],
                   checkpoint: String,
                   trigger: Trigger = Trigger.AvailableNow(),
                   vacuumEvery: Int = 16,
                   vacuumGraceMs: Long = DefaultVacuumGraceMs): StreamingQuery = {
    require(valueCols.map(_._2).toSet == store.sketchCols.toSet,
      s"valueCols targets ${valueCols.map(_._2)} but the store holds ${store.sketchCols}")
    fencedUpsert(changes, store, checkpoint, trigger,
      vacuumEvery, vacuumGraceMs) { batch =>
      val aggs = valueCols.map { case (raw, sk) =>
        hll_sketch_agg(col(raw)).as(sk) }
      batch.groupBy(store.keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    }
  }
}
