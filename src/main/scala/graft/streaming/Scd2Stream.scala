package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Versioned

/** Streaming SCD Type-2: incrementally replay a per-key-ordered change
  * stream into (a) an append-only HISTORY of closed validity intervals
  * and (b) the open intervals, kept in a [[ParquetStateStore]] — the
  * history-table counterpart of [[Sinks.versionedUpsert]]'s
  * current-state view, and the streaming form of
  * [[Versioned.scd2History]] (which also computes each batch's
  * intervals, so the semantics live in exactly one place).
  *
  * Differential contract (spec'd): after any prefix of micro-batches,
  * `history ∪ open` row-for-row equals the BATCH
  * `Versioned.scd2History` over the concatenation of those batches.
  *
  * Exactly-once mechanics: each batch's closed intervals land in an
  * idempotent per-batch directory (`batch=<id>`, overwritten verbatim
  * on replay) BEFORE the open-interval state merges through the store's
  * batch-id fence — a crash between the two replays the batch, which
  * rewrites identical history bytes and then applies the state exactly
  * once. A batch id BEHIND the fence means a checkpoint was reset
  * against a live store; that fails loudly (silently skipping would
  * drop differently-chunked new data).
  *
  * Ordering contract: events must arrive per-key ordered across batches
  * (the Debezium/Kafka key-partition guarantee, SURVEY §2.9). Within a
  * batch any order is fine — the per-key sort handles it. Same-instant
  * changes need a tie-break column (e.g. `lsn`) in `orderCols`, exactly
  * as in the batch operator. A cross-batch late event would need
  * interval splitting, which no incremental SCD2 supports; replay the
  * archive through the batch operator instead.
  *
  * Scale shape: the open state is probed with a semi-join on the
  * batch's keys, so only those rows enter the timeline window and only
  * their buckets rewrite on merge — per-batch cost is O(batch), never
  * O(history) or O(state). */
object Scd2Stream {

  /** Open-interval state store for `keyCols` rows versioned by
    * `orderCols` — deletes tombstone the key so a later out-of-order
    * replay cannot resurrect it. */
  def openStore(path: String, keyCols: Seq[String],
                orderCols: Seq[String], buckets: Int = 32): ParquetStateStore =
    new ParquetStateStore(path, keyCols, orderCols,
      deletedCol = Some("__deleted"), buckets = buckets)

  /** Apply one micro-batch. `batch` columns: keys ++ payload ++
    * (orderCols, opCol). Public for direct batch-mode use and specs. */
  def applyBatch(batch: DataFrame, batchId: Long, state: ParquetStateStore,
                 historyDir: String, keyCols: Seq[String],
                 orderCols: Seq[String], opCol: String,
                 deleteOp: String = "d"): Unit = {
    val spark = batch.sparkSession
    val dataCols = batch.columns.toSeq
    require(orderCols.nonEmpty &&
      (keyCols ++ orderCols :+ opCol).forall(dataCols.contains),
      s"batch schema ${dataCols.mkString(",")} must carry keys, order, op")

    // batch-level fence FIRST: a replay of a fully-applied batch must
    // not recompute history against post-merge state (it would see its
    // own events as open intervals and emit spurious zero-length rows).
    // History is written before the state merge, so a fenced id always
    // has its history on disk already. An id BEHIND the fence is a
    // checkpoint reset against a live store and throws (Manifest.fence).
    if (!Manifest.fence(state.lastBatchId(spark).getOrElse(-1L), batchId,
        state.path)) return

    // open intervals for the batch's keys re-enter the timeline as
    // pseudo-events at their valid_from; untouched keys never load (the
    // semi-join keeps the read O(batch) and their buckets clean);
    // tombstoned keys stay hidden (a fresh event re-opens)
    val batchKeys = batch.select(keyCols.map(col): _*).distinct()
    val open = state.read(spark)
      .filter(_.columns.nonEmpty) // a fresh store may read as zero-column
      .map(_.select(dataCols.map(col): _*)
        .join(batchKeys, keyCols, "left_semi"))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        batch.schema))
    // (key, order) duplicates collapse to one row: an at-least-once
    // source redelivering an event the state already holds is content-
    // identical per the ordering contract, and keeping both would emit
    // a zero-length interval
    val all = open.unionByName(batch)
      .dropDuplicates(keyCols ++ orderCols)

    // the batch operator computes this batch's intervals (one source of
    // truth for the lead-window semantics); only the CLOSED rows land
    // in history — open ones live in the state store until a successor
    // or delete closes them
    val closed = Versioned
      .scd2History(all, keyCols, orderCols, opCol, deleteOp)
      .where(col("valid_to").isNotNull)
      .drop("is_current")
    closed.write.mode("overwrite").parquet(s"$historyDir/batch=$batchId")

    // new open state: the last event per key — deletes become
    // tombstones, survivors carry their own orderCols as valid_from
    val last = Versioned.latestByKey(all, keyCols, orderCols.map(col))
      .withColumn("__deleted", col(opCol) === deleteOp)
    state.mergeOnce(last, batchId)
    ()
  }

  /** The streaming sink: foreachBatch over [[applyBatch]]. */
  def sink(changes: DataFrame, state: ParquetStateStore, historyDir: String,
           keyCols: Seq[String], orderCols: Seq[String], opCol: String,
           checkpoint: String, deleteOp: String = "d",
           trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    changes.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, state, historyDir, keyCols, orderCols,
          opCol, deleteOp)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** All closed intervals; None only when no history has landed yet.
    * Read errors (corrupt footer, permissions) propagate — mapping
    * them to None would silently truncate the SCD2 view. */
  def readHistory(spark: SparkSession, historyDir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(historyDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) Some(spark.read.parquet(historyDir)) else None
  }

  /** The full SCD2 view: closed history plus open intervals
    * (`valid_to` null, `is_current` true). */
  def fullHistory(spark: SparkSession, state: ParquetStateStore,
                  historyDir: String, orderCols: Seq[String]): Option[DataFrame] = {
    val openIv = state.read(spark).map { df =>
      df.withColumn("valid_from", col(orderCols.head))
        .withColumn("valid_to",
          lit(null).cast(df.schema(orderCols.head).dataType))
        .withColumn("is_current", lit(true))
    }
    val closedIv = readHistory(spark, historyDir)
      .map(_.drop("batch").withColumn("is_current", lit(false)))
    (closedIv, openIv) match {
      case (Some(c), Some(o)) => Some(c.unionByName(o, allowMissingColumns = true))
      case (c, o) => c.orElse(o)
    }
  }
}
