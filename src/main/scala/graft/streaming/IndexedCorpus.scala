package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Admission-gated corpus with a MATERIALIZED shingle index — the
  * scale path for [[AdmissionGate]]: instead of re-deriving the
  * corpus's inverted index (a full scan + shingle explode) on every
  * micro-batch, the postings land ONCE, when a document is admitted,
  * and every later batch probes only the index buckets its own
  * shingles hash into.
  *
  * Layout and commit protocol (the manifest discipline of
  * [[ParquetStateStore]], applied to two co-committed appendices):
  *
  *  - `path/docs/b{N}/`      admitted documents of batch N
  *  - `path/postings/b{N}/`  their (id, n, shingle, __sbucket) postings,
  *                           partitioned by `__sbucket =
  *                           pmod(xxhash64(shingle), buckets)`
  *  - `path/_COMMITTED`      header `lastBatchId`, then one committed
  *                           batch id per line — swapped atomically
  *
  * A batch's docs and postings become visible in the SAME atomic
  * manifest swap, so the index can never disagree with the corpus:
  * a crash after data writes but before the swap leaves invisible
  * orphan dirs that the replay overwrites. The recorded batch id
  * fences replays outright (at-least-once delivery → exactly-once
  * admission) — stronger than the direct-scan gate, which relies on
  * self-matching to mask replays.
  *
  * Probe-side pruning: postings are hash-partitioned on `__sbucket`,
  * and [[admit]] restricts the index read to the buckets present in
  * the batch (a metadata-sized driver action, like the state store's
  * dirty-bucket listing) — partition pruning then skips every other
  * bucket's files. A batch whose shingles touch k of B buckets reads
  * ~k/B of the index regardless of corpus size; the join itself stays
  * the O(batch × touched-postings) inverted-index equi-join. */
class IndexedCorpus(
    val path: String,
    val idCol: String = "doc_id",
    val textCol: String = "text",
    val shingleK: Int = 3,
    val buckets: Int = 32) extends Serializable {
  require(buckets > 0, "buckets must be positive")

  private def pointer = new HPath(path, "_COMMITTED")
  private def fs(spark: SparkSession): FileSystem =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def docsDir(b: Long) = s"$path/docs/b$b"
  // partition-form name: with basePath, discovery reads `batch` and
  // `__sbucket` as partition columns of one two-level tree
  private def postingsDir(b: Long) = s"$path/postings/batch=$b"

  private def readManifest(fs: FileSystem) = IndexedCorpus.readCommitted(fs, pointer)

  private def writeManifest(fs: FileSystem, last: Long, ids: Seq[Long]): Unit =
    IndexedCorpus.writeCommitted(fs, pointer, last, ids)

  /** Highest committed batch id (fence), -1 when empty. */
  def lastBatchId(spark: SparkSession): Long = readManifest(fs(spark))._1

  /** Committed documents. */
  def readDocs(spark: SparkSession): Option[DataFrame] = {
    val ids = readManifest(fs(spark))._2
    if (ids.isEmpty) None
    else Some(spark.read.option("mergeSchema", "true")
      .parquet(ids.sorted.map(docsDir): _*))
  }

  /** Committed postings (id, n, shingle, __sbucket). */
  def readPostings(spark: SparkSession): Option[DataFrame] = {
    val ids = readManifest(fs(spark))._2
    if (ids.isEmpty) None
    // basePath: each batch dir is partition-structured (__sbucket=N);
    // without a common root Spark rejects the union of partition trees
    else Some(spark.read.option("basePath", s"$path/postings")
      .parquet(ids.sorted.map(postingsDir): _*).drop("batch"))
  }

  private def bucketOf(shingle: org.apache.spark.sql.Column) =
    pmod(xxhash64(shingle), lit(buckets.toLong)).cast("int")

  /** Postings of `docs`: (id, n, shingle, __sbucket), clustered so each
    * task writes at most `buckets` files. */
  private def postingsOf(docs: DataFrame): DataFrame =
    Dedup.shingleIndex(docs, idCol, textCol, shingleK)
      .withColumn("__sbucket", bucketOf(col("shingle")))

  /** Admit one batch: self-dedup, reject near-dups of committed docs
    * (probing only the index buckets the batch touches), then commit
    * the survivors' docs AND postings in one atomic manifest swap.
    * Returns the admitted rows; the fenced batch id is a replay and
    * admits nothing, and an id behind it throws ([[Manifest.fence]]).
    * Batch ids must be monotone (the foreachBatch contract). */
  def admit(batch: DataFrame, batchId: Long,
            threshold: Double = 0.5): DataFrame = synchronized {
    val spark = batch.sparkSession
    val hfs = fs(spark)
    val (last, committed) = readManifest(hfs)
    if (!Manifest.fence(last, batchId, path)) return batch.limit(0)

    val pairs = Dedup.jaccardPairs(batch, idCol, textCol, shingleK, threshold)
    val selfDeduped = Dedup.keepOnePerCluster(batch, pairs, idCol)
    val batchPost = postingsOf(selfDeduped)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val admitted = (readPostings(spark) match {
      case Some(index) if committed.nonEmpty =>
        // metadata-sized driver action: ≤ `buckets` distinct values
        val touched = batchPost.select("__sbucket").distinct()
          .collect().map(_.getInt(0))
        val pruned = index.where(col("__sbucket").isin(touched.map(Integer.valueOf): _*))
        val dups = batchPost.as("x")
          .join(pruned.as("y"), Seq("__sbucket", "shingle"))
          .groupBy(col("x.id").as("batch_id"), col("y.id").as("corpus_id"))
          .agg(count(lit(1)).as("inter"),
            first(col("x.n")).as("n_a"), first(col("y.n")).as("n_b"))
          .where(col("inter").cast("double") /
            (col("n_a") + col("n_b") - col("inter")).cast("double") >= threshold)
          .select(col("batch_id").as(idCol)).distinct()
        selfDeduped.join(dups, Seq(idCol), "left_anti")
      case _ => selfDeduped
    }).localCheckpoint() // break file-source lineage before we append

    // data first, commit last: orphans from a crash are invisible and
    // overwritten by the replay (mode=overwrite), never double-counted.
    // An all-duplicates batch advances the fence without adding a dir
    // (an empty parquet dir has no footer to read schema from).
    if (admitted.head(1).nonEmpty) {
      admitted.write.mode("overwrite").parquet(docsDir(batchId))
      postingsOf(admitted)
        .repartition(col("__sbucket"))
        .write.mode("overwrite").partitionBy("__sbucket")
        .parquet(postingsDir(batchId))
      batchPost.unpersist()
      writeManifest(hfs, batchId, committed :+ batchId)
    } else {
      batchPost.unpersist()
      writeManifest(hfs, batchId, committed)
    }
    admitted
  }
}

private[streaming] object IndexedCorpus {
  /** `_COMMITTED`, shared with [[IndexedVectorCorpus]]: the fence on the
    * first line, then one committed batch id per line. (-1, Nil) when
    * no pointer exists. */
  def readCommitted(fs: FileSystem, pointer: HPath): (Long, Seq[Long]) =
    Manifest.read(fs, pointer).fold((-1L, Seq.empty[Long])) { lines =>
      (lines.head.trim.toLong, lines.tail.map(_.trim.toLong))
    }

  def writeCommitted(fs: FileSystem, pointer: HPath, last: Long,
                     ids: Seq[Long]): Unit =
    Manifest.swap(fs, pointer, (last +: ids).map(_.toString))
}
