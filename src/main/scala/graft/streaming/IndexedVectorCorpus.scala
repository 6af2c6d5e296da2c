package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.{VectorFunctions => VF}
import graft.sim.Similarity

/** Admission-gated EMBEDDING corpus with a MATERIALIZED LSH signature
  * index — the scale path for [[EmbeddingAdmission]], exactly as
  * [[IndexedCorpus]] is for [[AdmissionGate]]: instead of re-scanning
  * the corpus and recomputing `tables × bits` hyperplane cosines per
  * vector on every micro-batch, the signatures land ONCE when a vector
  * is admitted, and each batch probes only the signature partitions its
  * own buckets hash into.
  *
  * Layout and commit protocol (the [[IndexedCorpus]] discipline over
  * one atomically swapped [[Manifest]]):
  *
  *  - `path/vecs/b{N}/`        admitted vectors of batch N
  *  - `path/sigs/batch=N/`     their (id, table, bucket, __vbucket)
  *                             signature rows, partitioned by
  *                             `__vbucket = pmod(xxhash64(table,
  *                             bucket), buckets)`
  *  - `path/_COMMITTED`        fence + committed batch ids, swapped
  *                             atomically
  *
  * Vectors and signatures become visible in the SAME manifest swap, so
  * the index can never disagree with the corpus; the fence turns
  * at-least-once redelivery into exactly-once admission (stronger than
  * the direct-scan gate's self-match masking).
  *
  * Probe shape at scale: signature rows are NARROW (two longs + a short
  * string — the vector is NOT duplicated per table), so the index is
  * O(n·tables) small rows; a batch touching k of `buckets` partitions
  * reads ~k/buckets of it. Rescoring joins the candidate corpus ids
  * back to their vectors — the only wide read, proportional to
  * candidates, not corpus. The hyperplanes are the same seeded set as
  * [[Similarity.nearDupPairs]]/[[Similarity.crossNearDupPairs]], so the
  * indexed gate admits exactly what the direct-scan gate admits
  * (differentially tested). */
class IndexedVectorCorpus(
    val path: String,
    val idCol: String = "vec_id",
    val vecCol: String = "embedding",
    val bits: Int = 4,
    val tables: Int = 8,
    val buckets: Int = 32,
    val seed: Long = Similarity.BandSeed) extends Serializable {
  require(buckets > 0, "buckets must be positive")
  require(tables > 0, "tables must be positive")

  private def pointer = new HPath(path, "_COMMITTED")
  private def fs(spark: SparkSession): FileSystem =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def vecsDir(b: Long) = s"$path/vecs/b$b"
  private def sigsDir(b: Long) = s"$path/sigs/batch=$b"

  private def readManifest(fs: FileSystem) = IndexedCorpus.readCommitted(fs, pointer)

  private def writeManifest(fs: FileSystem, last: Long, ids: Seq[Long]): Unit =
    IndexedCorpus.writeCommitted(fs, pointer, last, ids)

  /** Highest committed batch id (fence), -1 when empty. */
  def lastBatchId(spark: SparkSession): Long = readManifest(fs(spark))._1

  /** Committed vectors. */
  def readVecs(spark: SparkSession): Option[DataFrame] =
    vecsFrom(spark, readManifest(fs(spark))._2)

  // manifest-free forms: admit() reads the pointer once per batch and
  // threads the committed ids through (the single-writer protocol means
  // it cannot change inside the synchronized block — re-reading would
  // just add metadata round trips on the streaming hot path)
  private def vecsFrom(spark: SparkSession, ids: Seq[Long]): Option[DataFrame] =
    if (ids.isEmpty) None
    else Some(spark.read.option("mergeSchema", "true")
      .parquet(ids.sorted.map(vecsDir): _*))

  private def sigsFrom(spark: SparkSession, ids: Seq[Long]): Option[DataFrame] =
    if (ids.isEmpty) None
    else Some(spark.read.option("basePath", s"$path/sigs")
      .parquet(ids.sorted.map(sigsDir): _*).drop("batch"))

  /** Narrow signature rows of `vecs`: (id, table, bucket, __vbucket),
    * one per (vector, table) — the vector itself is consumed by the
    * bucket projection and not carried. The banding comes from
    * [[Similarity.bandedBuckets]], the SAME schedule the direct-scan
    * gate uses — the source of the indexed ≡ direct equivalence. */
  private def sigsOf(vecs: DataFrame): DataFrame =
    Similarity.bandedBuckets(vecs, idCol, vecCol, "id", None, bits, tables, seed)
      .withColumn("__vbucket",
        pmod(xxhash64(col("table"), col("bucket")), lit(buckets.toLong))
          .cast("int"))

  /** Admit one batch: self-collapse (LSH pairs → components → min-id
    * representative), reject near-dups of committed vectors probing
    * only touched index partitions, then commit survivors' vectors AND
    * signatures in one atomic manifest swap. Returns the admitted rows;
    * the fenced batch id is a replay and admits nothing, and an id
    * behind it throws ([[Manifest.fence]]). Batch ids must be monotone
    * (the foreachBatch contract). */
  def admit(batch: DataFrame, batchId: Long,
            threshold: Double = 0.9): DataFrame = synchronized {
    val spark = batch.sparkSession
    val hfs = fs(spark)
    val (last, committed) = readManifest(hfs)
    if (!Manifest.fence(last, batchId, path)) return batch.limit(0)

    val pairs = Similarity.nearDupPairs(batch, threshold, bits, tables,
      idCol, vecCol)
    val selfDeduped = Dedup.keepOnePerCluster(batch, pairs, idCol)
    val batchSigs = sigsOf(selfDeduped)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val admitted = (sigsFrom(spark, committed) match {
      case Some(index) if committed.nonEmpty =>
        // metadata-sized driver action: ≤ `buckets` distinct values —
        // partition pruning then skips every other bucket's files
        val touched = batchSigs.select("__vbucket").distinct()
          .collect().map(_.getInt(0))
        val pruned = index
          .where(col("__vbucket").isin(touched.map(Integer.valueOf): _*))
        val cand = batchSigs.select(col("id").as("batch_id"),
            col("table"), col("bucket"), col("__vbucket"))
          .join(pruned.select(col("id").as("corpus_id"), col("table"),
            col("bucket"), col("__vbucket")),
            Seq("__vbucket", "table", "bucket"))
          .select("batch_id", "corpus_id")
          .dropDuplicates("batch_id", "corpus_id")
        // the only wide read: candidate corpus ids re-join their
        // vectors; the batch side is broadcast-small by contract
        val dups = cand
          .join(vecsFrom(spark, committed).get.select(col(idCol).as("corpus_id"),
            col(vecCol).as("cv")), Seq("corpus_id"))
          .join(broadcast(selfDeduped.select(col(idCol).as("batch_id"),
            col(vecCol).as("bv"))), Seq("batch_id"))
          .where(VF.cosine(col("bv"), col("cv")) >= threshold)
          .select(col("batch_id").as(idCol)).distinct()
        selfDeduped.join(dups, Seq(idCol), "left_anti")
      case _ => selfDeduped
    }).localCheckpoint() // break file-source lineage before we append

    // data first, commit last: orphans from a crash are invisible and
    // overwritten by the replay, never double-counted
    if (admitted.head(1).nonEmpty) {
      admitted.write.mode("overwrite").parquet(vecsDir(batchId))
      sigsOf(admitted)
        .repartition(col("__vbucket"))
        .write.mode("overwrite").partitionBy("__vbucket")
        .parquet(sigsDir(batchId))
      batchSigs.unpersist()
      writeManifest(hfs, batchId, committed :+ batchId)
    } else {
      batchSigs.unpersist()
      writeManifest(hfs, batchId, committed)
    }
    admitted
  }
}
