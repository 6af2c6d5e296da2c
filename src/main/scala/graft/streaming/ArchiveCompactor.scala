package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Background small-file compaction for the L1 raw archive — the Spark
  * rendering of ClickHouse's background part merges (the reference's
  * MergeTree tables, `basic_example/clickhouse.sql:28-55`, compact
  * inserted parts continuously; a Structured Streaming parquet sink
  * instead accumulates one small file per micro-batch per partition
  * forever).
  *
  * The streaming sink's `_spark_metadata` transaction log is the sink's
  * exactly-once commit record; rewriting or deleting files under it in
  * place corrupts the log-driven batch read. So compaction NEVER mutates
  * the sink directory's metadata: folded data lands in a sibling
  * `compactPath` as clustered, target-sized parts (`p{N}/`), and a
  * manifest file records which parts exist and which source files they
  * supersede. The manifest swap is the one atomic rename every store
  * shares ([[Manifest]]): readers always see a complete snapshot, and
  * the stream keeps appending to the archive throughout.
  *
  * Read path: [[read]] = all live parts ∪ the uncompacted tail (source
  * files not yet superseded, read as an explicit file list so the sink
  * log is bypassed). Only committed files are ever considered — the
  * candidate listing comes from the sink log itself, which never lists
  * half-written files.
  *
  * Storage reclaim: [[expire]] physically deletes superseded source
  * files (and unreferenced part directories) older than a grace period
  * — the Delta/Iceberg VACUUM analog. After expiry, readers must go
  * through [[read]] (or equivalent manifest-aware logic); the raw
  * sink-log read would reference deleted files, the same contract break
  * Delta VACUUM imposes on time travel.
  *
  * Scale: driver work is O(#files) name/size metadata (on a cluster the
  * sizes come straight from the sink-log entries, no per-file RPC
  * needed); data I/O per run is only the small files folded, written
  * back as `ceil(bytes / targetBytes)` files sorted by `clusterCols`
  * within each file — scan-efficient row-group clustering, the same
  * reason the reference orders its raw tables by (partition, offset)
  * (`init_clickhouse_raw_tables.sql:44-46`).
  */
class ArchiveCompactor(
    val archivePath: String,
    val compactPath: String,
    val clusterCols: Seq[String] = Nil,
    val targetBytes: Long = 128L << 20) extends Serializable {
  require(targetBytes > 0, "targetBytes must be positive")

  private def pointer = new HPath(compactPath, "_COMPACTED")

  private def fs(spark: SparkSession): FileSystem =
    new HPath(compactPath).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `_COMPACTED`: first line the epoch, then `p <partDir>` and
    * `f <supersededSourceFile>` lines. */
  private case class Compacted(epoch: Int, parts: Seq[String], covered: Set[String])

  private def readManifest(hfs: FileSystem): Option[Compacted] =
    Manifest.read(hfs, pointer).map { lines =>
      val parts = lines.tail.collect { case l if l.startsWith("p ") => l.drop(2) }
      val covered = lines.tail.collect { case l if l.startsWith("f ") => l.drop(2) }
      Compacted(lines.head.trim.toInt, parts, covered.toSet)
    }

  private def writeManifest(hfs: FileSystem, m: Compacted): Unit =
    Manifest.swap(hfs, pointer, m.epoch.toString +:
      (m.parts.map("p " + _) ++ m.covered.toSeq.sorted.map("f " + _)))

  private def partDir(name: String) = s"$compactPath/$name"

  /** Committed archive data files, via the sink's own transaction log
    * when present (a plain directory listing otherwise). Passing the
    * schema skips footer inference, so this stays metadata-only even
    * when superseded files have already been expired. */
  private def committedFiles(spark: SparkSession,
                             schema: Option[org.apache.spark.sql.types.StructType]) = {
    val reader = schema.fold(spark.read)(spark.read.schema)
    reader.parquet(archivePath).inputFiles.toSeq
  }

  /** Fold committed source files smaller than `smallBytes` (and not yet
    * superseded) into a new clustered part. No-op below `minFiles`
    * candidates — a merge that rewrites one file reclaims nothing.
    * Returns the number of source files folded.
    *
    * Crash-safe: the part directory is fully written before the
    * manifest swap; a crash in between leaves an unreferenced directory
    * that the next run overwrites (same epoch, overwrite mode) and
    * [[expire]] can reclaim. */
  def compact(spark: SparkSession, smallBytes: Long = 32L << 20,
              minFiles: Int = 2): Int = synchronized {
    val hfs = fs(spark)
    val prev = readManifest(hfs)
    val partSchema = prev.filter(_.parts.nonEmpty)
      .map(m => spark.read.parquet(partDir(m.parts.head)).schema)
    val covered = prev.fold(Set.empty[String])(_.covered)

    val candidates = committedFiles(spark, partSchema)
      .filter(f => !covered(new HPath(f).getName))
    val sized = candidates.flatMap { f =>
      val p = new HPath(f)
      if (hfs.exists(p)) Some(f -> hfs.getFileStatus(p).getLen) else None
    }
    val small = sized.filter(_._2 < smallBytes)
    if (small.size < minFiles) return 0

    val epoch = prev.fold(0)(_.epoch + 1)
    val totalBytes = small.map(_._2).sum
    val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val df = spark.read.parquet(small.map(_._1): _*).repartition(nOut)
    val clustered =
      if (clusterCols.isEmpty) df
      else df.sortWithinPartitions(clusterCols.head, clusterCols.tail: _*)
    clustered.write.mode("overwrite").parquet(partDir(s"p$epoch"))

    writeManifest(hfs, Compacted(epoch,
      prev.fold(Seq.empty[String])(_.parts) :+ s"p$epoch",
      covered ++ small.map(s => new HPath(s._1).getName)))
    small.size
  }

  /** Merge ALL live parts into one fresh clustered part (the analog of
    * ClickHouse merging small parts into larger ones over time) so part
    * count stays bounded across many compaction runs. Old part dirs are
    * left for [[expire]] — readers holding the previous manifest may
    * still be scanning them. */
  def mergeParts(spark: SparkSession): Unit = synchronized {
    val hfs = fs(spark)
    readManifest(hfs).filter(_.parts.size > 1).foreach { m =>
      val epoch = m.epoch + 1
      val df = spark.read.parquet(m.parts.map(partDir): _*)
      val totalBytes = m.parts.flatMap { p =>
        val hp = new HPath(partDir(p))
        if (hfs.exists(hp)) Some(hfs.getContentSummary(hp).getLength) else None
      }.sum
      val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
      val merged = df.repartition(nOut)
      val clustered =
        if (clusterCols.isEmpty) merged
        else merged.sortWithinPartitions(clusterCols.head, clusterCols.tail: _*)
      clustered.write.mode("overwrite").parquet(partDir(s"p$epoch"))
      writeManifest(hfs, Compacted(epoch, Seq(s"p$epoch"), m.covered))
    }
  }

  /** The compacted view of the archive: live parts ∪ uncompacted tail.
    * Identical row multiset to the raw archive (compaction only moves
    * bytes); with no manifest yet it IS the raw archive read. */
  def read(spark: SparkSession): DataFrame =
    readManifest(fs(spark)) match {
      case None => spark.read.parquet(archivePath)
      case Some(m) =>
        val parts = spark.read.parquet(m.parts.map(partDir): _*)
        val tail = committedFiles(spark, Some(parts.schema))
          .filter(f => !m.covered(new HPath(f).getName))
        if (tail.isEmpty) parts
        else parts.unionByName(spark.read.schema(parts.schema).parquet(tail: _*))
    }

  /** Physically delete superseded source files and unreferenced part
    * directories whose modification time is older than `graceMs` — the
    * VACUUM analog. The grace period protects readers that resolved the
    * previous manifest and are still scanning. Returns the number of
    * paths deleted. */
  def expire(spark: SparkSession, graceMs: Long = 0L): Int = synchronized {
    val hfs = fs(spark)
    readManifest(hfs).fold(0) { m =>
      val cutoff = System.currentTimeMillis() - graceMs
      var deleted = 0
      m.covered.foreach { name =>
        val p = new HPath(archivePath, name)
        if (hfs.exists(p) && hfs.getFileStatus(p).getModificationTime < cutoff) {
          hfs.delete(p, false); deleted += 1
        }
      }
      val live = m.parts.toSet
      hfs.listStatus(new HPath(compactPath))
        .filter(s => s.isDirectory && s.getPath.getName.matches("p\\d+") &&
          !live(s.getPath.getName) &&
          s.getPath.getName.drop(1).toInt <= m.epoch &&
          s.getModificationTime < cutoff)
        .foreach { s => hfs.delete(s.getPath, true); deleted += 1 }
      deleted
    }
  }
}
