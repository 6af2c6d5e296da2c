package graft.streaming

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileSystem, Options, Path => HPath}

/** The commit point every file-backed store shares: a small text pointer
  * (`_CURRENT`, `_COMPACTED`, `_COMMITTED`) naming the data a reader may
  * see, replaced whole by one atomic swap, plus the batch-id fence the
  * fenced stores keep in it. Data is always written before the swap, so
  * a crash leaves the previous snapshot intact and the new data as
  * invisible orphans. Each store owns its line format; this object owns
  * the two rules they share.
  *
  * Swap: the new lines go to `<pointer>.tmp`, then one rename replaces
  * the pointer. On a `ChecksumFileSystem` (the local filesystem) reads
  * and writes both go to the raw filesystem: its rename is one
  * `rename(2)`, which replaces the target atomically, and no `.crc`
  * sidecar can go stale (the checksummed `rename` returns false over an
  * existing target, and `FileContext.rename(OVERWRITE)` deletes the
  * target first there). Only a rename that refuses because the target
  * exists (HDFS) falls back to `FileContext.rename(OVERWRITE)`, which
  * HDFS performs atomically. No branch deletes the live pointer: a
  * reader always finds either the old or the new version.
  *
  * Fence: a fresh batch id (above the recorded one) applies; the
  * recorded id is a replay and applies nothing; an id behind it means
  * the checkpoint was reset against a live store and throws, because
  * skipping it would silently drop differently-chunked new data. */
private[streaming] object Manifest {

  private def raw(fs: FileSystem): FileSystem = fs match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  /** The pointer's non-empty lines; None when no pointer exists. */
  def read(fs: FileSystem, pointer: HPath): Option[Seq[String]] = {
    val in = try raw(fs).open(pointer) catch {
      case _: FileNotFoundException => return None
    }
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    Some(text.linesIterator.filter(_.nonEmpty).toSeq)
  }

  /** Atomically replace the pointer's content with `lines`. */
  def swap(fs: FileSystem, pointer: HPath, lines: Seq[String]): Unit = {
    val rfs = raw(fs)
    val tmp = pointer.suffix(".tmp")
    val out = rfs.create(tmp, true)
    try out.write(lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!rfs.rename(tmp, pointer)) {
      require(rfs.exists(pointer), s"manifest swap failed for $pointer")
      FileContext.getFileContext(rfs.getUri, rfs.getConf)
        .rename(tmp, pointer, Options.Rename.OVERWRITE)
    }
    // a pointer written through the checksummed filesystem left a
    // sidecar that no longer matches; drop it so no reader trips on it
    fs match {
      case c: ChecksumFileSystem => rfs.delete(c.getChecksumFile(pointer), false)
      case _ => ()
    }
  }

  /** Whether `batchId` applies against the recorded fence `last`
    * (-1 when none): true when fresh, false for a replay of `last`;
    * throws when it is behind. */
  def fence(last: Long, batchId: Long, store: String): Boolean = {
    require(batchId >= last,
      s"batch id $batchId is behind the store fence $last for $store — " +
        "the checkpoint was reset against a live store; refusing to " +
        "silently drop batches")
    batchId > last
  }
}
