package graft

import java.io.IOException
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

/** Hadoop-FileSystem coordination shared by the maintained views'
  * snapshot protocol ([[VersionedState]]), the kv streaming sink's
  * high-water mark, and the kv DSv2 connector's manifest IO.
  *
  * All snapshot/manifest coordination resolves the warehouse path's OWN
  * FileSystem — HDFS, S3A, or local — exactly like the parquet data the
  * sinks write next to it; `java.nio` (the pre-r7 implementation) would
  * silently see an empty directory on any non-local scheme, so every
  * "incrementally maintained" claim only held on a single machine.
  * Pattern follows KVDeltaStore/KVStoreManager, which already speak
  * hadoop.fs.
  *
  * The atomic piece here is FileContext's overwrite-rename for small
  * marker files (atomic on HDFS and posix; best-effort copy-replace on
  * stores without rename).
  */
object GraftFs {

  private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  def fs(dir: String, conf: Configuration): FileSystem =
    new Path(dir).getFileSystem(conf)

  /** Child path under `dir`, scheme-preserving (Paths.get mangles
    * `scheme://` prefixes). */
  def child(dir: String, name: String): String = new Path(dir, name).toString

  def exists(conf: Configuration, p: String): Boolean = {
    val path = new Path(p)
    path.getFileSystem(conf).exists(path)
  }

  /** Read a small text file. If `p` is absent but the non-atomic
    * replace's `.<name>.old` backup survives (a crash landed between
    * moving the old file aside and swinging the new one in —
    * [[writeTextAtomic]]'s fallback window), the backup's CONTENT is
    * served, so kv-manifest recovery is automatic instead of manual.
    * Deliberately read-only: renaming the backup back from the READ
    * path would race a concurrent fallback-scheme writer mid-replace
    * (its rename(tmp, path) would find the destination re-occupied and
    * its own bak already consumed — a previously-succeeding write
    * would fail). The next writeTextAtomic replaces the file and drops
    * the backup anyway. */
  def readText(conf: Configuration, p: String): Option[String] = {
    val path = new Path(p)
    val f = path.getFileSystem(conf)
    val target =
      if (f.exists(path)) Some(path)
      else {
        val bak = new Path(path.getParent, s".${path.getName}.old")
        if (f.exists(bak)) {
          logger.warn(
            s"GraftFs: $path missing but backup $bak exists " +
              "(crash mid-replace); serving the backup's content")
          Some(bak)
        } else None
      }
    target.map { t =>
      val in = f.open(t)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        new String(bytes.toByteArray, StandardCharsets.UTF_8)
      } finally in.close()
    }
  }

  /** Write a small text file and move it into place with FileContext's
    * overwrite-rename — atomic on HDFS/posix, so a concurrent reader
    * sees either the old or the new content, never a torn file. */
  def writeTextAtomic(conf: Configuration, p: String, content: String): Unit = {
    val path = new Path(p)
    val f = path.getFileSystem(conf)
    val parent = path.getParent
    f.mkdirs(parent)
    val tmp = new Path(parent, s".${path.getName}.tmp")
    val out = f.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
    try {
      val fc = FileContext.getFileContext(path.toUri, conf)
      fc.rename(tmp, path, Options.Rename.OVERWRITE)
    } catch { case e: IOException =>
      // schemes without a FileContext binding or an atomic rename
      // (object stores, custom FS impls): non-atomic replace, but keep
      // the previous content recoverable — move it ASIDE (never delete
      // first), swing the new file in, then drop the backup. A crash in
      // the window leaves `.<name>.old` on disk instead of nothing,
      // which for the kv manifest means every committed segment stays
      // reachable by restoring the backup.
      logger.warn(
        s"GraftFs: atomic rename unavailable for $path " +
          s"(${e.getMessage}); using backup-then-rename replace")
      val bak = new Path(parent, s".${path.getName}.old")
      f.delete(bak, false)
      val hadOld = f.exists(path)
      if (hadOld && !f.rename(path, bak))
        throw new IOException(s"moving $path aside to $bak failed", e)
      if (!f.rename(tmp, path)) {
        if (hadOld && !f.rename(bak, path)) // restore; best effort
          logger.warn(s"GraftFs: restore of $bak to $path failed " +
            "after replace failure; readText serves the backup")
        throw new IOException(s"replacing $path via $tmp failed", e)
      }
      if (hadOld) f.delete(bak, false)
    }
  }

  def delete(conf: Configuration, p: String): Unit = {
    val path = new Path(p)
    path.getFileSystem(conf).delete(path, true): Unit
  }

  def mkdirs(conf: Configuration, p: String): Unit = {
    val path = new Path(p)
    path.getFileSystem(conf).mkdirs(path): Unit
  }
}
