package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** One version directory of a [[VersionedState]]. */
final case class Version(id: Long, path: String) {

  /** A named table inside a multi-table version. */
  def table(name: String): String = GraftFs.child(path, name)

  /** The text the version's completeness marker carries ("" when none). */
  def marker(s: SparkSession): String =
    GraftFs.readText(s.sparkContext.hadoopConfiguration,
      table(VersionedState.Marker)).getOrElse("")
}

/** The exactly-once snapshot protocol every maintained view (a
  * `foreachBatch` sink — the ClickHouse materialized view over a
  * MergeTree table) folds its state through. Micro-batch `b` of the view
  * named `name` under `dir` writes version directory `<name>_v<b>`:
  *
  *   - completeness: a version is visible to readers and to lineage only
  *     once its `_SUCCESS` marker lands, after all of its tables; a crash
  *     mid-write leaves an invisible directory that the replay overwrites;
  *   - replay skip: batch `b` is a no-op when a complete version ≥ `b`
  *     exists (a redelivered or a stale batch);
  *   - lineage: otherwise `b` folds onto the latest complete version
  *     before it, so a reordered or duplicated delivery cannot skip state;
  *   - marker: written last, optionally carrying a text payload (the
  *     session folds' watermark);
  *   - retention: once `b`'s marker lands, every version older than the
  *     one `b` folded onto is deleted, marker first (a crash mid-delete
  *     leaves an invisible directory, never a torn complete one). The
  *     newest two complete versions remain, so a reader that resolved the
  *     previous version just before `b` landed keeps one batch of grace,
  *     and each batch costs O(1) filesystem calls.
  *
  * One streaming query owns a view (Structured Streaming's own
  * guarantee); every call resolves `dir`'s own Hadoop FileSystem (see
  * [[GraftFs]]), so the protocol holds on HDFS and object stores alike.
  */
final case class VersionedState(dir: String, name: String) {
  import VersionedState.Marker

  private val prefix = s"${name}_v"

  /** Directory of version `id`. */
  def path(id: Long): String = GraftFs.child(dir, s"$prefix$id")

  /** Every version directory with its completeness, id-ascending. */
  private def listed(conf: Configuration): Seq[(Version, Boolean)] = {
    val d = new Path(dir)
    val f = d.getFileSystem(conf)
    if (!f.exists(d)) return Nil
    f.listStatus(d).iterator
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(_.getName.startsWith(prefix))
      .flatMap(p => p.getName.stripPrefix(prefix).toLongOption
        .map(v => (Version(v, p.toString), f.exists(new Path(p, Marker)))))
      .toSeq.sortBy(_._1.id)
  }

  /** Complete versions with id ≤ `upTo`, id-ascending. */
  def complete(conf: Configuration, upTo: Long): Seq[Version] =
    listed(conf).collect { case (v, true) if v.id <= upTo => v }

  /** The latest complete version: what a reader serves. */
  def latest(s: SparkSession): Option[Version] =
    complete(s.sparkContext.hadoopConfiguration, Long.MaxValue).lastOption

  /** Fold `batch` (micro-batch `batchId`) into a single-table version:
    * `f` maps the version to fold onto to the new state. */
  def fold(batch: DataFrame, batchId: Long)(f: Option[Version] => DataFrame): Unit =
    foldTables(batch, batchId) { (prev, target) =>
      f(prev).write.mode("overwrite").parquet(target.path)
      ""
    }

  /** Fold `batch` into a multi-table version: `write(prev, target)`
    * writes the tables of version `target`, folding onto `prev`, and
    * returns the marker's text. */
  def foldTables(batch: DataFrame, batchId: Long)(
      write: (Option[Version], Version) => String): Unit = {
    val conf = batch.sparkSession.sparkContext.hadoopConfiguration
    val all = listed(conf)
    val done = all.collect { case (v, true) => v }
    if (done.exists(_.id >= batchId)) return // replayed or stale batch
    val prev = done.lastOption
    val target = Version(batchId, path(batchId))
    val text = write(prev, target)
    // a single parquet table's commit already wrote an empty marker
    val marker = target.table(Marker)
    if (text.nonEmpty || !GraftFs.exists(conf, marker))
      GraftFs.writeTextAtomic(conf, marker, text)
    // retention: keep `prev` and `target`; marker first, so a crash
    // mid-delete leaves an invisible directory
    for (p <- prev; (v, _) <- all if v.id < p.id) {
      GraftFs.delete(conf, v.table(Marker))
      GraftFs.delete(conf, v.path)
    }
  }
}

object VersionedState {

  /** The completeness marker's file name inside a version. */
  val Marker = "_SUCCESS"

  /** Run `applyBatch(batch, batchId)` on every micro-batch of `input`. */
  def start(input: DataFrame)(applyBatch: (DataFrame, Long) => Unit): StreamingQuery =
    input.writeStream.foreachBatch(applyBatch).start()
}
