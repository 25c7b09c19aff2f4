package graft.sources.kvconnector

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection, SortOrder => VSortOrder, Expression => VExpression}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.util.SerializableConfiguration

import graft.GraftFs

/** The WRITE half of the graft-kv connector, and the only writer of
  * segment stores:
  * `df.write.format("graft-kv").mode("append"|"overwrite").save(dir)`
  * (or [[KVSegmentStore.write]], which wraps it).
  *
  * The write DECLARES its layout needs through DSv2's
  * `RequiresDistributionAndOrdering` — e.g. range-distributed by `k`,
  * sorted (k, c) within partitions — so SPARK plans the exchange+sort
  * that makes every task emit (k,c)-sorted segments: the MergeTree-part
  * layout, negotiated through the connector contract (any engine-side
  * smarts — AQE partition sizing, reuse of an existing ordering — apply
  * for free). Each task writes its parquet segments and reports (file,
  * key bounds, rows, c zone map, key Bloom) in its commit message; the
  * driver's commit() writes the Bloom sidecars and assembles the
  * manifest FROM the messages — no second scan of the data, and a
  * failed/speculative task's file never reaches the manifest (readers go
  * through the manifest, so uncommitted files are invisible; abort()
  * additionally deletes them). Overwrite = SupportsTruncate: the commit
  * sweeps previously-manifested segments after the new manifest lands.
  *
  * Options:
  *  - `segments`: the exact segment count (the bucket count under
  *    `bucket`); 0, the default, lets Spark (incl. AQE coalescing) size
  *    the range shuffle.
  *  - `layout`: `linear` (range on k, the default), `familyranged`
  *    (range on (c, k)), `bucket` (hash buckets on k into `__b=<i>/`)
  *    or `zorder` (the caller's arrangement, see [[KVZOrder]]).
  */
class KVWriteBuilder(path: String, info: LogicalWriteInfo)
  extends WriteBuilder with SupportsTruncate {
  require(info.schema().fieldNames.sameElements(Array("k", "c", "v")),
    s"graft-kv write requires (k, c, v) binary columns, got ${info.schema().sql}")
  private val segments = info.options().getInt("segments", 0)
  private val layout = Option(info.options().get("layout")).getOrElse("linear")
  require(KVWrite.Layouts.contains(layout),
    s"graft-kv layout must be ${KVWrite.Layouts.mkString("|")}, got $layout")
  require(layout != "bucket" || segments > 0,
    "graft-kv layout bucket needs segments = the bucket count (> 0)")
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write =
    new KVWrite(path, doTruncate, segments, layout, info.queryId())
}

object KVWrite {
  val Layouts = Seq("linear", "familyranged", "bucket", "zorder")

  /** The `_graft_layout` marker a store written under `layout` carries;
    * None = linear. The first line names the layout, `order=kc`
    * declares the intra-segment (k, c) sort every layout of this writer
    * guarantees (a marker WITHOUT it — a store persisted by the pre-r11
    * zorder writer, whose segments followed the Morton curve inside —
    * makes the read side decline the TopN push). */
  def marker(layout: String, segments: Int): Option[String] = layout match {
    case "zorder" => Some("zorder\norder=kc")
    case "familyranged" => Some("familyranged\norder=kc")
    case "bucket" => Some(s"bucket\nbuckets=$segments\norder=kc")
    case _ => None
  }
}

class KVWrite(path: String, truncate: Boolean, segments: Int, layout: String,
              queryId: String)
  extends Write with RequiresDistributionAndOrdering {

  private def asc(col: String): VSortOrder = new VSortOrder {
    override def expression(): VExpression = Expressions.column(col)
    override def direction(): SortDirection = SortDirection.ASCENDING
    override def nullOrdering(): NullOrdering = NullOrdering.NULLS_FIRST
    override def describe(): String = s"$col ASC"
  }

  // linear: range-distributed by k — every task emits one key-range
  // segment. familyranged: range-distributed by (c, k), so a family's
  // cells share few segments. bucket: clustered by k into exactly
  // `segments` partitions — Spark's HashPartitioning id is
  // pmod(murmur3_42(k), n), so every task holds whole buckets and each
  // bucket lands in one file; the task still derives each row's
  // directory from the row's own key (KVSegmentWriter), never from its
  // partition id, so a coalesced or elided shuffle cannot misfile a
  // row. zorder: the DSv2 contract cannot spell a Morton expression
  // over two binary columns (no function catalog on a path-based
  // table), so the write ACCEPTS the caller's DISTRIBUTION (KVZOrder
  // .write pre-partitions by z) — segment bounds recorded at write time
  // make pruning correct for ANY arrangement; layout only changes how
  // TIGHT the rectangles are. The intra-segment ORDERING is (k, c) for
  // EVERY layout (r10 verdict #6): which rows share a segment is the
  // curve's business, the order inside is the reader's — (k, c)-sorted
  // runs let every layout serve the TopN read-in-order push, so the
  // layout that prunes best no longer pays a full sort for ordered
  // reads (the ClickHouse optimize_read_in_order analog on MergeTree
  // parts, whose rows are likewise ORDER BY-sorted per part regardless
  // of the partition expression).
  override def requiredDistribution(): Distribution = layout match {
    case "zorder" => Distributions.unspecified()
    case "familyranged" => Distributions.ordered(Array(asc("c"), asc("k")))
    case "bucket" => Distributions.clustered(Array(Expressions.column("k")))
    case _ => Distributions.ordered(Array(asc("k")))
  }
  override def requiredOrdering(): Array[VSortOrder] = Array(asc("k"), asc("c"))
  override def requiredNumPartitions(): Int =
    if (layout == "zorder") 0 else segments

  override def toBatch: BatchWrite =
    new KVBatchWrite(path, truncate, layout, segments, queryId)
}

/** One task's committed segments, each with its serialized key Bloom;
  * `file` is store-relative. */
case class KVCommit(segments: Seq[(KVSegmentStore.Segment, Array[Byte])])
  extends WriterCommitMessage

class KVBatchWrite(path: String, truncate: Boolean, layout: String,
                   segments: Int, queryId: String)
  extends BatchWrite {

  // captured on the DRIVER at write-plan time: the session's Hadoop conf
  // carries the warehouse scheme's credentials/impl (s3a, hdfs) and ships
  // to executors inside the writer factory
  private val confW = new SerializableConfiguration(KVSegmentStore.activeConf)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    KVWriterFactory(path, queryId, if (layout == "bucket") segments else 0, confW)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = confW.value
    GraftFs.mkdirs(conf, path)
    val manifest = GraftFs.child(path, KVSegmentStore.ManifestFile)
    // previous manifest lines: under append they are KEPT (append adds
    // segments, it must never orphan committed ones); under truncate they
    // name the segments to sweep once the new manifest is live
    val previous: Seq[String] = GraftFs.readText(conf, manifest)
      .map(_.split('\n').toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)
    val committed = messages.toSeq.flatMap {
      case m: KVCommit => m.segments
      case _ => Nil
    }
    // the sidecars land with the commit, before the manifest names their
    // segments: a failed job's tasks never leave one behind
    committed.foreach { case (seg, bloom) =>
      GraftFs.writeTextAtomic(conf, KVSegmentStore.sidecarPath(path, seg.file),
        KVSegmentStore.hex(bloom))
    }
    val fresh = committed.map(_._1)
    val lines =
      ((if (truncate) Nil else previous) ++ fresh.map(KVSegmentStore.manifestLine)).sorted
    // The layout marker holds for EVERY live segment whenever it is
    // present: a marker the commit changes falls BEFORE the manifest
    // swap and the new one lands AFTER it, so a reader sees either a
    // true marker or none (none = linear, which every segment satisfies:
    // its bounds are exact and its rows (k, c)-sorted). The bucket
    // marker is load-bearing for partition planning — a stale one over
    // segments of another bucket count would mis-group a
    // storage-partitioned join. An append keeps the store's marker only
    // when it writes the same layout; any other append (a linear
    // segment has no __b= directory, a second bucket count follows
    // another bucket function) demotes the store to linear. SPJ
    // reporting is lost by design then: the layout no longer holds.
    val layoutFile = GraftFs.child(path, KVSegmentStore.LayoutFile)
    val current = GraftFs.readText(conf, layoutFile)
    val wanted = KVWrite.marker(layout, segments)
    val next = if (truncate || previous.isEmpty || current == wanted) wanted else None
    if (current.isDefined && current != next) GraftFs.delete(conf, layoutFile)
    // atomic replacement: stage the full manifest next to the live one,
    // then overwrite-rename it into place — a crash mid-write leaves the
    // old manifest intact and a concurrent reader sees either the old or
    // the new list, never a prefix (same discipline as KVDeltaStore.compact)
    GraftFs.writeTextAtomic(conf, manifest, lines.mkString("\n"))
    // SINGLE-WRITER assumption (matches the reference's lease semantics,
    // ClickhouseStoreManager's store-level locking): two concurrent
    // committers can interleave their marker and manifest steps, and
    // already corrupt each other's truncate sweep below (each deletes
    // the other's fresh segments), so the marker discipline above holds
    // for one committing writer at a time.
    next.filter(m => !current.contains(m)).foreach(GraftFs.writeTextAtomic(conf, layoutFile, _))
    if (truncate) {
      // old segments left the manifest atomically with the rename above;
      // sweeping their files (and bloom sidecars) afterwards is
      // invisible to manifest readers
      val freshNames = fresh.map(_.file).toSet
      previous.map(_.split('\t')(0)).filterNot(freshNames.contains)
        .foreach(deleteSegment(conf, _))
    }
  }

  /** A segment file and the Bloom sidecar beside it. */
  private def deleteSegment(conf: Configuration, name: String): Unit = {
    GraftFs.delete(conf, GraftFs.child(path, name))
    GraftFs.delete(conf, KVSegmentStore.sidecarPath(path, name))
  }

  // a committed TASK already wrote its segments, and a commit that
  // failed midway some sidecars; a job-level abort sweeps both, or failed
  // writes leak them. Beyond the segments `messages` names, the sweep
  // takes every file named with this write's queryId: a task that
  // committed while its job was failing is reported killed, and its
  // message never arrives. A task still running after the abort can
  // still write one.
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val conf = confW.value
    messages.foreach {
      case m: KVCommit => m.segments.foreach { case (seg, _) => deleteSegment(conf, seg.file) }
      case _ => ()
    }
    val fs = GraftFs.fs(path, conf)
    def ls(dir: String): Seq[String] = {
      val p = new Path(dir)
      if (fs.exists(p)) fs.listStatus(p).toSeq.map(_.getPath.getName) else Nil
    }
    val dirs = ("", path) +: ls(path).filter(_.startsWith(KVSegmentStore.BucketDirPrefix))
      .map(b => (s"$b/", GraftFs.child(path, b)))
    for {
      (prefix, dir) <- dirs
      name <- (ls(dir) ++ ls(GraftFs.child(dir, KVSegmentStore.BloomDir))).distinct
      if name.endsWith(s"-$queryId.parquet")
    } deleteSegment(conf, prefix + name)
  }
}

case class KVWriterFactory(path: String, queryId: String, buckets: Int,
                           confW: SerializableConfiguration)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KVSegmentWriter(path, partitionId, taskId, queryId, buckets, confW)
}

/** One task's segments: one (k,c)-sorted parquet segment, or under the
  * bucket layout (`buckets` > 0) one per bucket the task sees, at
  * `__b=<KVBucketFunction.bucketOf(k, buckets)>/` — the directory comes
  * from each row's own key. Bounds and the key Bloom are tracked inline
  * during the write (no re-read) and reported in the commit message. */
class KVSegmentWriter(path: String, partitionId: Int, taskId: Long,
                      queryId: String, buckets: Int,
                      confW: SerializableConfiguration)
  extends DataWriter[InternalRow] {

  // (partitionId, taskId) is unique only within one Spark application;
  // the per-write queryId keeps appends from a LATER application from
  // colliding with (and clobbering) a committed segment
  private val fileName = f"part-$partitionId%05d-$taskId-$queryId.parquet"
  // opened on a bucket's first row: an empty partition writes no file
  private val open = new Array[KVSegmentFile](math.max(buckets, 1))

  override def write(row: InternalRow): Unit = {
    require(!row.isNullAt(0) && !row.isNullAt(1),
      s"graft-kv write: a cell with a null k or c cannot be stored ($path)")
    val k = row.getBinary(0)
    val b = if (buckets > 0) KVBucketFunction.bucketOf(k, buckets) else 0
    if (open(b) == null)
      open(b) = new KVSegmentFile(path,
        if (buckets > 0) s"${KVSegmentStore.BucketDirPrefix}$b/$fileName" else fileName,
        confW.value)
    open(b).write(k, row.getBinary(1), if (row.isNullAt(2)) null else row.getBinary(2))
  }

  override def commit(): WriterCommitMessage =
    KVCommit(open.toSeq.filter(_ != null).map(_.finish()))

  override def abort(): Unit = open.foreach(f => if (f != null) f.discard())

  override def close(): Unit = ()
}

/** One parquet segment being written: `name` is store-relative. */
private[kvconnector] class KVSegmentFile(store: String, name: String, conf: Configuration) {
  private val factory = new SimpleGroupFactory(KVSegmentFile.Schema)
  // SNAPPY, as Spark's own parquet writer: parquet-mr's default is
  // UNCOMPRESSED, about twice the bytes for the same cells
  private val writer = ExampleParquetWriter.builder(new Path(store, name))
    .withConf(conf).withType(KVSegmentFile.Schema)
    .withCompressionCodec(CompressionCodecName.SNAPPY).build()
  private var lo: Array[Byte] = _
  private var hi: Array[Byte] = _
  private var cLo: Array[Byte] = _
  private var cHi: Array[Byte] = _
  private var rows = 0L
  // the segment's KEY Bloom skip index, built inline during the write;
  // the driver's commit writes it as the segment's sidecar
  private val bloomBits =
    new Array[Long](graft.operators.KeyBloom.DefaultBits / 64)

  def write(k: Array[Byte], c: Array[Byte], v: Array[Byte]): Unit = {
    if (lo == null || util.Arrays.compareUnsigned(k, lo) < 0) lo = k.clone()
    if (hi == null || util.Arrays.compareUnsigned(k, hi) > 0) hi = k.clone()
    if (cLo == null || util.Arrays.compareUnsigned(c, cLo) < 0) cLo = c.clone()
    if (cHi == null || util.Arrays.compareUnsigned(c, cHi) > 0) cHi = c.clone()
    graft.operators.KeyBloom.add(bloomBits,
      graft.operators.KeyBloom.DefaultHashes, k)
    val g = factory.newGroup()
    g.append("k", Binary.fromConstantByteArray(k))
    g.append("c", Binary.fromConstantByteArray(c))
    if (v != null) g.append("v", Binary.fromConstantByteArray(v))
    writer.write(g)
    rows += 1
  }

  /** Close the file: its manifest entry and serialized Bloom. */
  def finish(): (KVSegmentStore.Segment, Array[Byte]) = {
    writer.close()
    (KVSegmentStore.Segment(name, lo, hi, rows, cLo, cHi),
      graft.operators.KeyBloom.serialize(bloomBits, graft.operators.KeyBloom.DefaultHashes))
  }

  def discard(): Unit = {
    writer.close()
    GraftFs.delete(conf, GraftFs.child(store, name))
  }
}

private[kvconnector] object KVSegmentFile {
  // v is optional: a null value is stored as an absent field, which the
  // reader returns as null
  val Schema: MessageType = MessageTypeParser.parseMessageType(
    "message graft_kv { required binary k; required binary c; optional binary v; }")
}
