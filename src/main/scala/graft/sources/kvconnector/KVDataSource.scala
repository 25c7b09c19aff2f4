package graft.sources.kvconnector

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{SortDirection, SortOrder => VSortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsRuntimeFiltering}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `spark.read.format("graft-kv").load(dir)` — a DataSourceV2 connector
  * over a KVSegmentStore directory.
  *
  * This is the POINT-LOOKUP / SLICE path of the store (the reference's
  * getSlice against MergeTree parts, QueryHelper.java:61): key predicates
  * push down to the segment manifest, and only segments whose key range
  * can match become input partitions — pruning happens at PLAN time, so
  * a narrow slice of a million-segment store schedules a handful of
  * tasks, where the generic parquet source would schedule all files and
  * prune row groups inside each task. Full-corpus analytics should keep
  * reading the segments with the vectorized parquet source; this
  * connector's per-row reader trades raw scan throughput for plan-time
  * segment elimination, which is the right trade exactly when predicates
  * are selective.
  *
  * Filter contract: key filters are used for pruning AND all filters are
  * returned as residual, so Spark re-applies them on the rows the reader
  * emits — correctness never depends on the pruning logic.
  */
class KVDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-kv"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KVDataSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new KVTable(properties.get("path"))
}

object KVDataSource {
  val Schema: StructType = StructType(Seq(
    StructField("k", BinaryType), StructField("c", BinaryType),
    StructField("v", BinaryType)))

  private def ucmp(a: Array[Byte], b: Array[Byte]): Int =
    util.Arrays.compareUnsigned(a, b)

  /** Could a segment with key range [lo, hi] contain rows matching `f`?
    * Unknown/unrelated filters prune nothing (return true). */
  private[kvconnector] def mayMatch(seg: KVSegmentStore.Segment, f: Filter): Boolean =
    f match {
      case EqualTo("k", v: Array[Byte]) =>
        ucmp(seg.lo, v) <= 0 && ucmp(v, seg.hi) <= 0
      // the SPI's multi-key getSlice shape (an explicit key list): the
      // segment survives iff ANY key of the IN set falls in its range
      case org.apache.spark.sql.sources.In("k", vs) =>
        vs.exists {
          case v: Array[Byte] => ucmp(seg.lo, v) <= 0 && ucmp(v, seg.hi) <= 0
          case _ => true // non-binary/null element: prune nothing
        }
      case GreaterThan("k", v: Array[Byte]) => ucmp(seg.hi, v) > 0
      case GreaterThanOrEqual("k", v: Array[Byte]) => ucmp(seg.hi, v) >= 0
      case LessThan("k", v: Array[Byte]) => ucmp(seg.lo, v) < 0
      case LessThanOrEqual("k", v: Array[Byte]) => ucmp(seg.lo, v) <= 0
      // qualifier zone map (the SPI's column-slice bounds,
      // KeySliceQuery(sliceStart, sliceEnd)): present only on manifests
      // written with c-bounds — a null zone map prunes nothing
      case EqualTo("c", v: Array[Byte]) if seg.cLo != null =>
        ucmp(seg.cLo, v) <= 0 && ucmp(v, seg.cHi) <= 0
      case GreaterThan("c", v: Array[Byte]) if seg.cHi != null => ucmp(seg.cHi, v) > 0
      case GreaterThanOrEqual("c", v: Array[Byte]) if seg.cHi != null => ucmp(seg.cHi, v) >= 0
      case LessThan("c", v: Array[Byte]) if seg.cLo != null => ucmp(seg.cLo, v) < 0
      case LessThanOrEqual("c", v: Array[Byte]) if seg.cLo != null => ucmp(seg.cLo, v) <= 0
      case org.apache.spark.sql.sources.And(l, r) =>
        mayMatch(seg, l) && mayMatch(seg, r)
      case org.apache.spark.sql.sources.Or(l, r) =>
        mayMatch(seg, l) || mayMatch(seg, r)
      case _ => true
    }

  /** Does any filter contain a point/IN key probe the Bloom skip index
    * can answer? Gate on this before touching sidecars: range-only
    * scans never pay a bloom read. */
  private[kvconnector] def hasKeyProbe(f: Filter): Boolean = f match {
    case EqualTo("k", _) => true
    case org.apache.spark.sql.sources.In("k", _) => true
    case org.apache.spark.sql.sources.And(l, r) => hasKeyProbe(l) || hasKeyProbe(r)
    case org.apache.spark.sql.sources.Or(l, r) => hasKeyProbe(l) || hasKeyProbe(r)
    case _ => false
  }

  /** [[mayMatch]] strengthened by the segment's key Bloom (the skip
    * index): a point/IN probe whose key the bloom DEFINITIVELY excludes
    * prunes the segment even inside its key range. Recursion mirrors
    * mayMatch so And/Or compose identically; every other filter defers
    * to the range logic. */
  private[kvconnector] def mayMatchBloom(seg: KVSegmentStore.Segment,
      bloom: Option[(Array[Long], Int)], f: Filter): Boolean = f match {
    case EqualTo("k", v: Array[Byte]) =>
      mayMatch(seg, f) && bloom.forall { case (bits, h) =>
        graft.operators.KeyBloom.mightContain(bits, h, v)
      }
    case org.apache.spark.sql.sources.In("k", vs) =>
      vs.exists {
        case v: Array[Byte] =>
          mayMatch(seg, EqualTo("k", v)) && bloom.forall { case (bits, h) =>
            graft.operators.KeyBloom.mightContain(bits, h, v)
          }
        case _ => true
      }
    case org.apache.spark.sql.sources.And(l, r) =>
      mayMatchBloom(seg, bloom, l) && mayMatchBloom(seg, bloom, r)
    case org.apache.spark.sql.sources.Or(l, r) =>
      mayMatchBloom(seg, bloom, l) || mayMatchBloom(seg, bloom, r)
    case _ => mayMatch(seg, f)
  }
}

class KVTable(path: String)
  extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"graft-kv `$path`"
  override def schema(): StructType = KVDataSource.Schema
  // a bucket-layout store declares its hash layout (the reported scan
  // partitioning is what carries the storage-partitioned join; this is
  // the table-level statement of the same fact)
  override def partitioning(): Array[Transform] =
    KVSegmentStore.readBuckets(path)
      .map(n => Array[Transform](
        org.apache.spark.sql.connector.expressions.Expressions.bucket(n, "k")))
      .getOrElse(Array.empty)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KVScanBuilder(path)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new KVWriteBuilder(path, info)
}

class KVScanBuilder(path: String)
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns with SupportsPushDownLimit
  with SupportsPushDownTopN with SupportsPushDownAggregates {

  private var required: StructType = KVDataSource.Schema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Int = -1

  // PARTIAL push (isPartiallyPushed default true): each segment reader
  // stops after `limit` rows — a point lookup over a million-segment
  // store decodes at most limit rows PER SEGMENT instead of every
  // matching row — and Spark's own Limit still applies globally.
  override def pushLimit(l: Int): Boolean = { limit = l; true }
  // both SupportsPushDownLimit and SupportsPushDownTopN declare this
  // default; Scala demands an explicit tiebreak — partial push always
  override def isPartiallyPushed(): Boolean = true

  // TOP-N on the segment order: segments of BOTH layouts are
  // (k, c)-sorted inside by the write contract (zorder since r11 —
  // membership follows the curve, order inside follows the key), so
  // ORDER BY k [, c] LIMIT n is served by each reader's FIRST n rows
  // (its n smallest) — the ClickHouse optimize_read_in_order analog.
  // Partial push: Spark still merges and applies the final sort+limit;
  // each partition just stops early. The sortedness is checked from the
  // marker's own `order=kc` attribute, NOT inferred from the layout
  // name: a zorder store persisted by the pre-r11 writer has
  // Morton-ordered rows inside its segments and must decline (serving
  // its first n rows as "(k, c)-smallest" would drop true minima).
  override def pushTopN(orders: Array[VSortOrder], n: Int): Boolean = {
    if (!KVSegmentStore.readSortedKC(path)) return false
    val fields = orders.map { o =>
      o.expression() match {
        case f: org.apache.spark.sql.connector.expressions.NamedReference
            if o.direction() == SortDirection.ASCENDING =>
          f.fieldNames().mkString(".")
        case _ => return false
      }
    }.toSeq
    val ok = fields == Seq("k") || fields == Seq("k", "c")
    if (ok) limit = n
    ok
  }

  // COUNT(*) / MIN(k) / MAX(k) with no predicates are served from the
  // MANIFEST (the MergeTree count/bounds-from-parts-metadata analog):
  // zero data files opened — counts are per-segment exacts recorded at
  // commit, key bounds the committed segments' lo/hi (unsigned byte
  // order, matching Spark's BinaryType ordering). Spark only attempts
  // aggregate pushdown when every filter was consumed by the scan; this
  // connector reports all filters as residual, so any filtered
  // aggregate automatically takes the row path.
  private var aggToks: Seq[String] = Nil
  private def classify(agg: Aggregation): Option[Seq[String]] = {
    if (pushed.nonEmpty || agg.groupByExpressions().nonEmpty) return None
    def keyRef(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      e match {
        case nr: org.apache.spark.sql.connector.expressions.NamedReference =>
          nr.fieldNames().toSeq == Seq("k")
        case _ => false
      }
    val toks = agg.aggregateExpressions().map {
      case _: CountStar => "count"
      case m: Min if keyRef(m.column()) => "min"
      case m: Max if keyRef(m.column()) => "max"
      case _ => return None
    }
    if (toks.isEmpty) None else Some(toks.toSeq)
  }
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    classify(agg).isDefined
  override def pushAggregation(agg: Aggregation): Boolean =
    classify(agg) match {
      case Some(t) => aggToks = t; true
      case None => false
    }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // all residual: Spark re-applies every filter after the scan
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    if (aggToks.nonEmpty) new KVAggScan(path, aggToks)
    else KVSegmentStore.readBuckets(path) match {
      // report the hash layout only while k is still in the projection:
      // a reported bucket(n, k) over a scan that pruned k away would
      // fail transform resolution against the relation output
      case Some(n) if required.fieldNames.contains("k") =>
        new KVBucketScan(path, required, pushed, limit, n)
      case _ => new KVScan(path, required, pushed, limit)
    }
}

/** COUNT(*) / MIN(k) / MAX(k) served from the manifest: ONE row, zero
  * segment files opened — equal to what a full row scan of the
  * committed store computes, because the manifest records exact
  * per-segment row counts and key bounds at commit time. */
class KVAggScan(path: String, toks: Seq[String]) extends Scan with Batch {
  private val segs = KVSegmentStore.readManifest(path)
  private val values: Array[Any] = toks.map {
    case "count" => segs.map(_.rows).sum: java.lang.Long
    case "min" =>
      if (segs.isEmpty) null
      else segs.map(_.lo).min(java.util.Arrays.compareUnsigned(_: Array[Byte], _: Array[Byte]))
    case "max" =>
      if (segs.isEmpty) null
      else segs.map(_.hi).max(java.util.Arrays.compareUnsigned(_: Array[Byte], _: Array[Byte]))
  }.toArray
  override def readSchema(): StructType = StructType(toks.map {
    case "count" => StructField("count", LongType, nullable = false)
    case t => StructField(t, BinaryType, nullable = true)
  })
  override def description(): String =
    s"graft-kv $path agg-from-manifest=[${toks.mkString(", ")}]"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(KVAggPartition(values))
  override def createReaderFactory(): PartitionReaderFactory =
    KVAggReaderFactory
}

case class KVAggPartition(values: Array[Any]) extends InputPartition

object KVAggReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val values = partition.asInstanceOf[KVAggPartition].values
      private var done = false
      override def next(): Boolean = if (done) false else { done = true; true }
      override def get(): InternalRow = new GenericInternalRow(values)
      override def close(): Unit = ()
    }
}

class KVScan(path: String, protected val required: StructType,
             protected val pushed: Array[Filter],
             protected val limit: Int = -1)
  extends Scan with Batch with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  private val all = KVSegmentStore.readManifest(path)

  /** POST-PRUNING stats from the manifest (exact per-segment row counts
    * recorded at commit; bytes = the surviving segments' file lengths).
    * Without this every DSv2 read reports the session default size
    * (effectively infinite), so a selective slice of a huge store could
    * never broadcast in a join — with it, Catalyst sees the PRUNED size
    * and a point/range slice joins broadcast-side like the dimension it
    * is. File lengths are stat'ed only while few segments survive
    * (the case where the decision can flip); a wide scan extrapolates
    * from one segment — broadcast is off the table there anyway. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val rows = kept.map(_.rows).sum
    // a failed stat means UNKNOWN, never 0: zero bytes would make a
    // multi-TB store broadcast-eligible — the exact inverse of the
    // feature. Unknown files fall back to a conservative per-row width.
    val FallbackRowBytes = 128L
    val bytes: Long =
      if (kept.isEmpty) 0L
      else {
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(KVSegmentStore.activeConf)
        def len(f: String): Option[Long] =
          try Some(fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen)
          catch { case _: java.io.IOException => None }
        if (kept.size <= 64)
          kept.map(s => len(s.file).getOrElse(s.rows * FallbackRowBytes)).sum
        else {
          val s0 = kept.head
          val perRow = len(s0.file)
            .map(l => math.max(1L, l / math.max(1L, s0.rows)))
            .getOrElse(FallbackRowBytes)
          rows * perRow
        }
      }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  /** Manifest pruning under a filter set: range/zone-map first
    * (manifest-only); Bloom sidecars are read ONLY for point/IN key
    * probes and only for range survivors. */
  private def prune(filters: Array[Filter]): Seq[KVSegmentStore.Segment] = {
    val ranged = all.filter(seg => filters.forall(KVDataSource.mayMatch(seg, _)))
    if (filters.exists(KVDataSource.hasKeyProbe))
      ranged.filter { seg =>
        val bloom = KVSegmentStore.readBloom(seg.file)
        filters.forall(KVDataSource.mayMatchBloom(seg, bloom, _))
      }
    else ranged
  }

  /** Plan-time survivors of the statically pushed filters. */
  private[kvconnector] val kept = prune(pushed)

  // RUNTIME (join-key) pruning (r11 verdict #4): a selective dim⋈store
  // equi-join on k hands the build side's key set here as In("k", ...)
  // at EXECUTION time (Spark's DPP subquery over the reused broadcast),
  // and segments + blooms prune again before any task is scheduled —
  // the DSv2 analogue of the reference's getSlice key-list pruning, and
  // what keeps a 100 TB star join from scanning every surviving segment.
  // Correctness never depends on it: all filters stay residual, Spark
  // re-applies the join itself on the rows the readers emit.
  private var runtime: Array[Filter] = Array.empty
  override def filterAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("k"))
  override def filter(filters: Array[Filter]): Unit = runtime = filters

  /** Scheduled-segment count of the LAST planInputPartitions call —
    * runtime pruning happens at execution, after explain formatting, so
    * specs (and curious users) read the effect here. */
  @volatile private[graft] var lastPlanned: Int = -1

  override def readSchema(): StructType = required
  override def description(): String =
    s"graft-kv $path segments=${kept.size}/${all.size} " +
      s"pushed=[${pushed.mkString(", ")}] limit=$limit " +
      s"runtimeFilterable=[k]"

  /** The post-pruning segment list of this planning pass (static +
    * runtime filters), recorded into [[lastPlanned]]. */
  protected def plannedSegments(): Seq[KVSegmentStore.Segment] = {
    val segs = if (runtime.isEmpty) kept else prune(pushed ++ runtime)
    lastPlanned = segs.size
    segs
  }

  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    plannedSegments().map(seg =>
      KVSegmentPartition(seg.file, required.fieldNames, limit)).toArray
  // the reader factory ships the DRIVER's Hadoop conf to executors (the
  // KVWriterFactory confW pattern): a bare executor-side Configuration()
  // would miss spark.hadoop.* credentials (e.g. s3a keys) the driver-side
  // listings in this file already resolve via activeConf (r12 advice #3)
  override def createReaderFactory(): PartitionReaderFactory =
    KVReaderFactory(new org.apache.spark.util.SerializableConfiguration(
      KVSegmentStore.activeConf))
}

/** The scan of a `bucket`-layout store ([[KVSegmentStore.write]]):
  * identical pruning and readers, plus the REPORTED hash layout (r11
  * verdict #5) — KeyGroupedPartitioning over the catalog-resolved `bucket(n, k)`
  * with each segment carrying its bucket id as the partition key, so
  * two same-bucketed stores equi-join on k with zero Exchange
  * (storage-partitioned join; needs the graftkv catalog and
  * spark.sql.sources.v2.bucketing.enabled — see [[KVCatalog]]). */
class KVBucketScan(path: String, required0: StructType, pushed0: Array[Filter],
                   limit0: Int, buckets: Int)
  extends KVScan(path, required0, pushed0, limit0)
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning =
    new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
      Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(buckets, "k")),
      buckets)

  /** Per-partition ordering: every segment is (k, c)-sorted by the
    * write contract, so while each bucket holds EXACTLY ONE segment
    * (the shape one bucketed write produces) the partition read order
    * IS (k, c) — reported so a storage-partitioned merge join
    * skips its per-partition SortExec on both sides. A bucket with
    * several files would concatenate sorted runs (not sorted), so the
    * claim is withdrawn entirely in that case; pruning only removes
    * whole segments and cannot break the one-file property. */
  override def outputOrdering():
      Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    // every kept segment must sit in a bucket directory (a linear
    // segment appended under a racing marker demotion has none —
    // withdraw rather than throw, r12 review #2) AND hold its bucket
    // alone (two files per bucket concatenate sorted runs — not sorted)
    val ids = kept.flatMap(s => KVSegmentStore.bucketIdOpt(s.file))
    val oneFilePerBucket =
      ids.size == kept.size && ids.distinct.size == kept.size
    val fields = required.fieldNames.toSeq
    if (!oneFilePerBucket || !fields.contains("k")) Array.empty
    else {
      def asc(col: String): org.apache.spark.sql.connector.expressions.SortOrder =
        new org.apache.spark.sql.connector.expressions.SortOrder {
          override def expression(): org.apache.spark.sql.connector.expressions.Expression =
            org.apache.spark.sql.connector.expressions.Expressions.column(col)
          override def direction(): org.apache.spark.sql.connector.expressions.SortDirection =
            org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING
          override def nullOrdering(): org.apache.spark.sql.connector.expressions.NullOrdering =
            org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_FIRST
          override def describe(): String = s"$col ASC"
        }
      if (fields.contains("c")) Array(asc("k"), asc("c")) else Array(asc("k"))
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val segs = plannedSegments()
    // a segment outside any bucket directory means the store is no
    // longer purely bucketed (racing append/demotion): emit PLAIN
    // partitions for the whole scan — Spark sees not-all-HasPartitionKey
    // and degrades the key-grouped claim instead of mis-grouping
    if (segs.exists(s => KVSegmentStore.bucketIdOpt(s.file).isEmpty))
      segs.map(seg =>
        KVSegmentPartition(seg.file, required.fieldNames, limit)).toArray
    else
      segs.map(seg =>
        KVBucketSegmentPartition(seg.file, required.fieldNames, limit,
          KVSegmentStore.bucketId(seg.file))).toArray
  }

  override def description(): String =
    super.description() + s" layout=bucket:$buckets"
}

case class KVSegmentPartition(file: String, columns: Array[String],
                              limit: Int = -1) extends InputPartition

/** A bucketed segment: same reader, plus the bucket id as the
  * partition key Spark groups and aligns storage-partitioned joins on. */
case class KVBucketSegmentPartition(file: String, columns: Array[String],
                                    limit: Int, bucketId: Int)
  extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucketId))
}

case class KVReaderFactory(
    confR: org.apache.spark.util.SerializableConfiguration)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: KVSegmentPartition =>
        new KVSegmentReader(p.file, p.columns, p.limit, confR.value)
      case p: KVBucketSegmentPartition =>
        new KVSegmentReader(p.file, p.columns, p.limit, confR.value)
      case other => throw new IllegalArgumentException(
        s"not a graft-kv partition: ${other.getClass.getName}")
    }
}

/** Row reader over one parquet segment via the parquet-mr Group API,
  * projecting only the pruned columns (the projection reaches the
  * parquet column reader — unread columns are never decoded). `baseConf`
  * is the driver's Hadoop conf shipped through the factory — never a bare
  * executor-side Configuration(), which would miss spark.hadoop.*
  * filesystem credentials. */
class KVSegmentReader(file: String, columns: Array[String], limit: Int,
                      baseConf: Configuration)
  extends PartitionReader[InternalRow] {
  // empty projection (e.g. a bare count) still needs a column to drive
  // row iteration; read the narrow key column and emit empty rows
  private val cols = if (columns.isEmpty) Array("k") else columns
  private val hadoopConf = new Configuration(baseConf)
  // projection fields must carry the file's own repetition (required vs
  // optional varies with writer nullability), so project the footer schema
  private val fileSchema = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(file), hadoopConf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFooter.getFileMetaData.getSchema finally r.close()
  }
  hadoopConf.set(ReadSupport.PARQUET_READ_SCHEMA,
    new org.apache.parquet.schema.MessageType("graft_kv",
      cols.map(c => fileSchema.getType(fileSchema.getFieldIndex(c))): _*).toString)
  private val reader =
    ParquetReader.builder(new GroupReadSupport(), new Path(file)).withConf(hadoopConf).build()

  private var current: org.apache.parquet.example.data.Group = _
  private var emitted = 0

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false // pushed limit
    current = reader.read()
    if (current != null) emitted += 1
    current != null
  }

  override def get(): InternalRow =
    new GenericInternalRow(columns.map { c =>
      if (current.getFieldRepetitionCount(c) == 0) null
      else current.getBinary(c, 0).getBytes
    }.toArray[Any])

  override def close(): Unit = reader.close()
}
