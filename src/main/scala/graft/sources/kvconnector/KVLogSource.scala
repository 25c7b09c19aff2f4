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
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.kv.KVDeltaStore

/** `spark.readStream.format("graft-kv-log").load(storeDir)` — the
  * CHANGE-DATA-FEED of a [[graft.kv.KVDeltaStore]] store as a
  * Structured Streaming SOURCE.
  *
  * The delta store's mutation log (`delta_NNNNN/` parquet parts, one
  * per mutate batch — the MergeTree part-append model the reference's
  * backend mutates through, ref ClickhouseKeyColumnValueStore.java:133)
  * IS already a replayable ordered change feed; this source exposes it
  * to every Structured Streaming consumer graft has (RollupSink-style
  * maintained views, DedupStream, the stream-stream joins) without any
  * extra write path. Rows are the raw mutation cells
  * `(seq, k, c, v, wts, op)` — op 1 = addition, 0 = deletion — so a
  * downstream fold can reconstruct any store state with the exact
  * merge-on-read rule (latest (seq, op) wins per (k, c)).
  *
  * Offsets are log sequence numbers: offset N = "everything through
  * delta_N has been emitted". A micro-batch (start, end] plans one
  * input partition per parquet data file of each complete delta part
  * in the range — a mega-batch's files read in parallel, tiny batches
  * cost one task. Only parts with a `_SUCCESS` marker are admitted
  * (the sink's crash-replay contract already guarantees a re-written
  * part lands under the same seq, so a half-written part is simply not
  * visible yet). `maxSeqsPerBatch` bounds how many log parts one
  * micro-batch drains (admission control; Trigger.AvailableNow drains
  * the pinned backlog in such steps).
  *
  * Retention: compact() folds deltas into base and deletes them — a
  * checkpoint pointing below the compaction floor fails LOUDLY with
  * the missing part named (the Kafka earliest-offset contract), never
  * silently skips log it cannot replay. Keep compaction thresholds
  * longer than consumer lag, exactly like Delta CDF vs VACUUM.
  *
  * Scale: latestOffset is one directory listing; nothing reads data
  * until planInputPartitions, and each reader streams one part file —
  * state on the driver is two longs. */
class KVLogSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-kv-log"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KVLogSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new KVLogTable(properties.get("path"),
      Option(properties.get("maxSeqsPerBatch")).map(_.toLong)
        .getOrElse(Long.MaxValue),
      Option(properties.get("startingSeq")).map(_.toLong).getOrElse(0L))
}

object KVLogSource {
  /** The CDC row: the delta part's own columns plus its log sequence. */
  val Schema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("k", BinaryType), StructField("c", BinaryType),
    StructField("v", BinaryType), StructField("wts", LongType),
    StructField("op", IntegerType)))
}

class KVLogTable(path: String, maxSeqsPerBatch: Long, startingSeq: Long)
  extends Table with SupportsRead {
  override def name(): String = s"graft-kv-log `$path`"
  override def schema(): StructType = KVLogSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = KVLogSource.Schema
        override def description(): String = s"graft-kv-log $path"
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new KVLogMicroBatchStream(path, maxSeqsPerBatch, startingSeq)
      }
    }
}

/** Offset = highest log sequence already emitted. */
case class KVLogOffset(seq: Long) extends Offset {
  override def json(): String = seq.toString
}

class KVLogMicroBatchStream(storeDir: String, maxSeqsPerBatch: Long,
                            startingSeq: Long = 0L)
  extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  require(maxSeqsPerBatch > 0, "maxSeqsPerBatch must be positive")
  require(startingSeq >= 0, "startingSeq must be >= 0")

  // driver-side listings resolve the warehouse FileSystem through the
  // active session's Hadoop conf (credentials/impl set via spark.hadoop.*
  // would be invisible to a bare Configuration() —
  // KVSegmentStore.activeConf is the connector-wide discipline)
  private def fs = new Path(storeDir).getFileSystem(KVSegmentStore.activeConf)

  /** Delta parts on disk with their completeness, ascending. */
  private def parts(): Seq[KVDeltaStore.Part] = KVDeltaStore.parts(fs, new Path(storeDir))

  /** The newest seq every part UP TO it is complete for — an in-flight
    * (or crashed) part blocks advancement past itself instead of being
    * skipped: the sink's replay may still complete it, and a committed
    * offset range must never cover uncommitted log. */
  private def newestComplete(): Long =
    parts().takeWhile(_.complete).lastOption.map(_.seq).getOrElse(0L)

  // Trigger.AvailableNow pins the backlog at start: the run drains to
  // exactly this point (in maxSeqsPerBatch steps) and stops, however
  // much is appended meanwhile.
  @volatile private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(newestComplete())

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  // the Kafka startingOffsets analogue: a NEW consumer (no checkpoint
  // yet) starts after `startingSeq` instead of replaying the whole log
  // — a follower attaching to a long-lived store skips history it got
  // some other way (e.g. a snapshot copy). A checkpointed restart never
  // consults this: the checkpoint's own offset wins.
  override def initialOffset(): Offset = KVLogOffset(startingSeq)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this")

  /** Advance through CONTIGUOUS complete parts only (bounded by
    * maxSeqsPerBatch as a PART count — no arithmetic on the unbounded
    * default, which used to overflow): target+1 must be present and
    * complete to step. An incomplete part stalls the stream (it may yet
    * complete via the sink's replay) rather than wedging it with a
    * spurious retention error; parts above a numbering hole wait the
    * same way (holes only arise from external interference — the store
    * API appends contiguously). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[KVLogOffset].seq
    val ceiling = availableNowTarget.getOrElse(Long.MaxValue)
    val states = parts()
    val complete = states.filter(_.complete).map(_.seq).toSet
    var target = s
    var steps = 0L
    while (steps < maxSeqsPerBatch && target < ceiling &&
        complete.contains(target + 1)) {
      target += 1
      steps += 1
    }
    // an ABSENT next part with higher parts on disk can never appear
    // (appends only go upward): the checkpoint fell below the
    // compaction floor, or log was deleted externally — fail loudly
    // now, a contiguity stall would hide it forever. A PRESENT but
    // incomplete next part stalls legitimately (replay may finish it).
    if (target == s && states.exists(_.seq > s) &&
        !states.exists(_.seq == s + 1))
      throw new IllegalStateException(
        s"graft-kv-log: delta part ${s + 1} of $storeDir is gone " +
          s"(compacted or deleted) but the stream's next offset needs it " +
          s"— the checkpoint is below the store's retention floor")
    KVLogOffset(target)
  }

  override def reportLatestOffset(): Offset = KVLogOffset(newestComplete())

  override def deserializeOffset(json: String): Offset =
    KVLogOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[KVLogOffset].seq
    val hi = end.asInstanceOf[KVLogOffset].seq
    (lo + 1 to hi).flatMap { seq =>
      val part = KVDeltaStore.partPath(new Path(storeDir), seq)
      // a part a committed offset range covers must be complete on disk:
      // missing = compacted/deleted log (the checkpoint fell below the
      // retention floor), present-but-incomplete = demoted between
      // planning and execution. Both fail loudly, never silently skip —
      // latestOffset's contiguous advance keeps either from happening in
      // normal operation.
      if (!fs.exists(part))
        throw new IllegalStateException(
          s"graft-kv-log: delta part $part is gone (compacted or deleted) " +
            s"but offsets ($lo, $hi] still need it — the checkpoint is below " +
            "the store's retention floor")
      if (!fs.exists(new Path(part, "_SUCCESS")))
        throw new IllegalStateException(
          s"graft-kv-log: delta part $part lost its _SUCCESS marker after " +
            s"offsets ($lo, $hi] were planned over it — a writer crashed or " +
            "the part was demoted mid-read")
      fs.listStatus(part).map(_.getPath)
        .filter(p => p.getName.endsWith(".parquet"))
        .sortBy(_.getName)
        .map(p => KVLogFilePartition(p.toString, seq): InputPartition)
    }.toArray
  }

  // ship the DRIVER's Hadoop conf to the executors (the KVWriterFactory
  // confW pattern) — a bare executor-side Configuration() would miss
  // spark.hadoop.* filesystem credentials the driver-side listings above
  // already resolve via activeConf (r12 advice #3)
  override def createReaderFactory(): PartitionReaderFactory =
    KVLogReaderFactory(new org.apache.spark.util.SerializableConfiguration(
      KVSegmentStore.activeConf))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class KVLogFilePartition(file: String, seq: Long) extends InputPartition

case class KVLogReaderFactory(
    confR: org.apache.spark.util.SerializableConfiguration)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[KVLogFilePartition]
    new KVLogFileReader(p.file, p.seq, confR.value)
  }
}

/** Row reader over one delta-part parquet file (parquet-mr Group API,
  * the KVSegmentReader discipline), emitting
  * (seq, k, c, v, wts, op) — binary cells, nullable v/wts. `baseConf`
  * is the driver's Hadoop conf shipped through the factory. */
class KVLogFileReader(file: String, seq: Long, baseConf: Configuration)
  extends PartitionReader[InternalRow] {
  private val hadoopConf = new Configuration(baseConf)
  private val fileSchema = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(file), hadoopConf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFooter.getFileMetaData.getSchema finally r.close()
  }
  private val cols = Seq("k", "c", "v", "wts", "op")
  hadoopConf.set(ReadSupport.PARQUET_READ_SCHEMA,
    new org.apache.parquet.schema.MessageType("graft_kv_log",
      cols.map(c => fileSchema.getType(fileSchema.getFieldIndex(c))): _*).toString)
  private val reader =
    ParquetReader.builder(new GroupReadSupport(), new Path(file)).withConf(hadoopConf).build()

  private var current: org.apache.parquet.example.data.Group = _

  override def next(): Boolean = {
    current = reader.read()
    current != null
  }

  override def get(): InternalRow = {
    def bin(c: String): Any =
      if (current.getFieldRepetitionCount(c) == 0) null
      else current.getBinary(c, 0).getBytes
    val wts: Any =
      if (current.getFieldRepetitionCount("wts") == 0) null
      else current.getLong("wts", 0)
    val op: Any =
      if (current.getFieldRepetitionCount("op") == 0) null
      else current.getInteger("op", 0)
    new GenericInternalRow(Array[Any](seq, bin("k"), bin("c"), bin("v"), wts, op))
  }

  override def close(): Unit = reader.close()
}
