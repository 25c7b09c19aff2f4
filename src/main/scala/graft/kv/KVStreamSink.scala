package graft.kv

import org.apache.hadoop.conf.Configuration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{functions => F}

import graft.GraftFs

/** Streaming mutation ingestion for the KV store — the reference's
  * `mutateMany` (ClickhouseStoreManager.java:49) fed from an unbounded
  * stream instead of a batch call.
  *
  * Each micro-batch of `(k, c, v, is_delete)` mutations appends ONE
  * [[KVDeltaStore]] delta part — O(batch) I/O — with the batch
  * semantics of `KVStore.mutate` (deletes strictly before adds, add
  * upserts its own cell), and size-tiered maybeCompact bounds the log
  * depth; readers go through the store's merge-on-read view, where
  * compaction is invisible by contract.
  *
  * Exactly-once across replays:
  *   - delta ids are derived from the batchId (seq = batchId + 1), so a
  *     replayed batch re-targets ITS OWN part: complete part → skip;
  *     incomplete part (crashed write) → deleted and rewritten;
  *   - compaction deletes folded parts, so part-presence alone cannot
  *     dedupe a replay whose delta was already folded — the high-water
  *     mark file (_stream_hwm, atomically renamed into place after each
  *     applied batch) records the last applied batchId and wins first.
  *   - a crash between the delta write and the hwm rename replays into
  *     the complete-part skip; a crash between hwm and maybeCompact
  *     only defers compaction, which is invisible anyway.
  */
object KVStreamSink {
  /** Start ingestion into `warehouseDir/name` (micro-batch foreachBatch
    * sink over KVDeltaStore.appendMutationAt). */
  def start(mutations: DataFrame, warehouseDir: String, name: String,
            compactThreshold: Int = 8): StreamingQuery =
    mutations.writeStream
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        applyBatch(batch, warehouseDir, name, batchId, compactThreshold))
      .start()

  /** Append one micro-batch as delta_{batchId+1}. Idempotent by batchId. */
  def applyBatch(batch: DataFrame, warehouseDir: String, name: String,
                 batchId: Long, compactThreshold: Int = 8): Unit = {
    val conf = batch.sparkSession.sparkContext.hadoopConfiguration
    if (readHwm(conf, warehouseDir, name) >= batchId)
      return // applied (maybe folded)
    val store = new KVDeltaStore(batch.sparkSession, warehouseDir)
    val seq = batchId + 1
    if (!store.deltaCompleteOrClear(name, seq)) {
      val adds = batch.filter(!F.col("is_delete")).select("k", "c", "v")
      val dels = batch.filter(F.col("is_delete")).select("k", "c")
      // wts derives from the batch id, NOT wall-clock: a replayed batch
      // re-stamps the SAME age, keeping the delta part byte-reproducible
      store.appendMutationAt(name, seq, adds, dels, wts = seq)
    }
    writeHwm(conf, warehouseDir, name, batchId)
    store.maybeCompact(name, compactThreshold): Unit
  }

  /** The current readable store: the merge-on-read view. */
  def read(spark: SparkSession, warehouseDir: String, name: String): DataFrame =
    new KVDeltaStore(spark, warehouseDir).openDatabase(name)

  /** Fold a graft-kv-log CDC micro-batch down to its mutation set: one
    * batch may span SEVERAL source log parts (admission control permits
    * it; AvailableNow without maxSeqsPerBatch drains the whole log as
    * one batch), and applyBatch writes the whole batch under ONE
    * replica sequence — so cross-part ordering must resolve BEFORE the
    * fold or a cell added in part N and deleted in part N+1 would
    * resurrect (the replica's same-seq tie-break prefers additions).
    * Resolution is the store's own merge-on-read rule,
    * [[KVDeltaStore.latest]]. Output (k, c, v, is_delete) — applyBatch's
    * input shape. */
  def foldCdc(batch: DataFrame): DataFrame =
    KVDeltaStore.latest(batch).select(F.col("k"), F.col("c"), F.col("v"),
      (F.col("op") === 0).as("is_delete"))

  /** A graft-kv-log CDC micro-batch as applyBatch's mutations. A
    * batch read from one log seq passes through: the replica's
    * merge-on-read applies the same same-seq resolution (op desc:
    * addition beats deletion), with no rank window. Any other batch
    * goes through [[foldCdc]]. The seqs come from the batch's planned
    * input partitions, so deciding runs no job. */
  def cdcMutations(batch: DataFrame): DataFrame =
    if (plannedSeqs(batch.queryExecution.toRdd).size == 1)
      batch.select(F.col("k"), F.col("c"), F.col("v"),
        (F.col("op") === 0).as("is_delete"))
    else foldCdc(batch)

  /** The log seqs of the graft-kv-log input partitions in `rdd`'s lineage. */
  private def plannedSeqs(rdd: org.apache.spark.rdd.RDD[_]): Set[Long] =
    rdd.partitions.iterator.flatMap {
      case p: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
        p.inputPartitions.collect {
          case l: graft.sources.kvconnector.KVLogFilePartition => l.seq
        }
      case _ => Nil
    }.toSet ++ rdd.dependencies.flatMap(d => plannedSeqs(d.rdd))

  private def hwmFile(warehouseDir: String, name: String): String =
    GraftFs.child(GraftFs.child(warehouseDir, name), "_stream_hwm")

  private def readHwm(conf: Configuration, warehouseDir: String,
                      name: String): Long =
    GraftFs.readText(conf, hwmFile(warehouseDir, name))
      .map(_.trim.toLong).getOrElse(-1L)

  private def writeHwm(conf: Configuration, warehouseDir: String,
                       name: String, batchId: Long): Unit =
    GraftFs.writeTextAtomic(conf, hwmFile(warehouseDir, name),
      batchId.toString)
}
