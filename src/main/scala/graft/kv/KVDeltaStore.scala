package graft.kv

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.{functions => F}

/** Mutation-log KCV store: append-only delta batches + merge-on-read +
  * compaction — the Spark analogue of how the reference's backend ACTUALLY
  * stores mutations (ClickHouse MergeTree appends row parts and resolves
  * on merge/read; the reference issues DELETE+INSERT against that engine,
  * ClickhouseKeyColumnValueStore.java:133).
  *
  * Layout under `warehouseDir/name/`:
  *   base/          merged snapshot (k, c, v)            — seq 0
  *   delta_NNNNN/   one mutate batch (k, c, v, op)       — seq N
  * where op = 1 (addition) or 0 (deletion; v null).
  *
  * Read resolution, per (k, c): take the row with the highest
  * (seq, op) — later batches win, and within one batch an addition
  * beats a deletion of the same cell, which is exactly the reference's
  * delete-before-add upsert order. Keep it if it is an addition.
  *
  * Scale: appendMutation writes ONLY the batch (no snapshot rewrite —
  * that is what makes high-frequency mutation viable at 100 TB) in one
  * write through a round-robin rebalance (the shuffle's map stage and
  * the write: two Spark jobs under AQE), so one hot key's
  * mega-mutation still spreads across write tasks (the reference chunks
  * its statements the same way via BATCH_MUTATION_SIZE,
  * QueryHelper.java:51,87); merge-on-read is one window over (k, c)
  * which co-locates with a k-bucketed layout; compact() folds the log
  * back into base/ exactly like a MergeTree background merge.
  *
  * Only COMPLETE parts (parquet `_SUCCESS`) are read: the files of a
  * crashed or still-running append never expose half a batch.
  */
final class KVDeltaStore(spark: SparkSession, warehouseDir: String) {
  import KVDeltaStore._

  // wts = cell write time (millis), the MergeTree-TTL age column: stamped
  // per batch, carried by the winning row through merge-on-read AND
  // compaction. Parquet written before the column existed reads as null =
  // "age unknown, never expires" (conservative; additive schema change).
  private val baseSchema = StructType(Seq(
    StructField("k", BinaryType), StructField("c", BinaryType),
    StructField("v", BinaryType), StructField("wts", LongType)))
  private val deltaSchema = StructType(baseSchema.fields :+ StructField("op", IntegerType))

  private def fs =
    new Path(warehouseDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def dir(name: String) = new Path(warehouseDir, name)
  /** base/, or base__old/ if a compact() crashed between its two renames
    * (the deltas it was folding are still present then, so the old base +
    * deltas view remains correct). */
  private def basePath(name: String): Path = {
    val bp = new Path(dir(name), "base")
    if (fs.exists(bp)) bp else new Path(dir(name), "base__old")
  }

  /** The complete delta parts of `name`'s log, ascending. */
  private def complete(name: String): Seq[Part] = parts(fs, dir(name)).filter(_.complete)

  /** The sequence the next append takes: one past every part on disk,
    * complete or not, so an append never lands on a crashed part's seq. */
  private[kv] def nextSeq(name: String): Long =
    parts(fs, dir(name)).lastOption.map(_.seq + 1).getOrElse(1L)

  /** Append one mutate batch as a new delta part — no snapshot rewrite.
    * Within the batch, an addition of (k,c) supersedes its deletion
    * (delete-before-add upsert, resolved at read time via op ordering).
    * `wts` (the batch's write timestamp, the TTL age column) has NO
    * wall-clock default (r13 advice #4, extended by the r14 review):
    * batch metadata must be reproducible — callers state their own
    * clock (a scenario stamps constants; a streaming sink derives it
    * from the batch id so replays re-stamp identically). */
  def appendMutation(name: String, additions: DataFrame, deletions: DataFrame,
                     wts: Long): Unit =
    appendMutationAt(name, nextSeq(name), additions, deletions, wts)

  /** Append a mutate batch at an EXPLICIT log sequence — the streaming
    * sink's hook: delta ids derived from the micro-batch id stay stable
    * across replays (a replayed batch re-targets the same `delta_<seq>`
    * instead of appending a duplicate behind it). Batch callers should
    * use appendMutation, which derives the next free sequence. */
  def appendMutationAt(name: String, seq: Long, additions: DataFrame,
                       deletions: DataFrame, wts: Long): Unit = {
    require(seq > 0, s"delta sequence must be positive (0 is base), got $seq")
    val batch = additions.select(F.col("k"), F.col("c"), F.col("v"),
      F.lit(wts).as("wts"), F.lit(1).as("op"))
      .unionByName(deletions.select(F.col("k"), F.col("c"),
        F.lit(null).cast(BinaryType).as("v"), F.lit(wts).as("wts"),
        F.lit(0).as("op")))
    // One write, the upstream joins run once: the rebalance is
    // round-robin — key-OBLIVIOUS, so even a single hot key's mutation
    // splits across tasks — and AQE sizes its tasks from the shuffle
    // statistics it collects anyway, so a typical mutation lands as one
    // task.
    batch.hint("rebalance").write.mode(SaveMode.ErrorIfExists)
      .parquet(partPath(dir(name), seq).toString)
  }

  /** Whether `delta_<seq>` exists as a COMPLETE part (parquet _SUCCESS);
    * an incomplete part (crashed write) is deleted so the caller can
    * rewrite it — the streaming sink's replay path. */
  def deltaCompleteOrClear(name: String, seq: Long): Boolean =
    parts(fs, dir(name)).find(_.seq == seq) match {
      case Some(p) if p.complete => true
      case Some(p) => fs.delete(p.path, true); false
      case None => false
    }

  /** The merged view: base ∪ deltas resolved per (k, c) by latest
    * (seq, op). This is the DataFrame every KVStore op (slice/keyScan/
    * mutate) runs against — merge-on-read, nothing materialized. */
  def openDatabase(name: String): DataFrame =
    mergedView(name, complete(name))

  /** Time-travel read: the merged view as of delta `version` (inclusive)
    * — later-appended deltas are invisible, so a reader can pin the store
    * state any mutation batch produced. compact() folds the log into base
    * (seq 0), which moves the travel horizon up to the compaction point —
    * the same retention contract as MergeTree part merges (and Delta
    * VACUUM). Same merge-on-read plan as openDatabase, just over a
    * filtered delta list — no extra work at any scale. */
  def openDatabaseAsOf(name: String, version: Long): DataFrame =
    mergedView(name, complete(name).filter(_.seq <= version))

  /** The merged view over an EXPLICIT delta list — compact() folds and
    * later deletes exactly one snapshot of the log, so a delta appended
    * concurrently is neither half-read nor swept unfolded. */
  private def mergedView(name: String, deltas: Seq[Part]): DataFrame =
    mergedWithMeta(name, deltas).select("k", "c", "v")

  /** The merged view INCLUDING the winning row's write time — what
    * compact() persists and expire() filters on. */
  private def mergedWithMeta(name: String, deltas: Seq[Part]): DataFrame = {
    val base =
      if (fs.exists(basePath(name)))
        spark.read.schema(baseSchema).parquet(basePath(name).toString)
          .select(F.col("k"), F.col("c"), F.col("v"), F.col("wts"),
            F.lit(1).as("op"), F.lit(0L).as("seq"))
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(deltaSchema.fields :+ StructField("seq", LongType)))
    val log = deltas.foldLeft(base) { (acc, p) =>
      acc.unionByName(spark.read.schema(deltaSchema).parquet(p.path.toString)
        .withColumn("seq", F.lit(p.seq)))
    }
    latest(log).filter(F.col("op") === 1).select("k", "c", "v", "wts")
  }

  /** MergeTree-TTL expiry (`TTL <col> + INTERVAL ...` / materialized
    * `ALTER TABLE DELETE`): cells whose winning write is older than
    * `olderThan` are deleted via ONE ordinary mutation batch — no base
    * rewrite, crash-safe and chunk-bounded like any other mutation, and
    * a later re-add of the same cell resurrects it with a fresh age.
    * Cells with unknown age (pre-wts parquet) are conservatively kept.
    * Returns the number of expired cells. */
  def expire(name: String, olderThan: Long,
             wts: Long = System.currentTimeMillis()): Long = {
    val doomed = mergedWithMeta(name, complete(name))
      .filter(F.col("wts").isNotNull && F.col("wts") < olderThan)
      .select("k", "c")
      .localCheckpoint() // pin the victim set: the append below must not re-resolve it
    try {
      val n = doomed.count()
      if (n > 0) {
        val none = doomed.filter(F.lit(false))
          .select(F.col("k"), F.col("c"), F.lit(null).cast(BinaryType).as("v"))
        appendMutation(name, none, doomed, wts)
      }
      n
    } finally GraftSqlBridge.releaseCheckpoints(doomed)
  }

  /** Fold the mutation log into a fresh base snapshot and drop the
    * deltas — the MergeTree background-merge analogue. Crash-safe
    * ordering: the old base is renamed aside (not deleted) before the new
    * one lands, and deltas are only dropped once the new base is in
    * place, so every intermediate state still reads correctly via
    * basePath's base__old fallback. */
  def compact(name: String): Unit = {
    // snapshot the log ONCE: this exact list is folded and, at the end,
    // this exact list is deleted — a delta appended concurrently is left
    // in place for the next compact instead of being swept unfolded
    val deltas = complete(name)
    val merged = mergedWithMeta(name, deltas) // wts survives the merge
    val tmp = new Path(dir(name), "base__tmp")
    merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val bp = new Path(dir(name), "base")
    val old = new Path(dir(name), "base__old")
    if (fs.exists(bp)) {
      // only a LIVE base may displace base__old: in the degraded state
      // (base__old + deltas, no base — a prior compact crashed between
      // its renames) base__old IS the readable base and must survive
      // until the tmp→base rename below lands
      if (fs.exists(old)) fs.delete(old, true)
      require(fs.rename(bp, old), s"compact rename-aside failed for $name")
    }
    require(fs.rename(tmp, bp), s"compact rename failed for $name")
    // ascending order matters: a crash mid-loop leaves only the NEWEST
    // deltas, which re-resolve idempotently over the folded base — the
    // reverse order could resurrect a cell an already-deleted newer
    // delta had removed
    deltas.foreach(p => fs.delete(p.path, true))
    if (fs.exists(old)) fs.delete(old, true)
  }

  def exists(name: String): Boolean = fs.exists(dir(name))

  /** The number of un-compacted delta batches in `name`'s log. */
  def logDepth(name: String): Int = complete(name).size

  /** Size-tiered auto-compaction — the MergeTree background-merge POLICY
    * (parts accumulate until the engine folds them) as an explicit,
    * caller-driven trigger: compact when the log holds at least
    * `threshold` delta batches, otherwise do nothing. Keeping the
    * trigger synchronous-and-explicit (e.g. called after appendMutation,
    * or from a foreachBatch sink) preserves the reader guarantee that
    * compaction is invisible: merge-on-read resolves identically before
    * and after, there is just a bounded amount of log to merge. Returns
    * whether a compaction ran. */
  def maybeCompact(name: String, threshold: Int = 8): Boolean = {
    require(threshold > 0, "threshold must be positive")
    if (logDepth(name) >= threshold) { compact(name); true }
    else false
  }
}

object KVDeltaStore {
  /** One delta part of a store's log: `delta_<seq>/` under the store
    * directory, complete once its parquet `_SUCCESS` marker landed. */
  private[graft] final case class Part(seq: Long, path: Path, complete: Boolean)

  private[graft] def partPath(store: Path, seq: Long): Path = new Path(store, f"delta_$seq%05d")

  /** Every delta part under `store`, complete or not, ascending by seq
    * (numeric: a lexicographic sort would order delta_100000 before
    * delta_99999 once ids outgrow the name padding). */
  private[graft] def parts(fs: FileSystem, store: Path): Seq[Part] =
    if (!fs.exists(store)) Seq.empty
    else fs.listStatus(store).map(_.getPath)
      .filter(_.getName.startsWith("delta_"))
      .map(p => Part(p.getName.stripPrefix("delta_").toLong, p,
        fs.exists(new Path(p, "_SUCCESS"))))
      .sortBy(_.seq).toSeq

  /** The merge-on-read rule over mutation rows (k, c, seq, op, ...): per
    * (k, c), the rows with the greatest (seq, op) — later batches win,
    * and within one batch an addition beats a deletion of the same cell.
    * rank, not row_number: duplicate additions of one (k,c) within the
    * winning batch all tie and ALL survive — exactly what the snapshot
    * path (KVStore.mutate) keeps, and deterministic where row_number
    * would pick an arbitrary duplicate. */
  private[graft] def latest(log: DataFrame): DataFrame = {
    val w = Window.partitionBy("k", "c").orderBy(F.col("seq").desc, F.col("op").desc)
    log.withColumn("__rank", F.rank().over(w)).filter(F.col("__rank") === 1).drop("__rank")
  }
}
