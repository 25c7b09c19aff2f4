package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{functions => F}

import graft.VersionedState

/** Incrementally-maintained GLOBAL heavy hitters — the stream-lifetime
  * topK (the windowed Misra-Gries aggregate in EventStream covers
  * per-window top-k; this maintains one sketch over the WHOLE stream,
  * the "most active users ever" monitor).
  *
  * State per micro-batch fold: the previous snapshot's ≤ capacity
  * (term, weight) counters union'd with the batch's raw terms (weight 1),
  * pushed through ONE global FreqItemsWeightedSketch. Re-offering a
  * sketch's emitted counters into a fresh sketch is exactly the
  * Agarwal et al. mergeable-summaries rule (pointwise sum, then trim to
  * capacity), so the maintained estimate keeps the classic Misra-Gries
  * guarantee against the FULL stream: est ≤ true ≤ est + N/(capacity+1),
  * exact whenever lifetime distinct terms ≤ capacity — the spec proves
  * both regimes. Snapshot size is O(capacity) forever; the batch work is
  * one map-side-combined aggregate.
  *
  * Exactly-once and retention are [[graft.VersionedState]]'s.
  */
object TopKSink {

  private val snapSchema = StructType(Seq(
    StructField("rnk", LongType), StructField("term", StringType),
    StructField("w", LongType)))

  /** Start the maintenance query; `termCol` names the heavy-hitter term
    * column (default `user_id` — JourneyStream composes with "path"). */
  def start(events: DataFrame, dir: String, capacity: Int = 64,
            termCol: String = "user_id"): StreamingQuery =
    VersionedState.start(events)(applyBatch(_, dir, _, capacity, termCol))

  /** Fold one micro-batch of raw events into topk_v{batchId}. */
  def applyBatch(batch: DataFrame, dir: String, batchId: Long,
                 capacity: Int, termCol: String = "user_id"): Unit =
    VersionedState(dir, "topk").fold(batch, batchId) { prevVersion =>
      val s = batch.sparkSession
      val incoming = batch
        .select(F.col(termCol).cast("string").as("term"), F.lit(1L).as("w"))
      val prev = prevVersion match {
        case Some(p) => s.read.schema(snapSchema).parquet(p.path).select("term", "w")
        case None => s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(snapSchema.fields.filter(_.name != "rnk")))
      }
      graft.operators.FreqItems
        .globalWeighted(incoming.unionByName(prev), F.col("term"), F.col("w"), capacity)
    }

  /** The current heavy-hitter list: (rnk, term, w) by weight DESC, at
    * the latest complete version with id ≤ `upTo` (empty when none). */
  def read(spark: org.apache.spark.sql.SparkSession, dir: String,
           upTo: Long = Long.MaxValue): DataFrame =
    VersionedState(dir, "topk").complete(spark.sparkContext.hadoopConfiguration, upTo)
      .lastOption.fold(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snapSchema))(
        p => spark.read.schema(snapSchema).parquet(p.path))
}
