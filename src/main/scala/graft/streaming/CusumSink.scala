package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{functions => F}

import graft.VersionedState

/** Incrementally-maintained CUSUM change-detection monitor — the streaming
  * form of q_cusum (OlapSeriesQueries.cusumOverDaily): an unbounded event
  * stream keeps per-(event_type, day) exact cents sums current, and the
  * monitor read runs the s ← max(0, s + x − k) fold over each type's
  * day-ordered series on demand.
  *
  * State design for unbounded streams: the micro-batch fold touches ONLY
  * the mergeable daily partial (one bigint per (type, day) — never raw
  * events), so a batch's work is one map-side-combined groupBy plus a
  * groupBy-merge against the previous snapshot, RollupSink-style. The
  * monitor's state is O(types × observed days) — the natural horizon knob
  * of a drift monitor (a production deployment ages out days beyond its
  * detection window with one filter on `d`). The CUSUM threshold k is the
  * observed mean daily sum (integer div), recomputed from the maintained
  * sums at read time, so monitor() over the maintained state is
  * plan-identical to the batch q_cusum over full history — the spec
  * proves equality and replay idempotence.
  *
  * Exactly-once and retention are [[graft.VersionedState]]'s.
  */
object CusumSink {

  /** Start the maintenance query: events must carry (ts, event_type, value). */
  def start(events: DataFrame, dir: String): StreamingQuery =
    VersionedState.start(events)(applyBatch(_, dir, _))

  /** Fold one micro-batch of raw events into daily_v{batchId}. */
  def applyBatch(batch: DataFrame, dir: String, batchId: Long): Unit =
    VersionedState(dir, "daily").fold(batch, batchId) { prev =>
      val partial = batch
        .select(F.col("event_type"),
          F.expr("unix_micros(ts) div 86400000000").as("d"),
          F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("vc"))
        .groupBy("event_type", "d").agg(F.sum("vc").as("x"))
      prev.fold(partial)(p => batch.sparkSession.read.parquet(p.path)
        .unionByName(partial)
        .groupBy("event_type", "d").agg(F.sum("x").as("x")))
    }

  /** The maintained daily series: latest complete snapshot. */
  def read(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    VersionedState(dir, "daily").latest(spark)
      .fold(spark.emptyDataFrame)(p => spark.read.parquet(p.path))

  /** The monitor read: CUSUM per event_type over the maintained series —
    * the exact fold of the batch q_cusum, on state the stream keeps
    * current. */
  def monitor(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.olap.OlapSeriesQueries.cusumOverDaily(read(spark, dir))
}
