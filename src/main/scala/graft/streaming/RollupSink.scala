package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{functions => F}

import graft.VersionedState

/** Incrementally-maintained materialized aggregate — the ClickHouse
  * `MATERIALIZED VIEW ... AggregatingMergeTree` analogue: an unbounded
  * event stream keeps a per-key rollup (count + exact cents sum) current
  * without ever recomputing from raw history.
  *
  * The state folded per micro-batch is the MERGEABLE partial aggregate
  * (n, sum) — never rows — so a batch's work is one map-side-combined
  * groupBy of the batch plus a groupBy-merge against the previous
  * snapshot: the rollup's size is O(|keys|), independent of stream
  * length, and the merge is associative exactly like an
  * AggregateFunction state column. Exactly-once and retention are
  * [[graft.VersionedState]]'s. The spec proves stream-maintained state ≡
  * the batch groupBy over all events, and replay-idempotence.
  */
object RollupSink {

  /** Start the maintenance query: events must carry (event_type, value). */
  def start(events: DataFrame, dir: String): StreamingQuery =
    VersionedState.start(events)(applyBatch(_, dir, _))

  /** Fold one micro-batch of raw events into rollup_v{batchId}. */
  def applyBatch(batch: DataFrame, dir: String, batchId: Long): Unit =
    VersionedState(dir, "rollup").fold(batch, batchId) { prev =>
      val partial = batch
        .select(F.col("event_type"),
          F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("vc"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).as("n"), F.sum("vc").as("sum_c"))
      prev.fold(partial)(p => batch.sparkSession.read.parquet(p.path)
        .unionByName(partial)
        .groupBy("event_type")
        .agg(F.sum("n").as("n"), F.sum("sum_c").as("sum_c")))
    }

  /** The current readable rollup: latest complete snapshot. */
  def read(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    VersionedState(dir, "rollup").latest(spark)
      .fold(spark.emptyDataFrame)(p => spark.read.parquet(p.path))
}
