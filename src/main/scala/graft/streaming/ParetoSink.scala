package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{functions => F}

import graft.VersionedState

/** Incrementally-maintained per-customer revenue partials — the state
  * behind a LIVE revenue-concentration (Pareto / ABC) dashboard: an
  * unbounded order stream keeps exact per-customer cents sums current,
  * and the q_pareto concentration fold (OlapBizQueries.concentrate) reads
  * the snapshot without ever rescanning order history.
  *
  * Same maintenance contract as RollupSink (the AggregatingMergeTree
  * analogue): the folded state is the MERGEABLE partial (one exact BIGINT
  * sum per customer — O(|customers|), independent of stream length);
  * exactly-once and retention are [[graft.VersionedState]]'s. The
  * concentration read stays
  * the scale-safe two-level prefix sum — maintaining the state changes
  * WHEN revenue is folded, never the plan shape of the read.
  */
object ParetoSink {

  /** Start the maintenance query: orders must carry (o_custkey, o_totalprice). */
  def start(orders: DataFrame, dir: String): StreamingQuery =
    VersionedState.start(orders)(applyBatch(_, dir, _))

  /** Fold one micro-batch of raw orders into pareto_v{batchId}. */
  def applyBatch(batch: DataFrame, dir: String, batchId: Long): Unit =
    VersionedState(dir, "pareto").fold(batch, batchId) { prev =>
      val partial = batch
        .select(F.col("o_custkey"),
          F.expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)").as("vc"))
        .groupBy("o_custkey")
        .agg(F.sum("vc").as("rc"))
      prev.fold(partial)(p => batch.sparkSession.read.parquet(p.path)
        .unionByName(partial)
        .groupBy("o_custkey")
        .agg(F.sum("rc").as("rc")))
    }

  /** The current readable per-customer revenue frame: latest complete
    * snapshot, (o_custkey, rc). */
  def read(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    VersionedState(dir, "pareto").latest(spark)
      .fold(spark.emptyDataFrame)(p => spark.read.parquet(p.path))
}
