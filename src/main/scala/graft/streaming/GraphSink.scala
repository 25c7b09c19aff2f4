package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{functions => F}

import graft.VersionedState
import graft.graph.GraphAlgs

/** Incremental connected components over streaming edge ingestion — the
  * "graph that never stops growing" maintenance problem (entity
  * resolution / dedup-cluster growth in a training-data pipeline).
  *
  * The trick that makes it incremental: a batch never re-reads edge
  * history. The maintained state is the label forest (vid, comp) —
  * already a spanning contraction of everything ingested — and each
  * micro-batch runs min-label propagation on
  * `prev-labels-as-edges ∪ new-batch-edges`: O(V + |batch|) edges,
  * independent of the total edge count ever delivered. Label edges
  * (vid ↔ comp) are component-connectivity-preserving, so the union
  * graph's components provably equal the components of the full edge
  * history (the spec asserts exactly that, against batch CC over all
  * edges). Exactly-once and retention are [[graft.VersionedState]]'s.
  */
object GraphSink {

  /** Start the maintenance query: `edges` rows carry (src, dst). */
  def start(edges: DataFrame, dir: String): StreamingQuery =
    VersionedState.start(edges)(applyBatch(_, dir, _))

  /** Fold one micro-batch of new edges into cc_v{batchId}. */
  def applyBatch(batch: DataFrame, dir: String, batchId: Long): Unit =
    VersionedState(dir, "cc").fold(batch, batchId) { prev =>
      val s = batch.sparkSession
      val newEdges = batch.select(F.col("src").cast("long"), F.col("dst").cast("long"))
      val carried = prev match {
        case Some(p) => s.read.parquet(p.path)
          .select(F.col("vid").as("src"), F.col("comp").as("dst"))
        case None => s.emptyDataFrame
          .select(F.lit(0L).as("src"), F.lit(0L).as("dst")).limit(0)
      }
      val union = carried.unionByName(newEdges)
      val undirected = union.unionByName(
        union.select(F.col("dst").as("src"), F.col("src").as("dst"))).distinct()
      val vertices = undirected.select(F.col("src").as("vid")).distinct()
      GraphAlgs.connectedComponents(vertices, undirected)
    }

  /** The current readable labeling: latest complete snapshot. */
  def read(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    VersionedState(dir, "cc").latest(spark)
      .fold(spark.emptyDataFrame)(p => spark.read.parquet(p.path))
}
