package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{functions => F}

import graft.VersionedState
import graft.graph.GraphAlgs

/** Incrementally-maintained PageRank over streaming edge ingestion — the
  * JanusGraph "centrality of a growing graph" maintenance problem.
  *
  * Unlike components (GraphSink), PageRank has no sublinear merge: new
  * edges redistribute mass globally. What CAN be saved is the iteration
  * count — each micro-batch warm-starts the integer power iteration from
  * the previous snapshot's ranks (the recurrence contracts to the same
  * fixed point from any start), so a small edge delta re-converges in
  * `RefreshIters` rounds instead of a cold run's 10–20. Per-batch cost is
  * RefreshIters·|E| with the edge side partitioned once per batch; at
  * 100 TB the edge accumulation is a bucketed table appended per batch
  * and the rank join exchanges only the rank side (see
  * GraphAlgs.pagerankFrom). Exactly-once and retention of the `pr_v`
  * ranks are [[graft.VersionedState]]'s. The `edges_v` deltas are a log
  * read whole, not snapshots, so retention never touches them.
  */
object RankSink {

  /** Warm-start refresh rounds per micro-batch (delta batches). */
  val RefreshIters = 6

  /** Bootstrap rounds for the first batch — a cold start from uniform
    * needs a full power-iteration run; only deltas get the short
    * refresh. */
  val ColdIters = 16

  /** Start the maintenance query: `edges` rows carry (src, dst). */
  def start(edges: DataFrame, dir: String): StreamingQuery =
    VersionedState.start(edges)(applyBatch(_, dir, _))

  /** Fold one micro-batch of new edges into pr_v{batchId}. */
  def applyBatch(batch: DataFrame, dir: String, batchId: Long): Unit =
    VersionedState(dir, "pr").fold(batch, batchId) { prevRanks =>
      val s = batch.sparkSession
      // land the delta first (a replay rewrites the same rows)
      val log = VersionedState(dir, "edges")
      batch.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .write.mode("overwrite").parquet(log.path(batchId))
      val edges = s.read.parquet(
        log.complete(s.sparkContext.hadoopConfiguration, batchId).map(_.path): _*)
      val vertices = edges.select(F.col("src").as("vid"))
        .unionByName(edges.select(F.col("dst").as("vid"))).distinct()
      val n = vertices.count()
      val init = 1000000000000L / n
      // previous fixed point where known; uniform mass for new vertices
      val (pr0, iters) = prevRanks match {
        case Some(p) =>
          val prev = s.read.parquet(p.path).select(F.col("vid"), F.col("pr").as("prev"))
          (vertices.join(prev, Seq("vid"), "left")
            .select(F.col("vid"), F.coalesce(F.col("prev"), F.lit(init)).as("pr")),
            RefreshIters)
        case None => (vertices.select(F.col("vid"), F.lit(init).as("pr")), ColdIters)
      }
      GraphAlgs.pagerankFrom(vertices, n, pr0, edges.select("src", "dst"), iters)
    }

  /** The current readable ranking: latest complete snapshot. */
  def read(spark: SparkSession, dir: String): DataFrame =
    VersionedState(dir, "pr").latest(spark)
      .fold(spark.emptyDataFrame)(p => spark.read.parquet(p.path))
}
