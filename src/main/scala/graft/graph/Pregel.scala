package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

/** Public frontier (delta) Pregel API — the loop under connected
  * components, BFS and weighted shortest paths, exposed so library users
  * can build further min-fixpoint algorithms (reachability under
  * constraints, min-cost labels, earliest-arrival paths, ...) without
  * re-deriving the iteration machinery.
  *
  * Semantics: iterate x(v) ← min(x(v), min over in-neighbors u of
  * msg(x(u), edge)), but only vertices whose x IMPROVED last round send
  * messages. In a min fixpoint a vertex's value can only drop because a
  * neighbor's dropped, so the frontier form reaches the same fixpoint
  * while per-round join work shrinks from |E| to the frontier's
  * out-degree sum — the difference between O(rounds·|E|) and
  * O(Σ frontier out-degrees), which is what survives a 100 TB graph
  * with a large diameter.
  *
  * Mechanics per round: one localCheckpoint materializes
  * (state ⋈ candidates); the updated state, the next frontier, and the
  * convergence probe are all cheap projections of it. At cluster scale
  * localCheckpoint becomes checkpoint to a reliable store, and a
  * vid-bucketed edge table makes the per-round join shuffle-free.
  *
  * @param state0    (vid, x) initial values
  * @param frontier0 subset of state0 that speaks in round 0 (all
  *                  vertices for cc; just the source for sssp — an
  *                  unreached vertex has nothing useful to say)
  * @param edges0    (src, dst [, edge cols]) message topology
  * @param msg       new candidate x for dst, from the src row's x + edge cols
  * @param maxIter   backstop bound on rounds (the frontier-empty check
  *                  exits earlier as soon as nothing improves)
  */
/** Drops the cached blocks of a superseded localCheckpoint. Iterative
  * loops otherwise accumulate one checkpoint per round in the block
  * manager until a driver GC lets ContextCleaner collect them — harmless
  * on a workstation, a steady leak on a long-lived cluster session (and
  * the direct analogue of deleting round N−1's checkpoint files once
  * round N is durable). Only call on checkpoints whose every downstream
  * consumer reads a LATER materialized checkpoint: an unpersisted
  * localCheckpoint is unrecoverable (lineage is truncated). */
private[graph] object CheckpointGC {
  def unpersist(df: DataFrame): Unit = {
    val rdds = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    // A derived plan can embed OTHER live checkpoints (e.g. a loop's static
    // edge list) whose sweep would be unrecoverable — demand the frame IS
    // a single checkpoint, not merely contains some.
    require(rdds.size == 1,
      s"CheckpointGC.unpersist expects a frame rooted at exactly one " +
        s"LogicalRDD (a single materialized checkpoint); got ${rdds.size}. " +
        "Pass the checkpointed DataFrame itself, not a plan derived from it.")
    rdds.foreach(_.unpersist(false))
  }
}

object Pregel {
  def minPropagate(state0: DataFrame, frontier0: DataFrame => DataFrame,
                   edges0: DataFrame, msg: Column,
                   maxIter: Int): DataFrame = {
    // materialize the edge list once — otherwise its lineage (symmetrize/
    // distinct/derive) re-runs inside every round's join. Repartition by
    // src FIRST: the checkpointed Dataset keeps that hash partitioning in
    // its LogicalRDD, so every round's edges⋈frontier join exchanges only
    // the (small) frontier side — without it the FULL edge list shuffles
    // once per round, which is the dominant cost at any scale
    val edges = edges0.repartition(F.col("src")).localCheckpoint()
    var state = state0.localCheckpoint()
    // the checkpoint superseded once the current round's is materialized
    var prevCkpt = state
    var frontier = frontier0(state)
    val improved =
      (F.col("x").isNull && F.col("cand").isNotNull) || F.col("cand") < F.col("x")
    var done = false
    var i = 0
    while (!done && i < maxIter) {
      val cand = edges
        .join(frontier, edges("src") === frontier("vid"))
        .select(F.col("dst").as("vid"), msg.as("x"))
        .groupBy("vid").agg(F.min("x").as("cand"))
      // outer join: a vid that appears only as an edge destination (not in
      // state0) still materializes — it enters the state at its first
      // message's value and joins the frontier, matching the
      // union+groupBy formulation this loop replaced.
      // LAZY localCheckpoint + count probe = ONE job per materialization:
      // the count computes every partition (unlike isEmpty, which can stop
      // at the first hit and leave the checkpoint cache partial), so the
      // same job that answers convergence also materializes the cache and
      // truncates lineage. The eager form ran a second, checkpoint-only job.
      val joined = state.join(cand, Seq("vid"), "outer")
        .select(F.col("vid"), F.col("x"), F.col("cand"))
        .localCheckpoint(false)
      state = joined.select(F.col("vid"), F.least(F.col("x"), F.col("cand")).as("x"))
      frontier = joined.filter(improved).select(F.col("vid"), F.col("cand").as("x"))
      done = joined.filter(improved).count() == 0L
      // this round's state/frontier read joined's blocks only — the
      // previous round's checkpoint has no remaining consumer
      CheckpointGC.unpersist(prevCkpt)
      prevCkpt = joined
      i += 1
    }
    state
  }
}
