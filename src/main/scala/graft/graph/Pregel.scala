package graft.graph

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.{functions => F}

/** The superstep driver: every iterative loop of [[GraphAlgs]],
  * [[Pregel.minPropagate]], the [[GraphQueries]] loops (gMis, gMatching,
  * gLouvain's merge levels; gHits, gWalks and gNode2vec for their inputs)
  * and [[Traversal]]'s `repeat().until()` runs through it, so an algorithm
  * states only its per-round plan and, if it has one, its convergence
  * probe.
  *
  * `localCheckpoint` truncates lineage (without it the plan doubles per
  * round and Catalyst analysis dominates). A loop without a probe
  * ([[fixed]]) checkpoints eagerly every 2nd round and after the last:
  * shallow plans at half the barriers. A loop with one ([[probed]])
  * checkpoints lazily each round, and the probe — a count or sum, which
  * computes every partition — fills the checkpoint in the same job that
  * decides convergence.
  *
  * A checkpoint the driver made is released once no live frame reads it,
  * following RDD lineage, so nothing a not-yet-materialized checkpoint
  * depends on goes: after a round the live frames are its checkpoint and
  * the kept ones, on return the result. Left alone, superseded
  * checkpoints sit in the block manager until a driver GC wakes Spark's
  * ContextCleaner. A caller's checkpoints are never released; a driver
  * run inside another's round hands those its result reads to the
  * enclosing driver.
  */
private[graph] final class Superstep private () {
  private var owned = Vector.empty[RDD[_]]
  private var kept = Vector.empty[DataFrame]

  private def own(ckpt: DataFrame): DataFrame = { owned ++= GraftSqlBridge.checkpoints(ckpt); ckpt }

  /** Keeps `df` — and every checkpoint it reads — live until return. */
  def keep(df: DataFrame): DataFrame = { kept :+= df; df }

  /** A loop-invariant input (an edge list, zero rows), checkpointed
    * eagerly and kept for every round. */
  def input(df: DataFrame): DataFrame = keep(own(df.localCheckpoint()))

  /** A loop's first state, or a barrier a hand-written loop places
    * itself, checkpointed eagerly; released once no live frame reads it. */
  def initial(df: DataFrame): DataFrame = own(df.localCheckpoint())

  /** `rounds` applications of `round`, with no probe. */
  def fixed(init: DataFrame, rounds: Int)(round: DataFrame => DataFrame): DataFrame = {
    var s = init
    for (r <- 1 to rounds) {
      s = round(s)
      if (r % 2 == 0 || r == rounds) {
        s = own(s.localCheckpoint())
        release(s +: kept)
      }
    }
    s
  }

  /** Up to `maxRounds` rounds: `round(s, r)` plans round r's checkpoint
    * from state `s`; `next(s, ckpt)` derives the next state, which may
    * read only `ckpt` and kept frames, and runs the probe. */
  def probed[S](init: S, maxRounds: Int)(round: (S, Int) => DataFrame)(
      next: (S, DataFrame) => (S, Boolean)): S = {
    var s = init
    var done = false
    var r = 0
    while (!done && r < maxRounds) {
      r += 1
      val ckpt = own(round(s, r).localCheckpoint(false))
      val (s1, converged) = next(s, ckpt)
      s = s1
      done = converged
      release(ckpt +: kept)
    }
    s
  }

  /** Unpersists every checkpoint this driver owns that `live` does not read. */
  private def release(live: Seq[DataFrame]): Unit = {
    val read = Superstep.reads(live)
    val (stay, go) = owned.partition(r => read(r.id))
    go.foreach(GraftSqlBridge.release(_))
    owned = stay
  }
}

private[graph] object Superstep {
  // not inherited: a thread started inside a round is not part of it
  private val enclosing = new ThreadLocal[Superstep]

  /** Runs one algorithm call under a fresh driver. */
  def run(body: Superstep => DataFrame): DataFrame = {
    val outer = enclosing.get
    val loop = new Superstep
    enclosing.set(loop)
    val res = try body(loop) finally enclosing.set(outer)
    loop.release(Seq(res))
    if (outer != null) outer.owned ++= loop.owned
    res
  }

  /** Ids of the RDDs `frames` read: their checkpoints and, until those
    * are materialized, their lineage. */
  private def reads(frames: Seq[DataFrame]): Set[Int] = {
    val seen = scala.collection.mutable.Set.empty[Int]
    def walk(r: RDD[_]): Unit = if (seen.add(r.id)) r.dependencies.foreach(d => walk(d.rdd))
    frames.flatMap(GraftSqlBridge.checkpoints).foreach(walk)
    seen.toSet
  }
}

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
  */
object Pregel {
  /** @param state0    (vid, x) initial values
    * @param frontier0 subset of state0 that speaks in round 0 (all
    *                  vertices for cc; just the source for sssp — an
    *                  unreached vertex has nothing useful to say)
    * @param edges0    (src, dst [, edge cols]) message topology
    * @param msg       new candidate x for dst, from the src row's x + edge cols
    * @param maxIter   backstop bound on rounds (the frontier-empty check
    *                  exits earlier as soon as nothing improves)
    */
  def minPropagate(state0: DataFrame, frontier0: DataFrame => DataFrame,
                   edges0: DataFrame, msg: Column,
                   maxIter: Int): DataFrame = Superstep.run { loop =>
    // materialize the edge list once — otherwise its lineage (symmetrize/
    // distinct/derive) re-runs inside every round's join. Repartition by
    // src FIRST: the checkpointed Dataset keeps that hash partitioning in
    // its LogicalRDD, so every round's edges⋈frontier join exchanges only
    // the (small) frontier side — without it the FULL edge list shuffles
    // once per round, which is the dominant cost at any scale
    val edges = loop.input(edges0.repartition(F.col("src")))
    val init = loop.initial(state0)
    val improved =
      (F.col("x").isNull && F.col("cand").isNotNull) || F.col("cand") < F.col("x")
    loop.probed((init, frontier0(init)), maxIter) { case ((state, frontier), _) =>
      val cand = edges
        .join(frontier, edges("src") === frontier("vid"))
        .select(F.col("dst").as("vid"), msg.as("x"))
        .groupBy("vid").agg(F.min("x").as("cand"))
      // outer join: a vid that appears only as an edge destination (not in
      // state0) still materializes — it enters the state at its first
      // message's value and joins the frontier, matching the
      // union+groupBy formulation this loop replaced
      state.join(cand, Seq("vid"), "outer")
        .select(F.col("vid"), F.col("x"), F.col("cand"))
    } { (_, joined) =>
      val changed = joined.filter(improved)
      ((joined.select(F.col("vid"), F.least(F.col("x"), F.col("cand")).as("x")),
        changed.select(F.col("vid"), F.col("cand").as("x"))),
        changed.count() == 0L)
    }._1
  }
}
