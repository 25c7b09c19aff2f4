package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

/** Iterative graph algorithms as DataFrame Pregel loops: state(vid, x)
  * joined with the edge list, messages aggregated by dst, state updated —
  * one shuffle per iteration, keyed on vid throughout so a vid-bucketed
  * graph never re-partitions. Every loop runs under the [[Superstep]]
  * driver, as do [[GraphQueries]]' gMis, gMatching and Louvain merge
  * levels and [[Traversal]]'s `repeat().until()` frontier; the driver
  * owns the checkpoint cadence and release, and a loop states its
  * per-round plan and, if it has one, its convergence probe — a
  * driver-side count or sum over the checkpoint, not a collect of state.
  *
  * PageRank runs in scaled *integer* arithmetic (units of 1e-12): floor
  * division is bit-identical across Spark, DuckDB and any partition
  * order, so a 1000-executor re-run reproduces the oracle exactly —
  * double-precision PR would drift with summation order.
  */
object GraphAlgs {

  /** Connected components by min-vid label propagation over an
    * (already symmetrized) undirected edge list. Returns (vid, comp). */
  def connectedComponents(vertices: DataFrame, undirected0: DataFrame,
                          maxIter: Int = 20): DataFrame =
    Pregel.minPropagate(
      vertices.select(F.col("vid"), F.col("vid").as("x")),
      identity,
      undirected0.select("src", "dst"),
      F.col("x"), maxIter)
      .select(F.col("vid"), F.col("x").as("comp"))

  /** 1.0 in rank units (1e-12). */
  private val One = 1000000000000L

  /** PageRank, `iters` fixed iterations, d = 0.85, dangling mass dropped
    * (both engines drop it identically). pr is a BIGINT in 1e-12 units:
    * pr0 = 1e12/N;  pr'(v) = (15*(1e12/N))/100 + (85*Σ_in pr(u)/deg(u))/100
    * with every division an integer floor division. */
  def pagerank(vertices: DataFrame, edges: DataFrame, iters: Int = 10): DataFrame = {
    val init = One / vertices.count()
    rank(vertices, vertices.select(F.col("vid"), F.lit(init).as("pr")), edges,
      F.lit((15L * init) / 100L), iters)
  }

  /** The [[pagerank]] recurrence warm-started from an arbitrary rank
    * vector `pr0` (vid, pr in 1e-12 units) — the incremental-maintenance
    * entry: after an edge delta, a few rounds from the previous fixed
    * point re-converge instead of restarting from uniform (the recurrence
    * is a contraction toward the same fixed point from any start). `n`
    * is `vertices`' row count, which the caller has already counted. */
  private[graft] def pagerankFrom(vertices: DataFrame, n: Long, pr0: DataFrame,
                                  edges: DataFrame, iters: Int): DataFrame =
    rank(vertices, pr0, edges, F.lit((15L * (One / n)) / 100L), iters)

  /** Personalized PageRank: teleport mass returns to `srcVid` only —
    * pr0 = 1e12·e_src; pr'(v) = [v = src]·(15·1e12)/100 + (85·Σ_in pr(u)
    * div deg(u)) div 100, every division an integer floor division (same
    * reproducibility argument as [[pagerank]]). Returns every vertex's
    * rank in 1e-12 units (zero until mass reaches it). */
  def personalizedPagerank(vertices: DataFrame, edges: DataFrame, srcVid: Long,
                           iters: Int = 10): DataFrame =
    rank(vertices,
      vertices.select(F.col("vid"), F.when(F.col("vid") === srcVid, One).otherwise(0L).as("pr")),
      edges, F.when(F.col("vid") === srcVid, (15L * One) / 100L).otherwise(0L), iters)

  /** The loop under every PageRank variant: pr'(v) = teleport(v) +
    * (85·Σ_in pr(u) div deg(u)) div 100, `iters` rounds from `pr0`;
    * `teleport` is a column over vid. */
  private def rank(vertices: DataFrame, pr0: DataFrame, edges: DataFrame,
                   teleport: Column, iters: Int): DataFrame = Superstep.run { loop =>
    val outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).as("deg"))
    // (src, dst, deg) — static across iterations; repartition by src so
    // the captured partitioning makes every iteration's pr-join exchange
    // only the rank side, never the edge list (see Pregel)
    val withDeg = loop.input(edges.select("src", "dst").join(outdeg, "src")
      .repartition(F.col("src")))
    val zeros = loop.input(vertices.select(F.col("vid"), F.lit(0L).as("m")))
    loop.fixed(pr0.select("vid", "pr"), iters) { pr =>
      // messages ∪ a zero row per vertex, then ONE groupBy — replaces the
      // groupBy(dst) + left-join(vertices) pair (two shuffles → one; the
      // zero rows also restore dangling vertices' base rank)
      val msgs = withDeg
        .join(pr, withDeg("src") === pr("vid"))
        .select(F.col("dst").as("vid"), F.expr("pr div deg").as("m"))
      zeros.unionByName(msgs)
        .groupBy("vid").agg(F.sum("m").as("m"))
        .select(F.col("vid"), (teleport + F.expr("(85 * m) div 100")).as("pr"))
    }
  }

  /** BFS hop count from `sourceVid` over an undirected edge list;
    * returns reachable (vid, d). Frontier form: round k's senders are
    * exactly the vertices first reached at hop k. */
  def sssp(vertices: DataFrame, undirected0: DataFrame, sourceVid: Long,
           maxIter: Int = 10): DataFrame =
    distances(vertices, undirected0.select("src", "dst"),
      F.col("vid") === sourceVid, F.lit(1L), maxIter)

  /** Reachable (vid, d): the least Σ `step` over paths from any vertex
    * matching `isSource`, by the frontier Pregel. */
  private def distances(vertices: DataFrame, edges: DataFrame, isSource: Column,
                        step: Column, maxIter: Int): DataFrame = {
    val INF = Int.MaxValue.toLong
    Pregel.minPropagate(
      vertices.select(F.col("vid"), F.when(isSource, 0L).otherwise(INF).as("x")),
      _.filter(F.col("x") < INF), edges, F.col("x") + step, maxIter)
      .filter(F.col("x") < INF)
      .select(F.col("vid"), F.col("x").as("d"))
  }

  /** Shortest-path TREE with materialized path strings — the traversal
    * `g.V(src).repeat(out()).path()` capability: every reachable vertex
    * gets ONE canonical shortest path (predecessor = the minimum vid
    * among neighbors one hop closer — a deterministic pick, so the tree
    * is a pure function of the graph). Distances come from the frontier
    * BFS; predecessors are one 3-way join + min aggregate; paths
    * materialize level by level — `eccentricity` rounds of a join keyed
    * on the predecessor, each joining only the PREVIOUS level's paths
    * (frontier-sized, not |V|), so the loop does diameter × one-shuffle
    * rounds, same budget as the BFS itself. */
  def shortestPathTree(vertices: DataFrame, undirected0: DataFrame,
                       sourceVid: Long, maxIter: Int = 10): DataFrame = {
    // Distance AND min-vid predecessor from ONE Pregel run over a
    // struct-valued state x = (d, p): min over structs is lexicographic,
    // so the fixpoint is (min distance, min sender achieving it) — and in
    // frontier BFS ALL of a vertex's distance-(d−1) neighbors send in
    // round d (each improved in round d−1), so the min sender IS the
    // minimum vid among neighbors one hop closer, exactly the pred the
    // separate dist⋈edges⋈dist 3-way join used to compute. Replaces that
    // join, its checkpoint job, and the final dist re-join (the level
    // literal carries d) — 3 fewer shuffles, 2 fewer jobs per call.
    val res = Pregel.minPropagate(
      vertices.select(F.col("vid"),
        F.when(F.col("vid") === sourceVid,
          F.struct(F.lit(0L).as("d"), F.lit(Long.MaxValue).as("p"))).as("x")),
      _.filter(F.col("x").isNotNull),
      undirected0.select("src", "dst"),
      F.struct((F.col("x.d") + 1L).as("d"), F.col("src").as("p")), maxIter)
      .filter(F.col("x").isNotNull)
      .select(F.col("vid"), F.col("x.d").as("d"), F.col("x.p").as("p"))
    val maxD = res.agg(F.max("d")).head().getLong(0)
    // the level chain is only `diameter` joins deep over the checkpointed
    // tree — one lazy plan, no per-level materialization barrier
    var lvl = res.filter(F.col("d") === 0L)
      .select(F.col("vid"), F.lit(0L).as("d"),
        F.col("vid").cast("string").as("path"))
    var acc = lvl
    (1L to maxD).foreach { k =>
      lvl = res.filter(F.col("d") === k)
        .join(lvl.select(F.col("vid").as("p"), F.col("path").as("pp")), "p")
        .select(F.col("vid"), F.lit(k).as("d"),
          F.concat(F.col("pp"), F.lit("->"), F.col("vid").cast("string")).as("path"))
      acc = acc.unionAll(lvl)
    }
    acc
  }

  /** Weighted single-source shortest paths (distributed Bellman-Ford):
    * frontier = vertices whose distance improved last round (only they
    * can improve a neighbor). `weighted` is (src, dst, w) with integer
    * weights. maxIter is a backstop: min-cost paths can use far more
    * hops than the BFS diameter, so the cap covers |V|-ish worst cases;
    * the frontier-empty check exits as soon as no relaxation fires.
    * Returns reachable (vid, d). */
  def weightedSssp(vertices: DataFrame, weighted0: DataFrame, sourceVid: Long,
                   maxIter: Int = 60): DataFrame =
    distances(vertices, weighted0.select("src", "dst", "w"),
      F.col("vid") === sourceVid, F.col("w"), maxIter)

  /** Community detection by synchronous label propagation, `iters` fixed
    * rounds (sync + deterministic tie-break = reproducible across
    * engines/partitionings, unlike classic async LPA). Each round every
    * vertex adopts its neighbors' most frequent label, ties to the
    * smallest label; isolated vertices keep their own. */
  def labelPropagation(vertices: DataFrame, undirected0: DataFrame,
                       iters: Int = 5): DataFrame = Superstep.run { loop =>
    // src-partitioned once: each round's edge⋈labels join reuses it and
    // exchanges only the label side (see Pregel)
    val undirected = loop.input(undirected0.repartition(F.col("src")))
    loop.fixed(loop.initial(vertices.select(F.col("vid"), F.col("vid").as("lbl"))),
      iters) { labels =>
      // most-frequent neighbor label, ties to smallest: max on the
      // (count, -lbl) struct — a second partial-aggregatable groupBy
      // instead of a window (drops the per-iteration window SORT; vids
      // are ≥ 0 so -lbl is ANSI-safe)
      val top = undirected
        .join(labels, undirected("src") === labels("vid"))
        .groupBy(F.col("dst").as("vid"), F.col("lbl")).agg(F.count(F.lit(1)).as("c"))
        .groupBy("vid")
        .agg(F.max(F.struct(F.col("c"), (-F.col("lbl")).as("nl"))).as("t"))
        .select(F.col("vid"), (-F.col("t.nl")).as("new_lbl"))
      labels
        .join(top, Seq("vid"), "left")
        .select(F.col("vid"), F.coalesce(F.col("new_lbl"), F.col("lbl")).as("lbl"))
    }
  }

  /** k-core: `rounds` synchronous peeling rounds — each round drops every
    * vertex whose degree among the survivors is < k. Fixed-round
    * semantics (a round at the fixpoint is a no-op) keep the result
    * reproducible on any engine without a convergence probe; pick rounds
    * ≥ the expected cascade depth. Returns the surviving (vid) set.
    *
    * Scale: each round is one semi-join pair + one count per src — all
    * keyed on vertex id, so a vid-bucketed edge list co-locates every
    * round; survivor sets only shrink, so per-round work is monotone
    * non-increasing. */
  def kCore(vertices: DataFrame, undirected0: DataFrame, k: Int,
            rounds: Int = 10): DataFrame = Superstep.run { loop =>
    val edges = loop.input(undirected0.select("src", "dst").repartition(F.col("src")))
    val surv0 = loop.initial(vertices.select("vid"))
    loop.probed((surv0, surv0.count()), rounds) { case ((surv, _), _) =>
      // alive edge = both endpoints survive; degree = alive out-edges per
      // src (the symmetric list counts each undirected edge at both ends)
      edges
        .join(surv.select(F.col("vid").as("src")), "src", "left_semi")
        .join(surv.select(F.col("vid").as("dst")), "dst", "left_semi")
        .groupBy(F.col("src").as("vid")).agg(F.count(F.lit(1)).as("deg"))
        .filter(F.col("deg") >= k)
        .select("vid")
    } { case ((_, prev), surv) =>
      // the count is the probe: a round that drops nobody leaves every
      // degree unchanged, so all remaining rounds are no-ops — the result
      // is identical to running the full fixed-round schedule
      val c = surv.count()
      ((surv, c), c == prev)
    }._1
  }

  /** Full k-core DECOMPOSITION — coreness number per vertex — by the
    * distributed h-index iteration (Montresor et al., "Distributed k-core
    * decomposition"): start at c(v) = degree(v) and repeatedly lower
    * c(v) to the h-index of its neighbors' values; the fixpoint is
    * exactly the coreness. The per-round h-index rides the identity
    * h = max_i min(value_i, i) over neighbors sorted descending — one
    * window rank + one max aggregate per round, both keyed on vertex id
    * (co-located on a vid-bucketed edge list). `rounds` is a fixed
    * schedule with an early exit at the fixpoint: values only decrease,
    * so a no-change round proves all remaining rounds no-ops and the
    * result equals the full schedule (same argument as kCore). */
  def coreness(vertices: DataFrame, undirected0: DataFrame,
               rounds: Int = 8): DataFrame = Superstep.run { loop =>
    import org.apache.spark.sql.expressions.Window
    val edges = loop.input(undirected0.select("src", "dst").repartition(F.col("src")))
    val c0 = loop.initial(edges.groupBy(F.col("src").as("vid"))
      .agg(F.count(F.lit(1)).as("c")))
    val sum = (c: DataFrame) => c.agg(F.sum("c")).head().getLong(0)
    val (c, _) = loop.probed((c0, sum(c0)), rounds) { case ((c, _), _) =>
      val nbr = edges
        .join(c.select(F.col("vid").as("dst"), F.col("c").as("cu")), "dst")
        .select(F.col("src").as("vid"), F.col("cu"))
      val w = Window.partitionBy("vid").orderBy(F.col("cu").desc)
      val h = nbr
        .select(F.col("vid"), F.least(F.col("cu"), F.row_number().over(w)).as("m"))
        .groupBy("vid").agg(F.max("m").cast("long").as("h"))
      c.join(h, Seq("vid"))
        .select(F.col("vid"), F.least(F.col("c"), F.col("h")).as("c"))
    } { case ((_, prevSum), c) =>
      // the sum is the probe: values are non-increasing, so equal sums =
      // no change
      val s = sum(c)
      ((c, s), s == prevSum)
    }
    // isolated vertices (none in this graph's model, but the API
    // shouldn't lose them) have coreness 0
    vertices.select("vid").join(c, Seq("vid"), "left")
      .select(F.col("vid"), F.coalesce(F.col("c"), F.lit(0L)).as("coreness"))
  }

  /** Multi-source BFS: hop distance to the NEAREST source (landmark).
    * Identical frontier loop to sssp — the source set just seeds more
    * than one zero. Returns reachable (vid, d). */
  def nearestLandmark(vertices: DataFrame, undirected0: DataFrame,
                      isSource: Column, maxIter: Int = 10): DataFrame =
    distances(vertices, undirected0.select("src", "dst"), isSource, F.lit(1L), maxIter)

  /** Multi-source BFS over a ≤64-landmark set in ONE frontier loop — the
    * MS-BFS pattern (Then et al., VLDB 2014): per-vertex state is a
    * 64-bit landmark bitmask, a round ORs the frontier's masks into
    * neighbors, and a bit that first appears at round r marks a landmark
    * at distance exactly r. Running L separate BFS loops costs L passes
    * over the edge list; this costs ONE — on a 100 TB graph that is the
    * whole game, and the bitmask OR aggregates map-side like any sum.
    *
    * Returns per-vertex centrality aggregates of the landmark distance
    * vector, all-integer (cross-engine exact):
    *   h6     = Σ_l floor(1e6 / d(l,v)) over landmarks at d ≥ 1
    *            (landmark-harmonic closeness centrality),
    *   ecc    = max_l d(l,v) (landmark-restricted eccentricity bound),
    *   nreach = #landmarks reached at d ≥ 1.
    */
  def landmarkCentrality(vertices: DataFrame, undirected0: DataFrame,
                         isLandmark: Column,
                         maxIter: Int = 10): DataFrame = Superstep.run { loop =>
    val edges = loop.input(undirected0.select("src", "dst").repartition(F.col("src")))
    // landmark set is dimension-sized by contract (≤ 64 bits): the
    // driver-side collect assigns stable bit positions by vid order
    val lms = vertices.filter(isLandmark).select("vid")
      .orderBy("vid").collect().map(_.getLong(0))
    require(lms.nonEmpty && lms.length <= 64,
      s"landmarkCentrality needs 1..64 landmarks, got ${lms.length}")
    val mask0 = lms.zipWithIndex.foldLeft(F.lit(0L)) { case (acc, (v, i)) =>
      F.when(F.col("vid") === v, F.lit(1L << i)).otherwise(acc)
    }
    val state0 = loop.initial(vertices.select(F.col("vid"), mask0.as("mask"),
      F.lit(0L).as("h6"), F.lit(0L).as("ecc"), F.lit(0L).as("nr")))
    // a round's checkpoint is the next state plus nb, the landmark bits
    // each vertex newly received; its nb != 0 rows are the next frontier
    val (state, _) = loop.probed(
      (state0, state0.filter(F.col("mask") =!= 0L).select("vid", "mask")), maxIter) {
      case ((state, frontier), r) =>
        val contrib = 1000000L / r // this round's per-new-landmark harmonic term
        val cand = edges.join(frontier, edges("src") === frontier("vid"))
          .select(F.col("dst").as("vid"), F.col("mask").as("m"))
          .groupBy("vid").agg(F.expr("bit_or(m)").as("inm"))
        state.join(cand, Seq("vid"), "left")
          .withColumn("nb", F.coalesce(F.col("inm"), F.lit(0L)).bitwiseAND(F.expr("~mask")))
          .select(F.col("vid"),
            F.col("mask").bitwiseOR(F.col("nb")).as("mask"),
            (F.col("h6") + F.expr("bit_count(nb)") * contrib).as("h6"),
            F.when(F.col("nb") =!= 0L, r.toLong).otherwise(F.col("ecc")).as("ecc"),
            (F.col("nr") + F.expr("bit_count(nb)")).as("nr"),
            F.col("nb"))
    } { (_, next) =>
      val reached = next.filter(F.col("nb") =!= 0L)
      ((next, reached.select("vid", "mask")), reached.count() == 0L)
    }
    state.select(F.col("vid"), F.col("h6"), F.col("ecc"), F.col("nr").as("nreach"))
  }

  /** Single-source STRESS centrality (the integer-exact core of Brandes'
    * betweenness): for every vertex v, the number of shortest paths from
    * `sourceVid` that pass through v as an interior vertex,
    * stress(v) = σ(v)·(T(v)−1), where σ(v) counts shortest source→v
    * paths (forward sweep over the BFS DAG: σ(w) = Σ_pred σ(u)) and T(v)
    * counts shortest-path continuations from v (backward sweep:
    * T(v) = 1 + Σ_succ T(w)). Both sweeps are integers — Brandes'
    * fractional δ-accumulation is exactly what can NOT cross engines
    * bit-stably, stress is the variant that can. The source row reports
    * σ=1 and its total downstream path count.
    *
    * Scale: one frontier BFS for distances + one DAG-edge join, then
    * 2×diameter rounds of level-sized joins (each level joins only the
    * previous level's σ/T rows against the dist-oriented DAG, keyed on
    * vertex id). Returns (vid, d, sigma, stress) for reachable vertices. */
  def stressCentrality(vertices: DataFrame, undirected0: DataFrame,
                       sourceVid: Long, maxIter: Int = 10): DataFrame = {
    val dist = sssp(vertices, undirected0, sourceVid, maxIter)
    // DAG edge (u,w): an undirected edge that advances the BFS by one hop
    val dag = undirected0.select("src", "dst")
      .join(dist.select(F.col("vid").as("src"), F.col("d").as("du")), "src")
      .join(dist.select(F.col("vid").as("dst"), F.col("d").as("dw")), "dst")
      .filter(F.col("dw") === F.col("du") + 1)
      .select(F.col("src").as("u"), F.col("dst").as("w"), F.col("dw"))
      .localCheckpoint()
    val maxD = dist.agg(F.max("d")).head().getLong(0)
    // forward σ sweep: level k's counts from level k−1's (lazy chain over
    // checkpointed inputs — diameter joins deep, like shortestPathTree)
    var sigLvl = dist.filter(F.col("d") === 0L)
      .select(F.col("vid"), F.lit(1L).as("sigma"))
    var sig = sigLvl
    (1L to maxD).foreach { k =>
      sigLvl = dag.filter(F.col("dw") === k)
        .join(sigLvl.select(F.col("vid").as("u"), F.col("sigma")), "u")
        .groupBy(F.col("w").as("vid")).agg(F.sum("sigma").as("sigma"))
      sig = sig.unionAll(sigLvl)
    }
    sig = sig.localCheckpoint()
    // backward T sweep: leaves (deepest level) have T = 1; level k adds
    // its successors' T at k+1
    var tLvl = dist.filter(F.col("d") === maxD)
      .select(F.col("vid"), F.lit(1L).as("t"))
    var ts = tLvl
    ((maxD - 1) to 0L by -1L).foreach { k =>
      val succSum = dag.filter(F.col("dw") === k + 1)
        .join(tLvl.select(F.col("vid").as("w"), F.col("t")), "w")
        .groupBy(F.col("u").as("vid")).agg(F.sum("t").as("st"))
      tLvl = dist.filter(F.col("d") === k).select("vid")
        .join(succSum, Seq("vid"), "left")
        .select(F.col("vid"),
          (F.lit(1L) + F.coalesce(F.col("st"), F.lit(0L))).as("t"))
      ts = ts.unionAll(tLvl)
    }
    dist.join(sig, "vid").join(ts, "vid")
      .select(F.col("vid"), F.col("d"), F.col("sigma"),
        (F.col("sigma") * (F.col("t") - 1L)).as("stress"))
  }

  /** k-truss: `rounds` synchronous peeling rounds over the oriented
    * (a<b) edge list — each round keeps edges participating in ≥ k−2
    * triangles among the survivors (the edge-level cohesion analogue of
    * kCore's vertex peeling; trusses are the standard "strong community
    * scaffold" extraction). Fixed-round semantics with early exit at the
    * fixpoint (a no-op round proves all remaining rounds no-ops).
    *
    * Scale: each round is one triangle enumeration over the survivors
    * (the same oriented wedge join as triangleCount — work bounded by
    * Σ deg², the known frontier for distributed triangle counting) plus
    * one edge-keyed aggregate; survivor sets only shrink. Returns the
    * surviving oriented edges (a, b). */
  def kTruss(undirected0: DataFrame, k: Int, rounds: Int = 5): DataFrame = {
    require(k >= 3, "k-truss needs k >= 3")
    Superstep.run { loop =>
      val edges0 = loop.initial(undirected0.filter(F.col("src") < F.col("dst"))
        .select(F.col("src").as("a"), F.col("dst").as("b")))
      loop.probed((edges0, edges0.count()), rounds) { case ((edges, _), _) =>
        val tri = edges
          .join(edges.select(F.col("a").as("b2"), F.col("b").as("c")),
            F.col("b") === F.col("b2"))
          .join(edges.select(F.col("a").as("a3"), F.col("b").as("c3")),
            F.col("a") === F.col("a3") && F.col("c") === F.col("c3"))
          .select("a", "b", "c")
        val support = tri.select(F.col("a").as("x"), F.col("b").as("y"))
          .unionByName(tri.select(F.col("a").as("x"), F.col("c").as("y")))
          .unionByName(tri.select(F.col("b").as("x"), F.col("c").as("y")))
          .groupBy("x", "y").agg(F.count(F.lit(1)).as("sup"))
        edges
          .join(support, F.col("a") === F.col("x") && F.col("b") === F.col("y"))
          .filter(F.col("sup") >= k - 2)
          .select("a", "b")
      } { case ((_, prev), edges) =>
        val c = edges.count()
        ((edges, c), c == prev)
      }._1
    }
  }

  /** Strongly connected components over the DIRECTED edge list — the
    * GraphX `stronglyConnectedComponents` analogue, as forward-backward
    * min-label coloring (FW-BW): per outer round, within each color
    * class, propagate min vid backward (bv = least label that reaches v)
    * and forward (fv = least label v reaches); vertices with fv == bv
    * are exactly the SCC of that label (mutual reachability with it),
    * the rest re-color by the (fv, bv) pair — which SCCs never straddle,
    * since mutually-reachable vertices share both label sets — and
    * iterate on the shrinking remainder.
    *
    * Scale: each half-round is one frontier Pregel run over the
    * color-filtered edges (all joins keyed on vertex id); the remainder
    * only shrinks. Outer rounds needed ≈ how deeply reachability labels
    * tie distinct SCCs together — small for short-diameter graphs;
    * `maxOuter` is a backstop, the empty-remainder check exits early.
    * Returns (vid, scc = min vid of the component). */
  def scc(vertices: DataFrame, edges: DataFrame,
          maxOuter: Int = 8, maxIter: Int = 10): DataFrame = Superstep.run { loop =>
    val directed = loop.input(edges.select("src", "dst"))
    val active0 = loop.initial(
      vertices.select(F.col("vid"), F.lit(0L).as("cf"), F.lit(0L).as("cr")))
    val found = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val (_, assigned) = loop.probed((active0, false), maxOuter) { case ((active, _), round) =>
      // round 1 has one color class covering everything — the color
      // filter would be a no-op join over the full edge list
      val e = if (round == 1) directed else directed
        .join(active.select(F.col("vid").as("src"), F.col("cf").as("scf"),
          F.col("cr").as("scr")), "src")
        .join(active.select(F.col("vid").as("dst"), F.col("cf").as("dcf"),
          F.col("cr").as("dcr")), "dst")
        .filter(F.col("scf") === F.col("dcf") && F.col("scr") === F.col("dcr"))
        .select("src", "dst")
      // BOTH propagations ride one Pregel run over a doubled vertex space
      // (vid·2 = backward copy, vid·2+1 = forward copy over reversed
      // edges): the directions are independent, so fusing them halves the
      // number of global rounds/barriers — the same trick as g_bfs_multi's
      // one-loop multi-source BFS. (Requires vid < 2^62.)
      val eBoth = e.select((F.col("src") * 2).as("src"), (F.col("dst") * 2).as("dst"))
        .unionByName(
          e.select((F.col("dst") * 2 + 1).as("src"), (F.col("src") * 2 + 1).as("dst")))
      val init = active
        .select(F.col("vid"), F.explode(F.array(F.lit(0L), F.lit(1L))).as("side"))
        .select((F.col("vid") * 2 + F.col("side")).as("vid"), F.col("vid").as("x"))
      val res = Pregel.minPropagate(init, identity, eBoth, F.col("x"), maxIter)
        .select(F.expr("vid div 2").as("vid"), (F.col("vid") % 2).as("side"), F.col("x"))
      // one materialization serves the SCC slice, the re-color, and the probe
      res.filter(F.col("side") === 0).select(F.col("vid"), F.col("x").as("bv"))
        .join(res.filter(F.col("side") === 1).select(F.col("vid"), F.col("x").as("fv")), "vid")
    } { (_, joined) =>
      // the slice stays live to the result; the rest re-colors
      found += loop.keep(joined.filter(F.col("bv") === F.col("fv"))
        .select(F.col("vid"), F.col("bv").as("scc")))
      val rest = joined.filter(F.col("bv") =!= F.col("fv"))
      val done = rest.count() == 0L
      ((rest.select(F.col("vid"), F.col("fv").as("cf"), F.col("bv").as("cr")), done), done)
    }
    require(assigned, s"scc: vertices unassigned after $maxOuter rounds")
    found.reduce(_ unionByName _)
  }

  /** Triangle count over an undirected edge list: orient every edge
    * low→high (each triangle counted exactly once as a<b<c). */
  def triangleCount(undirected: DataFrame): DataFrame = {
    // adj appears three times in the plan; materialize once
    val adj = undirected.filter(F.col("src") < F.col("dst"))
      .select(F.col("src").as("a"), F.col("dst").as("b"))
      .localCheckpoint()
    val e1 = adj
    val e2 = adj.select(F.col("a").as("b2"), F.col("b").as("c"))
    val e3 = adj.select(F.col("a").as("a3"), F.col("b").as("c3"))
    e1.join(e2, F.col("b") === F.col("b2"))
      .join(e3, F.col("a") === F.col("a3") && F.col("c") === F.col("c3"))
      .agg(F.count(F.lit(1)).as("n_triangles"))
  }
}
