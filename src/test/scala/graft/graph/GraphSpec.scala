package graft.graph

import org.apache.spark.sql.{functions => F}

import graft.SparkSpec

/** GraphAlgs unit tests on a tiny hand-built graph with known answers
  * (the sf-corpus answers are covered by the DuckDB oracle gate). */
class GraphSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  // two components: a triangle {1,2,3} and an edge {10,11}
  private lazy val verts: DataFrame = {
    import spark.implicits._
    Seq(1L, 2L, 3L, 10L, 11L).toDF("vid")
  }
  private lazy val undirected: DataFrame = {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L))
    (e ++ e.map(_.swap)).toDF("src", "dst")
  }

  test("public Pregel.minPropagate runs a custom fixpoint (earliest arrival)") {
    import spark.implicits._
    // earliest-arrival: edges carry a departure and an arrival time; you
    // can take an edge only if you're at src no later than dep. Not one
    // of the shipped algorithms — exercises the public API's generality.
    val timetable = Seq(
      (1L, 2L, 0L, 5L), (2L, 3L, 6L, 9L), (2L, 3L, 4L, 7L), // 4 < 5: too early
      (1L, 3L, 0L, 20L), (3L, 10L, 10L, 12L))
      .toDF("src", "dst", "dep", "arr")
    val INF = Long.MaxValue / 4
    val state0 = verts.select(F.col("vid"),
      F.when(F.col("vid") === 1L, 0L).otherwise(INF).as("x"))
    val arrival = Pregel.minPropagate(
      state0,
      _.filter(F.col("x") < INF),
      timetable,
      F.when(F.col("dep") >= F.col("x"), F.col("arr")).otherwise(INF),
      maxIter = 10)
      .filter(F.col("x") < INF)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1 →(arr 5) 2 →(dep 6, arr 9) 3 →(dep 10, arr 12) 10; 11 unreachable
    assert(arrival == Map(1L -> 0L, 2L -> 5L, 3L -> 9L, 10L -> 12L))
  }

  test("Pregel keeps vertices that appear only as edge destinations") {
    import spark.implicits._
    // vertex 99 exists only as a dst; it must still get a distance
    val vs = Seq(1L, 2L).toDF("vid")
    val es = Seq((1L, 2L), (2L, 99L)).toDF("src", "dst")
    val INF = Int.MaxValue.toLong
    val d = Pregel.minPropagate(
      vs.select(F.col("vid"), F.when(F.col("vid") === 1L, 0L).otherwise(INF).as("x")),
      _.filter(F.col("x") < INF), es, F.col("x") + 1L, 10)
      .filter(F.col("x") < INF)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 99L -> 2L))
  }

  test("connected components finds the two components") {
    val cc = GraphAlgs.connectedComponents(verts, undirected).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("sssp computes hop counts from vertex 1") {
    val d = GraphAlgs.sssp(verts, undirected, 1L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 1L))
  }

  test("triangle count finds exactly one triangle") {
    assert(GraphAlgs.triangleCount(undirected).head().getLong(0) == 1L)
  }

  test("label propagation converges the triangle to one community") {
    val lp = GraphAlgs.labelPropagation(verts, undirected, iters = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(lp(1L), lp(2L), lp(3L)).size == 1)
  }

  test("k-core peels the pendant edge and keeps the triangle (k=2)") {
    // triangle {1,2,3} is the 2-core; {10,11} (degree 1) peels away
    val core = GraphAlgs.kCore(verts, undirected, k = 2).collect()
      .map(_.getLong(0)).toSet
    assert(core == Set(1L, 2L, 3L))
    // k=3: triangle vertices have degree 2 -> everything peels
    assert(GraphAlgs.kCore(verts, undirected, k = 3).isEmpty)
  }

  test("k-core cascade: a chain hanging off the triangle unravels fully") {
    import spark.implicits._
    // 1-2-3 triangle + chain 3-20-21-22: each chain round exposes the next
    val vs = Seq(1L, 2L, 3L, 20L, 21L, 22L).toDF("vid")
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 20L), (20L, 21L), (21L, 22L))
    val und = (e ++ e.map(_.swap)).toDF("src", "dst")
    val core = GraphAlgs.kCore(vs, und, k = 2).collect().map(_.getLong(0)).toSet
    assert(core == Set(1L, 2L, 3L))
  }

  test("k-truss keeps the 4-clique, peels triangles hanging off it (k=4)") {
    import spark.implicits._
    // 4-clique {1,2,3,4}; triangle {4,5,6} shares vertex 4; pendant 6-7.
    // In a 4-truss every edge needs >= 2 triangles among survivors: the
    // lone triangle's edges have 1 each -> peel; clique edges have 2.
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L))
    val und = (e ++ e.map(_.swap)).toDF("src", "dst")
    val got = GraphAlgs.kTruss(und, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)), got)
  }

  test("scc separates cycles, one-way bridges, and singletons") {
    import spark.implicits._
    // cycle {1,2,3} --one-way--> cycle {4,5}; 6 isolated; 7 -> 8 one-way
    val v = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L).toDF("vid")
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 4L), (7L, 8L)).toDF("src", "dst")
    val got = GraphAlgs.scc(v, e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      6L -> 6L, 7L -> 7L, 8L -> 8L), s"got $got")
  }

  test("scc handles interleaved vids where doubling must not collide") {
    import spark.implicits._
    // cycle {2,4} and cycle {3,5}: doubled ids 4,8 / 6,10 interleave
    val v = Seq(2L, 3L, 4L, 5L).toDF("vid")
    val e = Seq((2L, 4L), (4L, 2L), (3L, 5L), (5L, 3L), (2L, 3L)).toDF("src", "dst")
    val got = GraphAlgs.scc(v, e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(2L -> 2L, 4L -> 2L, 3L -> 3L, 5L -> 3L), s"got $got")
  }

  test("nearest landmark = min hop distance over the source set") {
    val d = GraphAlgs.nearestLandmark(verts, undirected,
      F.col("vid") === 2L || F.col("vid") === 10L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 1L, 2L -> 0L, 3L -> 1L, 10L -> 0L, 11L -> 1L))
  }

  test("src-partitioned checkpointed edges join a frontier without re-shuffling") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // the Pregel loops pre-partition the static edge list by src so each
    // round's join exchanges only the frontier side — assert the captured
    // partitioning survives localCheckpoint and is reused by the join
    val edges = (1L to 2000L).map(i => (i % 97, i))
      .toDF("src", "dst").repartition(F.col("src")).localCheckpoint()
    val frontier = (1L to 50L).toDF("vid")
    val joined = edges.join(frontier, edges("src") === frontier("vid"))
    joined.count() // AQE finalizes the plan
    val shuffles = joined.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(shuffles.size <= 1,
      s"edge side must reuse its checkpoint partitioning (only the frontier may " +
        s"exchange), got ${shuffles.size} shuffles:\n${joined.queryExecution.executedPlan}")
  }

  test("personalized pagerank keeps all mass reachable from the seed") {
    // seed = 1 on the triangle; the {10,11} component must stay at 0,
    // and the seed outranks the symmetric pair {2,3}
    val pr = GraphAlgs.personalizedPagerank(verts, undirected, srcVid = 1L, iters = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr(10L) == 0L && pr(11L) == 0L)
    assert(pr(1L) > pr(2L) && pr(1L) > pr(3L))
    assert(pr(2L) == pr(3L)) // symmetric w.r.t. the seed
    assert(pr(2L) > 0L)
  }

  test("pagerank conserves mass on a regular graph (uniform on the triangle)") {
    val pr = GraphAlgs.pagerank(verts.filter(F.col("vid") <= 3),
      undirected.filter(F.col("src") <= 3), iters = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // symmetric 3-cycle: stationary = uniform = 1e12/3 (up to floor error)
    pr.values.foreach(v => assert(math.abs(v - 333333333333L) < 100L, pr))
  }

  test("shortest-path tree paths are valid minimal walks with min-vid predecessors") {
    val g = PropertyGraph(spark, SF)
    val src = g.vertices
      .filter(F.col("vlabel") === "region" && F.col("name") === "ASIA")
      .select("vid").head().getLong(0)
    val und = g.undirected.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = GraphAlgs.shortestPathTree(g.vertices, g.undirected, src).collect()
    assert(rows.nonEmpty)
    val dist = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (v, d, path) = (r.getLong(0), r.getLong(1), r.getString(2))
      val hops = path.split("->").map(_.toLong)
      assert(hops.head == src && hops.last == v, s"$v: endpoints")
      assert(hops.length == d + 1, s"$v: path length vs distance")
      hops.sliding(2).foreach {
        case Array(a, b) =>
          assert(und.contains((a, b)), s"$v: ($a,$b) is not an edge")
          assert(dist(b) == dist(a) + 1, s"$v: hop must increase distance by 1")
          val minPred = und.collect { case (u, w) if w == b && dist.get(u).contains(dist(b) - 1) => u }.min
          assert(a == minPred, s"$v: predecessor of $b must be the min-vid one")
        case _ => () // the source's single-node path has no hops
      }
    }
  }

  test("clustering coefficient matches a driver-side neighborhood count") {
    val rows = GraphQueries.gClustCoef(spark, SF).collect()
    assert(rows.nonEmpty)
    val und = PropertyGraph(spark, SF).undirected.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = und.groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
    // verify the densest 20 vertices (peers inside one nation form cliques)
    rows.sortBy(-_.getLong(1)).take(20).foreach { r =>
      val v = r.getLong(0)
      val nv = nbrs.getOrElse(v, Set.empty)
      assert(r.getLong(1) == nv.size, s"$v: degree")
      val tri = nv.toSeq.combinations(2).count { case Seq(x, y) => nbrs(x).contains(y) }
      assert(r.getLong(2) == tri, s"$v: triangle count")
      if (nv.size >= 2) {
        val expect = math.floor(2.0 * tri / (nv.size.toLong * (nv.size - 1)) * 1e6).toLong
        assert(r.getLong(3) == expect, s"$v: cc_ppm")
      } else assert(r.isNullAt(3))
    }
  }

  test("coreness: h-index fixpoint agrees with peeling on the hand graph and sf") {
    import org.apache.spark.sql.{functions => F}
    // triangle {1,2,3} + pendant edge {10,11}: triangle coreness 2, pendant 1
    val got = GraphAlgs.coreness(verts, undirected)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 10L -> 1L, 11L -> 1L), s"$got")
    // independent algorithm cross-check on the sf graph: the coreness-≥3
    // set must be exactly the 3-core peeling's survivor set
    val g = PropertyGraph(spark, SF)
    val byCoreness = GraphAlgs.coreness(g.vertices, g.undirected)
      .filter(F.col("coreness") >= 3).select("vid")
      .collect().map(_.getLong(0)).toSet
    val byPeeling = GraphAlgs.kCore(g.vertices, g.undirected, k = 3, rounds = 10)
      .collect().map(_.getLong(0)).toSet
    assert(byCoreness == byPeeling)
  }

  test("stress centrality matches a driver-side sigma/T recomputation") {
    import org.apache.spark.sql.{functions => F}
    val g = PropertyGraph(spark, SF)
    val src = g.vertices
      .filter(F.col("vlabel") === "region" && F.col("name") === "ASIA")
      .select("vid").head().getLong(0)
    val got = GraphAlgs.stressCentrality(g.vertices, g.undirected, src)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // independent recomputation from the raw edge list
    val und: Seq[(Long, Long)] =
      g.undirected.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    val adj: Map[Long, Seq[Long]] =
      und.groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
    val dist = scala.collection.mutable.Map(src -> 0L)
    var frontier = Seq(src)
    while (frontier.nonEmpty) {
      val depth = dist(frontier.head) // frontier is all one depth
      frontier = frontier.flatMap(u => adj.getOrElse(u, Seq.empty))
        .distinct.filterNot(w => dist.contains(w))
        .map { w => dist(w) = depth + 1; w }
    }
    val byLevel = dist.toSeq.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val maxD = dist.values.max
    val sigma = scala.collection.mutable.Map(src -> 1L)
    (1L to maxD).foreach(k => byLevel.getOrElse(k, Seq.empty).foreach { w =>
      sigma(w) = und.collect {
        case (u, `w`) if dist.get(u).contains(k - 1) => sigma(u)
      }.sum
    })
    val t = scala.collection.mutable.Map.empty[Long, Long]
    (maxD to 0L by -1L).foreach(k => byLevel.getOrElse(k, Seq.empty).foreach { v =>
      t(v) = 1L + adj.getOrElse(v, Seq.empty[Long])
        .filter(w => dist.get(w).contains(k + 1)).map(w => t(w)).sum
    })
    assert(got.keySet == dist.keySet)
    dist.foreach { case (v, d) =>
      assert(got(v) == ((d, sigma(v), sigma(v) * (t(v) - 1))), s"vertex $v")
    }
  }

  test("MS-BFS landmark centrality equals per-landmark BFS runs") {
    import org.apache.spark.sql.{functions => F}
    val g = PropertyGraph(spark, SF)
    val pred = F.col("vlabel") === "supplier" && F.col("vid") <= 8L * 4 + 1
    val got = GraphAlgs.landmarkCentrality(g.vertices, g.undirected, pred)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // reference: one sssp per landmark, aggregated the slow way
    val lms = g.vertices.filter(pred).select("vid").collect().map(_.getLong(0))
    assert(lms.nonEmpty && lms.length <= 9) // suppkeys 0..8
    val dists = lms.flatMap { l =>
      GraphAlgs.sssp(g.vertices, g.undirected, l).collect()
        .map(r => (r.getLong(0), r.getLong(1))).filter(_._2 > 0)
    }.groupBy(_._1)
    val allVids = g.vertices.select("vid").collect().map(_.getLong(0))
    allVids.foreach { v =>
      val ds = dists.getOrElse(v, Array.empty).map(_._2)
      val expect =
        if (ds.isEmpty) (0L, 0L, 0L)
        else (ds.map(1000000L / _).sum, ds.max, ds.length.toLong)
      assert(got(v) == expect, s"vertex $v: got ${got(v)}, expect $expect")
    }
  }

  test("g_mis emits a valid maximal independent set") {
    val mis = GraphQueries.gMis(spark, SF).collect().map(_.getLong(0)).toSet
    assert(mis.nonEmpty)
    val ue = PropertyGraph(spark, SF).undirected.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // independence: no edge has both endpoints in the set
    ue.foreach { case (a, b) =>
      assert(!(mis(a) && mis(b)), s"edge ($a,$b) lies inside the MIS")
    }
    // maximality (3 Luby rounds suffice on this graph): every vertex
    // outside the set has a neighbor inside it
    val nbrs = ue.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val verts = PropertyGraph(spark, SF).vertices.collect().map(_.getLong(0))
    verts.filterNot(mis).foreach { v =>
      assert(nbrs.getOrElse(v, Set.empty[Long]).exists(mis),
        s"non-member $v has no MIS neighbor — set not maximal")
    }
  }

  test("g_matching emits a valid deterministic matching") {
    val m = GraphQueries.gMatching(spark, SF)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(m.nonEmpty)
    // a matching: no vertex appears in two matched pairs
    val verts = m.flatMap(p => Seq(p._1, p._2))
    assert(verts.distinct.length == verts.length,
      "a vertex is matched twice")
    // every matched pair is a real edge of the undirected graph
    val ue = PropertyGraph(spark, SF).undirected.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    m.foreach { case (a, b, _) =>
      assert(a < b && ue.contains((a, b)), s"($a,$b) is not a graph edge")
    }
    // pure function of the graph: a rerun reproduces it exactly
    val m2 = GraphQueries.gMatching(spark, SF)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(m.toSet == m2.toSet)
  }

  test("multi-level louvain: contraction round does not decrease modularity") {
    // sf0.001's round 3 only label-swaps (Q unchanged); sf0.01 genuinely
    // merges communities (78 → 60 measured), so check both
    for (sf <- Seq(SF, "/root/testdata/sf0.01")) {
      val g = PropertyGraph(spark, sf)
      val und = g.undirected.select("src", "dst").localCheckpoint()
      val m2 = und.count()
      val part = GraphQueries.gLouvain(spark, sf).localCheckpoint()
      assert(part.count() == g.vertices.count())
      val last = 2 + GraphQueries.LouvainMergeLevels
      // every level refines its predecessor through the quotient:
      // equal c(k−1) ⇒ equal ck
      for (k <- 3 to last)
        assert(part.select(s"c${k - 1}", s"c$k").distinct().groupBy(s"c${k - 1}")
          .agg(F.countDistinct(s"c$k").as("n")).filter(F.col("n") > 1).count() == 0,
          s"$sf level $k does not refine level ${k - 1}")
      // modularity ×(2m)² of a partition column: Σ_c (2m·within_c − degsum_c²)
      def q(col: String): Long = {
        val labels = part.select(F.col("vid"), F.col(col).as("lbl"))
        val within = und
          .join(labels.select(F.col("vid").as("src"), F.col("lbl").as("ls")), "src")
          .join(labels.select(F.col("vid").as("dst"), F.col("lbl").as("ld")), "dst")
          .filter(F.col("ls") === F.col("ld")).count()
        val deg = und.groupBy("src").agg(F.count(F.lit(1)).as("d"))
        val degsum2 = labels
          .join(deg, labels("vid") === deg("src"), "left")
          .groupBy("lbl").agg(F.sum(F.coalesce(F.col("d"), F.lit(0L))).as("ds"))
          .agg(F.sum(F.col("ds") * F.col("ds"))).collect()(0).getLong(0)
        m2 * within - degsum2
      }
      val qs = (2 to last).map(k => q(s"c$k"))
      info(s"$sf modularity x(2m)^2 by level: ${qs.mkString(" -> ")}")
      for (i <- 1 until qs.size)
        assert(qs(i) >= qs(i - 1),
          s"$sf merge level ${i + 2} decreased modularity: ${qs(i - 1)} -> ${qs(i)}")
      // fixpoint within the budget: the LAST level is the identity map
      assert(part.filter(F.col(s"c$last") =!= F.col(s"c${last - 1}")).count() == 0,
        s"$sf still merging at level $last — raise LouvainMergeLevels")
    }
  }

  /** Runs `call` and returns its Spark job count and the ids of the
    * persisted RDDs it created that its result's plan does not read
    * (the result's checkpoints plus the lineage of any not yet
    * materialized, which is what a checkpoint still depends on). */
  private def jobsAndLeftovers(call: => DataFrame): (Int, Seq[Int]) = {
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.execution.LogicalRDD
    val sc = spark.sparkContext
    var res: DataFrame = null
    var before = Set.empty[Int]
    val jobs = jobsOf { before = sc.getPersistentRDDs.keySet.toSet; res = call }
    val read = scala.collection.mutable.Set.empty[Int]
    def walk(r: RDD[_]): Unit = if (read.add(r.id)) r.dependencies.foreach(d => walk(d.rdd))
    res.queryExecution.analyzed.collectWithSubqueries { case l: LogicalRDD => l.rdd }
      .foreach(walk)
    (jobs, (sc.getPersistentRDDs.keySet -- before -- read).toSeq.sorted)
  }

  test("every superstep loop stays within its job budget and keeps only checkpoints its result reads") {
    import spark.implicits._
    // the scc spec's directed graph: two cycles, a one-way bridge, a singleton
    val dv = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L).toDF("vid")
    val de = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 4L), (7L, 8L)).toDF("src", "dst")
    val lm = F.col("vid") === 1L || F.col("vid") === 10L
    // Spark jobs per call on these graphs (local[4], shuffle.partitions 4,
    // AQE on), measured before the loops shared one superstep driver;
    // pagerank's is two lower because it counts the vertices once now (a
    // count under AQE is a map-stage job and a result job)
    val loops: Seq[(String, Int, () => DataFrame)] = Seq(
      ("pagerank", 28, () => GraphAlgs.pagerank(verts, undirected, iters = 10)),
      ("personalizedPagerank", 26, () => GraphAlgs.personalizedPagerank(verts, undirected, 1L, iters = 10)),
      ("connectedComponents", 13, () => GraphAlgs.connectedComponents(verts, undirected)),
      ("sssp", 13, () => GraphAlgs.sssp(verts, undirected, 1L)),
      ("labelPropagation", 27, () => GraphAlgs.labelPropagation(verts, undirected, iters = 5)),
      ("kCore", 13, () => GraphAlgs.kCore(verts, undirected, k = 2)),
      ("coreness", 11, () => GraphAlgs.coreness(verts, undirected)),
      ("kTruss", 15, () => GraphAlgs.kTruss(undirected, k = 3, rounds = 3)),
      ("landmarkCentrality", 17, () => GraphAlgs.landmarkCentrality(verts, undirected, lm)),
      ("stressCentrality", 22, () => GraphAlgs.stressCentrality(verts, undirected, 1L)),
      ("shortestPathTree", 16, () => GraphAlgs.shortestPathTree(verts, undirected, 1L)),
      ("scc", 63, () => GraphAlgs.scc(dv, de)),
      // the GraphQueries loops and repeat().until() on sf0.001: jobs per
      // call measured while each placed its own checkpoints, the most of
      // eight runs (AQE's concurrent stage submission varies gLouvain's
      // count over 80-83 and gMatching's over 15-16 between runs)
      ("gMis", 36, () => GraphQueries.gMis(spark, SF)),
      ("gMatching", 16, () => GraphQueries.gMatching(spark, SF)),
      ("gLouvain", 83, () => GraphQueries.gLouvain(spark, SF)),
      ("gHits", 3, () => GraphQueries.gHits(spark, SF)),
      ("gWalks", 4, () => GraphQueries.gWalks(spark, SF)),
      ("gNode2vec", 4, () => GraphQueries.gNode2vec(spark, SF)),
      ("gDslUntil", 32, () => GraphQueries.gDslUntil(spark, SF)))
    val faults = loops.flatMap { case (name, budget, call) =>
      val (jobs, leftovers) = jobsAndLeftovers(call())
      info(s"$name: $jobs jobs, leftover RDDs ${leftovers.mkString("[", ",", "]")}")
      (if (jobs > budget) Seq(s"$name ran $jobs jobs, budget $budget") else Nil) ++
        (if (leftovers.nonEmpty)
          Seq(s"$name left ${leftovers.size} persisted RDDs its result does not read")
        else Nil)
    }
    assert(faults.isEmpty, faults.mkString("\n"))
  }

  test("pagerank logs no lineage-truncation warning") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-lineage-warn", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    try GraphAlgs.pagerank(verts, undirected, iters = 10).collect()
    finally { root.removeAppender(appender); appender.stop() }
    val warned = lines.toArray.map(_.toString).filter(_.contains("was locally checkpointed"))
    assert(warned.isEmpty, warned.mkString("\n"))
  }
}
