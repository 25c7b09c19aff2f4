package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.{functions => F}

import graft.SparkSpec
import graft.sources.kvconnector.{KVScan, KVSegmentStore}

/** The global composite index (r15 — JanusGraph's `graphindex` store):
  * V().has(label-scoped equality) must route to the value-keyed named
  * store (pushed key slice, plan-time segment drop), feed the vertex
  * pivot ONLY the index's vid set (runtime key filter on the vertex
  * store, O(matches) aggregate), fall back to the eager plan for
  * anything the index cannot serve, and stay consistent under
  * delete-before-add mutation. Plus the r14 verdict-#6 scoring rule on
  * the EDGE index: with bounds on several indexed properties the
  * tightest interval is tried first. */
class KVIndexSpec extends SparkSpec {

  private def kvScans(df: DataFrame): Seq[BatchScanExec] =
    collectExec(df) {
      case b: BatchScanExec if b.scan.isInstanceOf[KVScan] => b
    }

  // ---- kv-backed graphindex ------------------------------------------

  /** One shared indexed store layout per suite run. */
  private lazy val indexed: (PropertyGraph.G, String) = {
    val wh = suiteTempDir("graft_idxspec")
    val mgr = new graft.kv.KVStoreManager(spark, wh)
    val g0 = PropertyGraph(spark, SF)
    mgr.writeSegmentStore("edgestore",
      KVGraphMutations.edgeAdditions(g0.edges), 8)
    mgr.writeSegmentStore("vertexprops",
      KVGraphMutations.vertexAdditions(g0.vertices)
        .unionByName(KVGraphMutations.vertexPropAdditions(g0.vertices)),
      8, familyRanged = true)
    mgr.writeSegmentStore(KVGraphQueries.indexStoreName("customer", "mktsegment"),
      KVGraphMutations.indexAdditions(
        g0.vertices.filter(F.col("vlabel") === "customer"), "mktsegment"),
      8)
    val g = KVGraphQueries.kvBackedGraph(spark, SF, s"$wh/edgestore").copy(
      vertices = KVGraphQueries.storeVertices(mgr.openSegmentStore("vertexprops")),
      vertexIndex = Some(KVGraphQueries.kvVertexIndex(spark, s"$wh/vertexprops",
        Map(("customer", "mktsegment") ->
          s"$wh/${KVGraphQueries.indexStoreName("customer", "mktsegment")}"))))
    (g, wh)
  }

  test("g_kv_index_graph equals the frame one-hop") {
    val idx = KVGraphQueries.gKvIndexGraph(spark, SF)
    val frame = GraphQueries.gOneHop(spark, SF)
    assert(idx.columns.toSeq == frame.columns.toSeq)
    val a = idx.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val b = frame.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("the routed start set slices the index store and prunes its segments") {
    val (g, wh) = indexed
    val hop = Traversal.V(g)
      .hasLabel("customer").has("mktsegment", "BUILDING").as("c_vid")
      .out("in_nation").value("name", "n_name")
      .select("c_vid", "n_name").df
    hop.collect()
    val byStore = kvScans(hop).groupBy(b =>
      Seq("graphindex", "vertexprops", "edgestore")
        .find(b.scan.description().contains).getOrElse("?"))
    // the plan reads all three stores — index, vertex family, adjacency
    assert(byStore.keySet == Set("graphindex", "vertexprops", "edgestore"),
      s"stores in plan: ${byStore.keySet}")
    // plan-time segment drop on the INDEX store: the equality key slice
    // schedules a strict subset of the value-ranged segments
    val idxScan = byStore("graphindex").head.scan.asInstanceOf[KVScan]
    val idxTotal = KVSegmentStore.readManifest(
      s"$wh/${KVGraphQueries.indexStoreName("customer", "mktsegment")}").size
    assert(idxScan.lastPlanned < idxTotal && idxScan.lastPlanned >= 1,
      s"index slice planned ${idxScan.lastPlanned}/$idxTotal segments")
    // the vertex store's pivot is fed by the index's vid set: its scan
    // receives the runtime key filter from the index-side join
    assert(byStore("vertexprops").exists(_.runtimeFilters.nonEmpty),
      s"vertex store scan got no runtime key filter:\n${hop.queryExecution.executedPlan}")
  }

  test("the index lookup feeds the pivot only the matched vertices") {
    val (g, _) = indexed
    // the routed start CONSUMES the mktsegment predicate — if the pivot
    // still aggregated every vertex, the output would be all customers
    val lookup = g.vertexIndex.get
      .lookup("customer", "mktsegment", Seq("BUILDING")).get
    val expected = PropertyGraph(spark, SF).vertices
      .filter(F.col("vlabel") === "customer" && F.col("mktsegment") === "BUILDING")
    assert(lookup.count() == expected.count() && expected.count() > 0)
    // and within() routes as a multi-value key slice
    val two = g.vertexIndex.get
      .lookup("customer", "mktsegment", Seq("BUILDING", "AUTOMOBILE")).get
    val expTwo = PropertyGraph(spark, SF).vertices
      .filter(F.col("vlabel") === "customer" &&
        F.col("mktsegment").isin("BUILDING", "AUTOMOBILE"))
    assert(two.count() == expTwo.count())
  }

  test("within() start sets route; uncovered predicates fall back eagerly") {
    val (g, _) = indexed
    val routed = Traversal.V(g)
      .hasLabel("customer")
      .has("mktsegment", Traversal.P.within("BUILDING", "MACHINERY"))
      .as("c").df
    val eager = PropertyGraph(spark, SF).vertices
      .filter(F.col("vlabel") === "customer" &&
        F.col("mktsegment").isin("BUILDING", "MACHINERY"))
    assert(routed.count() == eager.count() && eager.count() > 0)
    // a bound the composite index cannot serve (gt — equality-only)
    // falls back to the eager vertex frame: same rows, no index scan
    val fallback = Traversal.V(g)
      .hasLabel("customer").has("acctbal", Traversal.P.gt(1000.0)).as("c").df
    fallback.collect()
    assert(!kvScans(fallback).exists(_.scan.description().contains("graphindex")))
    val expect = PropertyGraph(spark, SF).vertices
      .filter(F.col("vlabel") === "customer" && F.col("acctbal") > 1000.0)
    assert(fallback.count() == expect.count() && expect.count() > 0)
    // no label predicate → no index scope → eager (count of ALL vertices)
    val noLabel = Traversal.V(g).has("mktsegment", "BUILDING").as("c").df
    val expAll = PropertyGraph(spark, SF).vertices
      .filter(F.col("mktsegment") === "BUILDING")
    assert(noLabel.count() == expAll.count())
  }

  test("residual predicates still filter the routed start set") {
    val (g, _) = indexed
    val rows = Traversal.V(g)
      .hasLabel("customer").has("mktsegment", "BUILDING")
      .has("acctbal", Traversal.P.gt(0.0))
      .value("acctbal", "bal").as("c")
      .select("c", "bal").df.collect()
    val expect = PropertyGraph(spark, SF).vertices
      .filter(F.col("vlabel") === "customer" &&
        F.col("mktsegment") === "BUILDING" && F.col("acctbal") > 0.0)
      .count()
    assert(rows.length == expect && rows.nonEmpty)
    assert(rows.forall(_.getDouble(1) > 0.0))
  }

  test("g_kv_idx_mutate: stale index cells are gone, moved cells present") {
    val df = KVGraphQueries.gKvIdxMutate(spark, SF)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val cust = graft.Tables(spark, SF, "customer")
    val moved = cust.filter(
      F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")).count()
    assert(rows.length == moved)
    assert(rows.forall(_.getLong(2) == 0L), "stale AUTOMOBILE index cells survive")
    assert(rows.forall(_.getLong(3) == moved))
  }

  // ---- sentinel vertex index (frame-level routing semantics) ---------

  test("a sentinel vertex index routes equality start sets and keeps residuals") {
    val g0 = PropertyGraph(spark, SF)
    var probes = Vector.empty[(String, String, Seq[Any])]
    val idx = new PropertyGraph.VertexIndex {
      override def lookup(label: String, prop: String, values: Seq[Any])
          : Option[DataFrame] = {
        probes :+= ((label, prop, values))
        if (prop != "mktsegment") None
        else Some(g0.vertices.filter(F.col("vlabel") === label &&
            F.col("mktsegment").isin(values: _*))
          .withColumn("name", F.concat(F.lit("IDX_"), F.col("name"))))
      }
    }
    val g = g0.copy(vertexIndex = Some(idx))
    val rows = Traversal.V(g)
      .hasLabel("customer").has("mktsegment", "BUILDING")
      .has("acctbal", Traversal.P.gt(0.0))
      .value("name", "nm").as("c")
      .select("c", "nm").df.collect()
    assert(probes.exists(p => p._1 == "customer" && p._2 == "mktsegment"))
    assert(rows.nonEmpty && rows.forall(_.getString(1).startsWith("IDX_")),
      "start set not served from the index frame")
    val expect = g0.vertices.filter(F.col("vlabel") === "customer" &&
      F.col("mktsegment") === "BUILDING" && F.col("acctbal") > 0.0).count()
    assert(rows.length == expect)
  }

  // ---- edge-index scoring (r14 verdict #6) ----------------------------

  /** Edges with a SECOND numeric property z; the index records probes. */
  private def twoPropGraph(cover: Set[String])
      : (PropertyGraph.G, () => Vector[String]) = {
    val g0 = PropertyGraph(spark, SF)
    val e = g0.edges.withColumn("z", (F.col("src") * 2 + F.col("dst")) % 9)
    var probes = Vector.empty[String]
    val idx = new PropertyGraph.EdgeIndex {
      override def lookup(label: String, prop: String, lo: Long,
                          upTo: Long): Option[DataFrame] = {
        probes :+= prop
        if (!cover.contains(prop)) None
        else Some(e.filter(F.col("elabel") === label &&
            F.col(prop) >= lo && F.col(prop) <= upTo)
          .withColumn(prop, F.col(prop) + 1000L))
      }
    }
    (PropertyGraph.G(g0.vertices, e, edgeIndex = Some(idx)), () => probes)
  }

  test("the tighter of two bounded properties is routed first") {
    val (g, probes) = twoPropGraph(Set("w", "z"))
    // w in [0,4] (width 4) vs z = 7 (width 0): z must win the route
    val rows = Traversal.V(g)
      .hasLabel("customer").as("a")
      .outE("in_nation").has("w", Traversal.P.lte(4L))
      .has("z", Traversal.P.is(7L))
      .value("z", "z_e").value("w", "w_e")
      .inV().as("b")
      .select("a", "b", "z_e", "w_e").df.collect()
    assert(probes().head == "z", s"probed ${probes()}")
    assert(rows.nonEmpty && rows.forall(_.getLong(2) == 1007L),
      "rows not served from the z-sorted family")
    // the w bound stayed a residual filter on the routed rows
    assert(rows.forall(_.getLong(3) <= 4L))
  }

  test("equal widths keep declaration order; uncovered candidates fall through") {
    // both equality (width 0): stable sort keeps w (declared first)
    val (g1, probes1) = twoPropGraph(Set("w", "z"))
    val r1 = Traversal.V(g1)
      .hasLabel("customer").as("a")
      .outE("in_nation").has("w", Traversal.P.is(2L))
      .has("z", Traversal.P.is(3L))
      .value("w", "w_e").inV().as("b")
      .select("a", "b", "w_e").df.collect()
    assert(probes1().head == "w", s"probed ${probes1()}")
    assert(r1.forall(_.getLong(2) == 1002L))
    // z is tighter but uncovered: probe z, fall through, route w
    val (g2, probes2) = twoPropGraph(Set("w"))
    val r2 = Traversal.V(g2)
      .hasLabel("customer").as("a")
      .outE("in_nation").has("w", Traversal.P.lte(4L))
      .has("z", Traversal.P.is(7L))
      .value("w", "w_e").inV().as("b")
      .select("a", "b", "w_e").df.collect()
    assert(probes2() == Vector("z", "w"), s"probed ${probes2()}")
    assert(r2.nonEmpty && r2.forall(r => r.getLong(2) >= 1000L && r.getLong(2) <= 1004L))
  }
}
