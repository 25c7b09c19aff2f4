package graft.graph

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.{functions => F}

import graft.SparkSpec
import graft.sources.kvconnector.{KVScan, KVSegmentStore}

/** Full storage residency (r14): the vertex frame decoded from the
  * store must equal the source frame, the fully-resident traversals
  * must equal their frame twins, and dropV must tombstone every cell
  * kind. */
class KVFullGraphSpec extends SparkSpec {

  test("storeVertices round-trips the vertex frame exactly") {
    val g = PropertyGraph(spark, SF)
    withTempDir("graft_fullvspec") { seg =>
      KVSegmentStore.write(
        KVGraphMutations.vertexAdditions(g.vertices)
          .unionByName(KVGraphMutations.vertexPropAdditions(g.vertices)),
        seg, 8)
      val decoded = KVGraphQueries.storeVertices(
        spark.read.format("graft-kv").load(seg))
      assert(decoded.columns.toSeq == g.vertices.columns.toSeq)
      // acctbal goes through dec2 string bytes: compare the frame side
      // through the same 2-decimal door (acctbal carries 2 decimals in the
      // data, so this is exact, not lossy — the oracle gate proves it too)
      def canon(df: org.apache.spark.sql.DataFrame) = df.select(
        F.col("vid"), F.col("vlabel"), F.col("name"),
        graft.Tables.dec2(F.col("acctbal")).cast("string").as("bal"),
        F.col("mktsegment"))
        .collect().map(_.toString).sorted.toSeq
      val a = canon(decoded)
      val b = canon(g.vertices)
      assert(a == b && a.nonEmpty)
    }
  }

  test("g_kv_full_graph equals the frame one-hop and scans only the store") {
    val full = KVGraphQueries.gKvFullGraph(spark, SF)
    val frame = GraphQueries.gOneHop(spark, SF)
    assert(full.columns.toSeq == frame.columns.toSeq)
    val a = full.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val b = frame.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("the full-graph traversal plan reads no frame table") {
    withTempDir("graft_fullpspec") { seg =>
      val g0 = PropertyGraph(spark, SF)
      KVSegmentStore.write(
        KVGraphMutations.vertexAdditions(g0.vertices)
          .unionByName(KVGraphMutations.vertexPropAdditions(g0.vertices))
          .unionByName(KVGraphMutations.edgeAdditions(g0.edges)),
        seg, 8)
      val g = KVGraphQueries.kvBackedGraph(spark, SF, seg)
        .copy(vertices = KVGraphQueries.storeVertices(
          spark.read.format("graft-kv").load(seg)))
      val hop = Traversal.V(g)
        .hasLabel("customer").has("mktsegment", "BUILDING").as("c_vid")
        .out("in_nation").value("name", "n_name")
        .select("c_vid", "n_name").df
      hop.collect()
      val scans = collectExec(hop) { case b: BatchScanExec => b }
      assert(scans.nonEmpty && scans.forall(_.scan.isInstanceOf[KVScan]),
        s"non-store scan in the fully-resident plan:\n${hop.queryExecution.executedPlan}")
      // no parquet FileScan of the testdata tables anywhere
      val asText = hop.queryExecution.executedPlan.toString
      assert(!asText.contains("customer.parquet") && !asText.contains("nation.parquet"),
        "frame table leaked into the fully-resident plan")
    }
  }

  test("g_kv_dsl_full equals its SQL shape on the frame graph (sf0.01)") {
    val sf01 = "/root/testdata/sf0.01"
    val kv = KVGraphQueries.gKvDslFull(spark, sf01)
    // frame twin of the same traversal
    val names = Seq("NATION_3", "NATION_7", "NATION_11", "NATION_18", "NATION_21")
    val frame = Traversal.V(spark, sf01)
      .hasLabel("nation")
      .has("name", Traversal.P.within(names: _*))
      .value("name", "n_name").as("n")
      .in("in_nation")
      .hasLabel("supplier")
      .as("a_vid")
      .outE("peer").has("w", Traversal.P.lte(2L)).value("w", "w_e")
      .inV().as("b_vid")
      .select("n_name", "a_vid", "b_vid", "w_e")
      .df
    val a = kv.collect().map(_.toString).sorted.toSeq
    val b = frame.collect().map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("g_kv_split_graph equals the frame one-hop over the named-store layout") {
    val split = KVGraphQueries.gKvSplitGraph(spark, SF)
    val frame = GraphQueries.gOneHop(spark, SF)
    val a = split.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val b = frame.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("vertexDeletions tombstones existence, props, and both edge directions") {
    val g = PropertyGraph(spark, SF)
    val doomed = g.vertices.filter(F.col("vlabel") === "nation").select("vid")
    val cells = KVGraphMutations.vertexDeletions(doomed, g.edges)
    assert(cells.columns.toSeq == Seq("k", "c"))
    import graft.kv.KVStore.decLong
    val fams = cells.select(decLong(F.col("c"), 1).as("f"))
      .groupBy("f").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nNations = doomed.count()
    val nIncident = g.edges.filter(F.col("elabel").isin("in_nation", "in_region")).count()
    // vertex family: one existence + 3 property tombstones per vertex
    assert(fams(0L) == nNations * 4)
    // ALL THREE copies of each incident edge: primary, mirror, and the
    // w-sorted VCI family (in_nation incident as dst, in_region as src)
    val prim = fams.getOrElse(1L, 0L) + fams.getOrElse(2L, 0L)
    val rev = fams.getOrElse(KVGraphMutations.RevBase + 1L, 0L) +
      fams.getOrElse(KVGraphMutations.RevBase + 2L, 0L)
    val vciBase = 1000L
    val vci = fams.getOrElse(vciBase + 1L, 0L) + fams.getOrElse(vciBase + 2L, 0L)
    assert(prim == nIncident && rev == nIncident && vci == nIncident &&
      nIncident > 0)
  }

  test("dropV leaves no index-resurrectable ghost edges on a full store") {
    // the r14 review's failure scenario, as a test: drop a supplier from
    // a store carrying the VCI family; the index-routed read must agree
    // with the primary read (both empty for the dropped vertex)
    val g0 = PropertyGraph(spark, SF)
    val victim = g0.vertices.filter(F.col("vlabel") === "supplier")
      .orderBy("vid").limit(1).select("vid")
    val cells = KVGraphQueries.fullStoreCells(spark, SF)
    val mutated = graft.kv.KVStore.mutate(cells,
      cells.limit(0),
      KVGraphMutations.vertexDeletions(victim, g0.edges))
    withTempDir("graft_ghostspec") { seg =>
      KVSegmentStore.write(mutated, seg, 8)
      val g = KVGraphQueries.kvBackedGraphFull(spark, SF, seg)
      val vid = victim.collect()(0).getLong(0)
      // primary path: no out-edges of the victim
      val primary = Traversal.V(g).has("vid", Traversal.P.is(vid))
        .outE("in_nation").inV().as("n").select("n").df.collect()
      // index-routed path: also none (the VCI tombstones did their job)
      val routed = Traversal.V(g).has("vid", Traversal.P.is(vid))
        .outE("in_nation").has("w", Traversal.P.lte(5L)).inV().as("n")
        .select("n").df.collect()
      assert(primary.isEmpty && routed.isEmpty)
      // and the victim's vertex row itself is gone
      assert(g.vertices.filter(F.col("vid") === vid).count() == 0)
    }
  }

  test("family-aware mutateLog keeps a dual-adjacency store consistent") {
    val g0 = PropertyGraph(spark, SF)
    val e = g0.edges
    withTempDir("graft_fammut") { wh =>
      val ds = new graft.kv.KVDeltaStore(spark, wh)
      // base: dual store (primary + mirror) of the in_region edges
      KVGraphMutations.mutateLog(ds, "g", g0.vertices.limit(0),
        addE = e.filter(F.col("elabel") === "in_region"),
        dropE = e.limit(0), wts = 1000L, mirror = true)
      // mutation: drop one edge, add one in_nation edge — BOTH families
      val doomed = e.filter(F.col("elabel") === "in_region")
        .orderBy("src", "dst").limit(1).localCheckpoint(true)
      val added = e.filter(F.col("elabel") === "in_nation")
        .orderBy("src", "dst").limit(1).localCheckpoint(true)
      KVGraphMutations.mutateLog(ds, "g", g0.vertices.limit(0),
        addE = added, dropE = doomed, wts = 2000L, mirror = true)
      withTempDir("graft_fammutseg") { seg =>
        KVSegmentStore.write(ds.openDatabase("g"), seg, 4)
        val g = KVGraphQueries.kvBackedGraphBoth(spark, SF, seg)
        // the forward view and the mirror view must agree edge-for-edge
        val fwd = g.edges.select("src", "dst", "elabel", "w")
          .collect().map(_.toString).sorted.toSeq
        val rev = g.revEdges.get.select("src", "dst", "elabel", "w")
          .collect().map(_.toString).sorted.toSeq
        assert(fwd == rev && fwd.nonEmpty)
        // and the mutation is visible in both: doomed gone, added present
        val doomedRow = doomed.collect()(0)
        assert(!fwd.exists(_.contains(s"[${doomedRow.getLong(0)},${doomedRow.getLong(1)},in_region")))
        assert(fwd.exists(_.contains("in_nation")))
      }
    }
  }

  test("g_kv_dsl_dropv invariants hold at sf0.001") {
    val df = KVGraphQueries.gKvDslDropV(spark, SF)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val cust = graft.Tables(spark, SF, "customer")
    val kept = cust.filter(F.col("c_mktsegment") =!= "AUTOMOBILE").count()
    val nSupp = graft.Tables(spark, SF, "supplier").count()
    assert(rows.length == kept)
    assert(rows.forall(_.getLong(2) == kept)) // n_cust_cells
    assert(rows.forall(_.getLong(3) == kept + nSupp)) // n_in_nation_cells
    assert(rows.forall(_.getLong(4) == kept + nSupp)) // n_rev_in_nation_cells
  }
}
