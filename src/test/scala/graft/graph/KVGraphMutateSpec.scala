package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}

import graft.SparkSpec
import graft.kv.KVDeltaStore

/** The graph write loop (KVGraphMutations): addV/addE/dropEdges compiled
  * onto KCV mutation batches must resolve IDENTICALLY through the
  * snapshot path (KVStore.mutate) and the delta-log path (KVDeltaStore
  * merge-on-read) — the reference has one mutate semantics
  * (delete-before-add, ClickhouseKeyColumnValueStore.java:133) however
  * the store persists it. */
class KVGraphMutateSpec extends SparkSpec {

  private def cells(df: DataFrame): Seq[(String, String, String)] =
    df.select(F.hex(F.col("k")), F.hex(F.col("c")), F.hex(F.col("v")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .sorted.toSeq

  // the g_kv_mutate_hop scenario's frames, shared by both paths
  private def scenario() = {
    val g = PropertyGraph(spark, SF)
    val e = g.edges
    val baseV = g.vertices.filter(F.col("vlabel") =!= "nation")
    val baseE = e.filter(F.col("elabel") === "peer")
      .withColumn("w", F.col("w") + 1)
      .unionByName(e.filter(F.col("elabel") === "in_region"))
    val addV = g.vertices.filter(F.col("vlabel") === "nation")
    val addE = e.filter(F.col("elabel") === "in_nation")
      .unionByName(e.filter(F.col("elabel") === "peer"))
    val dropE = e.filter(F.col("elabel").isin("in_region", "peer"))
    (g, e, baseV, baseE, addV, addE, dropE)
  }

  test("delta-log path resolves identically to the snapshot path") {
    val (_, e, baseV, baseE, addV, addE, dropE) = scenario()
    // snapshot path: base cells as a frame, one KVStore.mutate
    val baseStore = KVGraphMutations.vertexAdditions(baseV)
      .unionByName(KVGraphMutations.edgeAdditions(baseE))
    val snap = KVGraphMutations.mutateSnapshot(baseStore, addV, addE, dropE)
    // log path: same two batches through a KVDeltaStore
    withTempDir("graft_kvgmutspec") { wh =>
      val ds = new KVDeltaStore(spark, wh)
      KVGraphMutations.mutateLog(ds, "g", baseV, baseE, e.limit(0), wts = 1000L)
      KVGraphMutations.mutateLog(ds, "g", addV, addE, dropE, wts = 2000L)
      val log = ds.openDatabase("g")
      val a = cells(snap)
      val b = cells(log)
      assert(a.nonEmpty && a == b,
        s"snapshot ${a.size} cells vs log ${b.size}")
    }
  }

  test("a same-batch delete + re-add of one edge keeps the addition (upsert order)") {
    val (_, e, baseV, baseE, _, _, _) = scenario()
    withTempDir("graft_kvgmutspec2") { wh =>
      val ds = new KVDeltaStore(spark, wh)
      KVGraphMutations.mutateLog(ds, "g", baseV, baseE, e.limit(0), wts = 1000L)
      // one in_region edge (present at every SF — sf0.001 has no peer
      // edges), deleted AND re-added (new w) in the same batch
      val one = e.filter(F.col("elabel") === "in_region")
        .orderBy("src", "dst").limit(1)
        .localCheckpoint(true)
      KVGraphMutations.mutateLog(ds, "g", baseV.limit(0),
        addE = one.withColumn("w", F.lit(7L)), dropE = one, wts = 2000L)
      val kc = KVGraphMutations.edgeDeletions(one)
      val after = ds.openDatabase("g").join(kc, Seq("k", "c"))
        .select(graft.kv.KVStore.decLong(F.col("v"), 1)).collect()
      assert(after.length == 1 && after(0).getLong(0) == 7L,
        s"expected the re-added cell at w=7, got ${after.mkString(",")}")
    }
  }

  test("vertex cells live in family 0 and stay out of adjacency label slices") {
    val (g, e, _, _, _, _, _) = scenario()
    val store = KVGraphMutations.vertexAdditions(g.vertices)
      .unionByName(KVGraphMutations.edgeAdditions(e))
    val nV = g.vertices.count()
    val nE = e.count()
    assert(store.filter(F.col("c") < KVGraphQueries.labelLo(1L)).count() == nV)
    assert(store.filter(F.col("c") >= KVGraphQueries.labelLo(1L)).count() == nE)
  }

  test("addE on the traversal surface feeds the write loop end to end") {
    // walk every BUILDING customer to its nation, materialize NEW
    // customer→nation edges under the (registered) in_nation label with
    // a constant w = 9, mutate them into an EMPTY store, and verify the
    // store's decoded cells are exactly the walked (customer, nation)
    // pairs at w = 9
    val (g, e, baseV, _, _, _, _) = scenario()
    val noV = baseV.limit(0)
    val walked = Traversal.V(g)
      .hasLabel("customer").has("mktsegment", "BUILDING").as("c_vid")
      .out("in_nation")
      .df // (c_vid, v1 = nation vid)
    val newEdges = Traversal.V(g)
      .hasLabel("customer").has("mktsegment", "BUILDING").as("c_vid")
      .out("in_nation").as("n_vid")
      .addE("in_nation", "c_vid", "n_vid", F.lit(9L))
    withTempDir("graft_kvgmutspec3") { wh =>
      val ds = new KVDeltaStore(spark, wh)
      // empty base, then the traversal-produced edges as one mutation
      KVGraphMutations.mutateLog(ds, "g", noV, e.limit(0), e.limit(0), wts = 1000L)
      KVGraphMutations.mutateLog(ds, "g", noV, newEdges, e.limit(0), wts = 2000L)
      val back = ds.openDatabase("g")
        .select(graft.kv.KVStore.decLong(F.col("k"), 1).as("src"),
          graft.kv.KVStore.decLong(F.col("c"), 9).as("dst"),
          graft.kv.KVStore.decLong(F.col("v"), 1).as("w"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val expect = walked.collect().map(r => (r.getLong(0), r.getLong(1), 9L))
        .distinct.sorted.toSeq // upsert collapses duplicate (k, c) cells
      assert(back.nonEmpty && back == expect)
    }
  }

  test("an unregistered edge label fails loudly instead of corrupting family 0") {
    val (_, e, _, _, _, _, _) = scenario()
    val bogus = e.limit(1).withColumn("elabel", F.lit("no_such_label"))
    // the guard must fire with ITS OWN message (any other exception —
    // or none, if an optimizer change folded the assert away — means
    // the bogus edge would have landed in the vertex family silently)
    val ex = intercept[Exception] {
      KVGraphMutations.edgeAdditions(bogus).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("unregistered edge label")),
      s"guard did not fire: ${messages(ex).mkString(" | ")}")
  }

  test("g_kv_mutate_hop reproduces the frame one-hop over the mutated store") {
    val out = KVGraphQueries.gKvMutateHop(spark, SF)
    val frame = GraphQueries.gOneHop(spark, SF)
    val a = out.select("c_vid", "n_name").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val b = frame.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(a.nonEmpty && a == b)
    val scalars = out.select("rem_region_edges", "n_vertex_cells").head()
    assert(scalars.getLong(0) == 0L, "in_region edges survived the drop")
    assert(scalars.getLong(1) == PropertyGraph(spark, SF).vertices.count(),
      "addV short of the full vertex set")
  }
}
