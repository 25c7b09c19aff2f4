package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.SparkSpec
import graft.sources.kvconnector.KVScan

/** The adjacency-in-KCV composition (KVGraphQueries): a traversal hop
  * must equal the frame entry row-for-row AND actually exercise the kv
  * pruning stack — runtime key pruning from the start set, zone-map
  * pruning from the label slice. */
class KVGraphSpec extends SparkSpec {

  private def kvScans(df: DataFrame): Seq[BatchScanExec] =
    collectExec(df) { case b: BatchScanExec if b.scan.isInstanceOf[KVScan] => b }

  test("g_kv_onehop equals the frame one-hop and prunes the adjacency store") {
    val kv = KVGraphQueries.gKvOneHop(spark, SF)
    val frame = GraphQueries.gOneHop(spark, SF)
    assert(kv.columns.toSeq == frame.columns.toSeq)
    val a = kv.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val b = frame.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("the start-set join hands a runtime key filter to the adjacency scan") {
    // run the underlying join (pre-localCheckpoint plans are consumed by
    // the entry), re-built here with the same shape
    import org.apache.spark.sql.{functions => F}
    import graft.kv.KVStore.encLong
    withTempDir("graft_kvadjspec") { seg =>
      val g = PropertyGraph(spark, SF)
      graft.sources.kvconnector.KVSegmentStore.write(
        g.edges.select(encLong(F.col("src")).as("k"),
          F.concat(encLong(F.lit(1L)), encLong(F.col("dst"))).as("c"),
          encLong(F.col("w")).as("v")),
        seg, 16)
      val start = g.vertices
        .filter(F.col("vlabel") === "customer" && F.col("mktsegment") === "BUILDING")
        .select(encLong(F.col("vid")).as("k"))
      val adj = spark.read.format("graft-kv").load(seg)
      val joined = adj.join(start, Seq("k"))
      joined.collect()
      val scans = kvScans(joined)
      assert(scans.size == 1)
      assert(scans.head.runtimeFilters.nonEmpty,
        "adjacency scan got no runtime key filter:\n" +
          joined.queryExecution.executedPlan)
      val total = graft.sources.kvconnector.KVSegmentStore.readManifest(seg).size
      val planned = scans.head.scan.asInstanceOf[KVScan].lastPlanned
      assert(planned >= 1 && planned <= total)
    }
  }

  test("vertex-centric index: a weight range is a c range the zone maps prune") {
    import org.apache.spark.sql.{functions => F}
    import graft.kv.KVStore.{decLong, encLong}
    import graft.sources.kvconnector.KVSegmentStore
    // 64 vertices × 8 edges each, label = vid/32 (0 for keys 0..31,
    // 1 for 32..63), weight = edge index 0..7 — the vci layout
    // c = (label, w, dst). Key-ranged segments are label-homogeneous
    // by construction, so a label-1 slice must zone-prune the label-0
    // half of the store.
    withTempDir("graft_kvvcispec") { seg =>
      val cells = spark.range(0, 512).select(
        encLong(F.col("id") / 8).as("k"),
        F.concat(
          encLong((F.col("id") / 8) / 32),      // label
          encLong(F.col("id") % 8),             // weight (the sort key)
          encLong(F.col("id") * 31 % 64)).as("c"), // dst
        encLong(F.col("id") % 8).as("v"))
      KVSegmentStore.write(cells, seg, 16)
      val lo = F.concat(encLong(F.lit(1L)), encLong(F.lit(0L)), encLong(F.lit(0L)))
      val hi = F.concat(encLong(F.lit(1L)), encLong(F.lit(3L)), encLong(F.lit(0L)))
      val read = spark.read.format("graft-kv").load(seg)
        .filter(F.col("c") >= lo && F.col("c") < hi)
        .select(decLong(F.col("k"), 1).as("src"), decLong(F.col("c"), 9).as("w"))
      val rows = read.collect()
      // keys 32..63, weights 0..2 → 32 × 3 rows
      assert(rows.length == 32 * 3, s"rows: ${rows.length}")
      assert(rows.forall(r => r.getLong(0) >= 32 && r.getLong(1) <= 2))
      val scans = kvScans(read)
      val total = KVSegmentStore.readManifest(seg).size
      val planned = scans.head.scan.asInstanceOf[KVScan].lastPlanned
      assert(planned < total,
        s"weight-range slice zone-pruned nothing: $planned/$total segments")
    }
  }

  test("a DSL hop over kvBackedGraph gets a runtime key filter and prunes segments") {
    import org.apache.spark.sql.{functions => F}
    withTempDir("graft_kvadapspec") { seg =>
      graft.sources.kvconnector.KVSegmentStore.write(
        KVGraphQueries.adjacency(spark, SF), seg, 16)
      val g = KVGraphQueries.kvBackedGraph(spark, SF, seg)
      val hop = Traversal.V(g)
        .hasLabel("customer").has("mktsegment", "BUILDING").as("c_vid")
        .out("in_nation")
        .value("name", "n_name")
        .select("c_vid", "n_name")
        .df
      val rows = hop.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      val frame = GraphQueries.gOneHop(spark, SF).collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(rows.nonEmpty && rows == frame)
      val scans = kvScans(hop)
      assert(scans.size == 1)
      assert(scans.head.runtimeFilters.nonEmpty,
        "adapter hop join handed no runtime key filter to the adjacency scan:\n" +
          hop.queryExecution.executedPlan)
      val total = graft.sources.kvconnector.KVSegmentStore.readManifest(seg).size
      val planned = scans.head.scan.asInstanceOf[KVScan].lastPlanned
      assert(planned >= 1 && planned < total,
        s"adapter hop pruned nothing: $planned/$total segments")
    }
  }

  test("g_kv_dsl_motif (adapter DSL) still equals the frame motif row-for-row") {
    // sf0.01: the motif walks peer edges, and sf0.001 has no same-nation
    // supplier pairs at all (empty ≡ empty would assert nothing)
    val sf01 = "/root/testdata/sf0.01"
    val kv = KVGraphQueries.gKvDslMotif(spark, sf01)
    val frame = GraphQueries.gMotif(spark, sf01)
    assert(kv.columns.toSeq == frame.columns.toSeq)
    val a = kv.collect().map(_.toString).sorted.toSeq
    val b = frame.collect().map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("g_kv_vci equals the DSL edge-property traversal row-for-row") {
    val kv = KVGraphQueries.gKvVci(spark, SF)
    val dsl = GraphQueries.gDslEdgeW(spark, SF)
    assert(kv.columns.sorted.toSeq == dsl.columns.sorted.toSeq)
    val a = kv.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val b = dsl.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(a == b, s"vci ${a.size} rows vs dsl ${b.size}")
  }
}
