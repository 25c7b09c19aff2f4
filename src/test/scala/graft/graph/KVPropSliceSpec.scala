package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.{functions => F}

import graft.SparkSpec
import graft.sources.kvconnector.{KVScan, KVSegmentStore}

/** The per-property vertex read (r15 — JanusGraph's property getSlice):
  * a store-resident adapter's fused property step must serve each
  * has()/value() from the property's own cell slice (runtime-pruned,
  * no vertex pivot), keep the pivot path's semantics exactly (null
  * taps, null-rejecting filters, label expressions), and fall back to
  * the pivot join when a key has no slice. */
class KVPropSliceSpec extends SparkSpec {

  /** One full store; `hooked` carries the VertexPropSource, `pivot`
    * the r14 shape (same store, no hook). */
  private lazy val (hooked, pivot) = {
    val seg = suiteTempDir("graft_pslice")
    KVSegmentStore.write(KVGraphQueries.fullStoreCells(spark, SF), seg, 8)
    val h = KVGraphQueries.kvBackedGraphFull(spark, SF, seg)
    (h, h.copy(vertexProps = None))
  }

  private def q(g: PropertyGraph.G): DataFrame = Traversal.V(g)
    .hasLabel("customer").has("mktsegment", "BUILDING").as("c")
    .out("in_nation")
    .hasLabel("nation").value("name", "n_name")
    .has("name", Traversal.P.neq("NATION_0"))
    .select("c", "n_name").df

  test("sliced property steps equal the pivot path row-for-row") {
    val a = q(hooked).collect().map(_.toString).sorted.toSeq
    val b = q(pivot).collect().map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("the sliced tap path runs no vertex pivot and prunes to the frontier") {
    // seeded start (V(ids) — a pure vid filter): the ONLY vertex-family
    // reads left are the tap/filter slices, so the plan must contain NO
    // pivot aggregate at all
    val hop = Traversal.V(hooked, 4L, 8L, 12L).as("c")
      .out("in_nation").value("name", "n_name")
      .select("c", "n_name").df
    hop.collect()
    assert(hop.count() == 3)
    val aggs = collectExec(hop) {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }
    assert(aggs.isEmpty,
      s"sliced tap path still aggregates:\n${hop.queryExecution.executedPlan}")
    // ... and the name-slice scan is runtime-filtered to the frontier
    // (LEFT OUTER prunes its right side — canPruneRight)
    val scans = collectExec(hop) {
      case b: BatchScanExec if b.scan.isInstanceOf[KVScan] => b
    }
    assert(scans.exists(_.runtimeFilters.nonEmpty),
      s"no runtime key filter in the sliced tap plan:\n${hop.queryExecution.executedPlan}")
  }

  test("a missing property taps null on both paths") {
    // suppliers have no mktsegment cell: the LEFT slice join must keep
    // the traverser with a null tap, exactly like the pivoted column
    def taps(g: PropertyGraph.G) = Traversal.V(g, 9L) // supplier vid 9
      .out("in_nation").as("n")
      .in("in_nation").hasLabel("supplier")
      .value("mktsegment", "seg").value("name", "nm").as("s")
      .select("s", "seg", "nm").df
    val a = taps(hooked).collect().map(_.toString).sorted.toSeq
    val b = taps(pivot).collect().map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
    assert(a.forall(_.contains("null")), "supplier mktsegment should tap null")
  }

  test("filters on missing cells drop the traverser on both paths") {
    // neq on a property the vertex does not carry: null-rejecting on
    // the pivot path, inner-join drop on the slice path — both empty
    def f(g: PropertyGraph.G) = Traversal.V(g, 9L)
      .out("in_nation").as("n")
      .in("in_nation").hasLabel("supplier")
      .has("mktsegment", Traversal.P.neq("BUILDING"))
      .as("s").select("s").df
    assert(f(hooked).count() == 0 && f(pivot).count() == 0)
  }

  test("an unknown key falls back to the pivot join wholesale") {
    // acctbal IS sliced but 'vlabel'+unknown mix: feed a key the source
    // cannot serve through a sentinel source and assert the rows still
    // come out right (the fallback is the pivot path)
    val sentinel = hooked.copy(vertexProps = Some(
      new PropertyGraph.VertexPropSource {
        override def slice(prop: String): Option[DataFrame] = None
        override def existing: DataFrame =
          hooked.vertexProps.get.existing
        override def labelOf(vid: org.apache.spark.sql.Column) =
          VertexSchema.Default.labelExpr(vid)
      }))
    val a = q(sentinel).collect().map(_.toString).sorted.toSeq
    val b = q(pivot).collect().map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("labelOf agrees with the pivot's vlabel decode") {
    val src = KVGraphQueries.kvVertexPropSource(spark, "/nonexistent")
    val vids = spark.range(0, 8).select(F.col("id").as("vid"))
    val got = vids.select(F.col("vid"), src.labelOf(F.col("vid")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(0L) == "customer" && got(1L) == "supplier" &&
      got(2L) == "nation" && got(3L) == "region" && got(4L) == "customer")
  }
}
