package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.{functions => F}

import graft.SparkSpec
import graft.sources.kvconnector.KVScan

/** VCI index selection INSIDE the DSL (r13 verdict #2): the deferred
  * edge step must route `outE(label).has(prop, lte(x))` through the
  * graph's EdgeIndex transparently, fall back to the primary adjacency
  * for predicates the index cannot serve, and keep every non-routed
  * predicate as a plain filter. */
class KVDslVciSpec extends SparkSpec {

  /** A stub index whose frame carries SENTINEL weights (w + 1000): any
    * routed row is unmistakably index-served, any fallback row is not. */
  private def sentinelGraph: PropertyGraph.G = {
    val g = PropertyGraph(spark, SF)
    val idx = new PropertyGraph.EdgeIndex {
      override def lookup(label: String, prop: String, lo: Long,
                          upTo: Long): Option[DataFrame] =
        if (prop != "w") None
        else Some(g.edges.filter(F.col("elabel") === label &&
            F.col("w") >= lo && F.col("w") <= upTo)
          .withColumn("w", F.col("w") + 1000L))
    }
    g.copy(edgeIndex = Some(idx))
  }

  test("an upper-bound has() routes through the edge index") {
    val rows = Traversal.V(sentinelGraph)
      .hasLabel("customer").as("a")
      .outE("in_nation").has("w", Traversal.P.lte(2L)).value("w", "w_e")
      .inV().as("b")
      .select("a", "b", "w_e").df.collect()
    assert(rows.nonEmpty)
    // every row came from the sentinel frame, and the bound held there
    assert(rows.forall(r => r.getLong(2) >= 1000L && r.getLong(2) <= 1002L))
  }

  test("a predicate the index cannot serve falls back to the primary frame") {
    // within() states no contiguous bound — not routable, primary frame
    // (gte/gt became routable lower bounds with the r14 interval rule)
    val rows = Traversal.V(sentinelGraph)
      .hasLabel("customer").as("a")
      .outE("in_nation").has("w", Traversal.P.within(3L, 4L)).value("w", "w_e")
      .inV().as("b")
      .select("a", "b", "w_e").df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(2) >= 3L && r.getLong(2) <= 4L))
  }

  test("non-routed predicates still filter on the routed frame") {
    // lte(4) routes; the neq(1002) residue is NOT a bound and must keep
    // filtering the routed (sentinel) rows
    val rows = Traversal.V(sentinelGraph)
      .hasLabel("customer").as("a")
      .outE("in_nation").has("w", Traversal.P.lte(4L))
      .has("w", Traversal.P.neq(1002L)).value("w", "w_e")
      .inV().as("b")
      .select("a", "b", "w_e").df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(2) >= 1000L && r.getLong(2) <= 1004L
      && r.getLong(2) != 1002L))
  }

  test("range and equality bounds combine into one routed interval") {
    // gte(2) + lte(3): both consumed, routed as [2, 3]
    val rng = Traversal.V(sentinelGraph)
      .hasLabel("customer").as("a")
      .outE("in_nation").has("w", Traversal.P.gte(2L))
        .has("w", Traversal.P.lte(3L)).value("w", "w_e")
      .inV().as("b")
      .select("a", "b", "w_e").df.collect()
    assert(rng.nonEmpty &&
      rng.forall(r => r.getLong(2) >= 1002L && r.getLong(2) <= 1003L))
    // is(3): routed as [3, 3]
    val eq = Traversal.V(sentinelGraph)
      .hasLabel("customer").as("a")
      .outE("in_nation").has("w", Traversal.P.is(3L)).value("w", "w_e")
      .inV().as("b")
      .select("a", "b", "w_e").df.collect()
    assert(eq.nonEmpty && eq.forall(_.getLong(2) == 1003L))
    // a pure LOWER bound routes too ([4, unbounded))
    val low = Traversal.V(sentinelGraph)
      .hasLabel("customer").as("a")
      .outE("in_nation").has("w", Traversal.P.gte(4L)).value("w", "w_e")
      .inV().as("b")
      .select("a", "b", "w_e").df.collect()
    assert(low.nonEmpty && low.forall(_.getLong(2) >= 1004L))
    // contradictory bounds intersect to an empty interval — same answer
    // as the eager conjunction
    val none = Traversal.V(sentinelGraph)
      .hasLabel("customer").as("a")
      .outE("in_nation").has("w", Traversal.P.gte(4L))
        .has("w", Traversal.P.lte(2L)).value("w", "w_e")
      .inV().as("b")
      .select("a", "b", "w_e").df.collect()
    assert(none.isEmpty)
  }

  test("a deferred edge step with no predicates equals the eager plan's rows") {
    val deferred = Traversal.V(sentinelGraph)
      .hasLabel("customer").as("a")
      .outE("in_nation").value("w", "w_e").inV().as("b")
      .select("a", "b", "w_e").df
    val eager = Traversal.V(spark, SF)
      .hasLabel("customer").as("a")
      .outE("in_nation").value("w", "w_e").inV().as("b")
      .select("a", "b", "w_e").df
    assert(deferred.collect().map(_.toString).sorted.toSeq ==
      eager.collect().map(_.toString).sorted.toSeq)
  }

  test("g_kv_dsl_vci equals the frame traversal and prunes the store") {
    val kv = KVGraphQueries.gKvDslVci(spark, SF)
    val frame = GraphQueries.gDslEdgeW(spark, SF)
    assert(kv.columns.toSeq == frame.columns.toSeq)
    val a = kv.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val b = frame.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(a == b, s"dsl-vci ${a.size} rows vs frame ${b.size}")
    // sf0.001 has no peer edges: row equality (both empty) is the gate
    // here; the sf0.01 driver gate covers the non-empty case
  }

  test("the routed DSL step reads ONLY the vci family and prunes segments") {
    import graft.kv.KVStore.{decLong, encLong}
    withTempDir("graft_dslvcispec") { seg =>
      graft.sources.kvconnector.KVSegmentStore.write(
        KVGraphQueries.dualAdjacency(spark, SF), seg, 16)
      val g = KVGraphQueries.kvBackedGraphDual(spark, SF, seg)
      // in_nation exists at every SF (unlike peer); bound = every w.
      // The BUILDING predicate keeps the frontier selective AFTER constant
      // folding (hasLabel alone folds away), licensing the runtime filter.
      def q(t: Traversal) = t
        .hasLabel("customer").has("mktsegment", "BUILDING").as("a")
        .outE("in_nation").has("w", Traversal.P.lte(5L)).value("w", "w_e")
        .inV().as("b")
        .select("a", "b", "w_e").df
      val hop = q(Traversal.V(g))
      val rows = hop.collect()
      assert(rows.nonEmpty)
      val frame = q(Traversal.V(spark, SF)).collect()
      assert(rows.map(_.toString).sorted.toSeq == frame.map(_.toString).sorted.toSeq)
      // the scan under the routed step got the frontier's runtime key
      // filter (the dual layout keeps the store key on the index frame)
      val scans = collectExec(hop) {
        case bs: BatchScanExec if bs.scan.isInstanceOf[KVScan] => bs
      }
      assert(scans.size == 1)
      assert(scans.head.runtimeFilters.nonEmpty,
        s"routed DSL step handed no runtime key filter:\n${hop.queryExecution.executedPlan}")
    }
  }
}
