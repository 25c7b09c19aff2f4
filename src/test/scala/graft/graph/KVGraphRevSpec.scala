package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.{functions => F}

import graft.SparkSpec
import graft.kv.KVStore.encLong
import graft.sources.kvconnector.{KVScan, KVSegmentStore}

/** Reverse-hop pruning over the dual-adjacency adapter (r13 verdict
  * #3): an `in()` hop must key its join on the mirror family's store
  * key — runtime key filter + segment drop — and equal the frame
  * traversal row-for-row. */
class KVGraphRevSpec extends SparkSpec {

  private def bothStore(dir: String): DataFrame = {
    val e = PropertyGraph(spark, dir).edges
    KVGraphMutations.edgeAdditions(e)
      .unionByName(KVGraphMutations.edgeRevAdditions(e))
  }

  private def kvScans(df: DataFrame): Seq[BatchScanExec] =
    collectExec(df) { case b: BatchScanExec if b.scan.isInstanceOf[KVScan] => b }

  test("a reverse DSL hop over the dual store gets a runtime key filter and prunes") {
    withTempDir("graft_kvrevspec") { seg =>
      KVSegmentStore.write(bothStore(SF), seg, 16)
      val g = KVGraphQueries.kvBackedGraphBoth(spark, SF, seg)
      // a REAL property predicate on the frontier (hasLabel alone
      // constant-folds away — vlabel is a union-branch literal — and
      // Spark's dynamic-pruning heuristic then sees nothing selective)
      val names = Seq("NATION_3", "NATION_7", "NATION_11", "NATION_18", "NATION_21")
      def q(t: Traversal) = t
        .hasLabel("nation")
        .has("name", Traversal.P.within(names: _*))
        .value("name", "n_name").as("n_vid")
        .in("in_nation")
        .hasLabel("supplier")
        .as("s_vid")
        .select("n_vid", "n_name", "s_vid")
        .df
      val hop = q(Traversal.V(g))
      val rows = hop.collect().map(_.toString).sorted.toSeq
      val frame = q(Traversal.V(spark, SF)).collect().map(_.toString).sorted.toSeq
      assert(rows.nonEmpty && rows == frame)
      val scans = kvScans(hop)
      assert(scans.size == 1)
      assert(scans.head.runtimeFilters.nonEmpty,
        "reverse hop handed no runtime key filter to the mirror-family scan:\n" +
          hop.queryExecution.executedPlan)
      val total = KVSegmentStore.readManifest(seg).size
      val planned = scans.head.scan.asInstanceOf[KVScan].lastPlanned
      assert(planned >= 1 && planned < total,
        s"reverse hop pruned nothing: $planned/$total segments")
    }
  }

  test("inE().outV() over the dual store equals the frame traversal and prunes") {
    withTempDir("graft_kvrevespec") { seg =>
      KVSegmentStore.write(bothStore(SF), seg, 16)
      val g = KVGraphQueries.kvBackedGraphBoth(spark, SF, seg)
      def q(t: Traversal) = t
        .hasLabel("nation")
        .has("name", Traversal.P.within("NATION_3", "NATION_7", "NATION_11"))
        .as("n_vid")
        .inE("in_nation").value("w", "w_e")
        .outV().as("x_vid")
        .select("n_vid", "x_vid", "w_e").df
      val kv = q(Traversal.V(g))
      val a = kv.collect().map(_.toString).sorted.toSeq
      val b = q(Traversal.V(spark, SF)).collect().map(_.toString).sorted.toSeq
      assert(a.nonEmpty && a == b)
      val scans = kvScans(kv)
      assert(scans.size == 1 && scans.head.runtimeFilters.nonEmpty,
        s"inE over the dual store got no runtime key filter:\n${kv.queryExecution.executedPlan}")
    }
  }

  test("both() over the dual store prunes and equals the frame both()") {
    withTempDir("graft_kvbothspec") { seg =>
      KVSegmentStore.write(bothStore(SF), seg, 16)
      val g = KVGraphQueries.kvBackedGraphBoth(spark, SF, seg)
      def q(t: Traversal) = t
        .hasLabel("region")
        .has("name", Traversal.P.within("ASIA", "EUROPE"))
        .as("r_vid")
        .both("in_region")
        .as("n_vid")
        .select("r_vid", "n_vid").df
      val kv = q(Traversal.V(g))
      val a = kv.collect().map(_.toString).sorted.toSeq
      val b = q(Traversal.V(spark, SF)).collect().map(_.toString).sorted.toSeq
      assert(a.nonEmpty && a == b)
      // both families' scans are keyed: the hop join carries the store key
      val scans = kvScans(kv)
      assert(scans.size >= 1, s"no kv scan under both():\n${kv.queryExecution.executedPlan}")
      assert(scans.exists(_.runtimeFilters.nonEmpty),
        s"both() handed no runtime key filter:\n${kv.queryExecution.executedPlan}")
    }
  }

  test("mirror family cells mirror the primary family exactly") {
    val e = PropertyGraph(spark, SF).edges
    val fwd = KVGraphMutations.edgeAdditions(e)
      .select(F.col("k").as("sk"), F.col("c"), F.col("v"))
    val rev = KVGraphMutations.edgeRevAdditions(e)
    // decode both back to (src, dst, w) and compare as sets
    import graft.kv.KVStore.decLong
    val a = fwd.select(decLong(F.col("sk"), 1).as("src"),
      decLong(F.col("c"), 9).as("dst"), decLong(F.col("v"), 1).as("w"))
      .collect().map(_.toString).sorted.toSeq
    val b = rev.select(decLong(F.col("c"), 9).as("src"),
      decLong(F.col("k"), 1).as("dst"), decLong(F.col("v"), 1).as("w"))
      .collect().map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
    // and the family ids sit in the reverse band
    val fams = rev.select(decLong(F.col("c"), 1)).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(fams.forall(f => f > KVGraphMutations.RevBase &&
      f < KVGraphMutations.RevBase + KVGraphQueries.VciBase))
  }
}
