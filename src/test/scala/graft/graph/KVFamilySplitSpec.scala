package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.{functions => F}

import graft.SparkSpec
import graft.sources.kvconnector.{KVScan, KVSegmentStore}

/** The per-family named-store split (r13 verdict #1): a vertex-property
  * qualifier slice must DROP segments on the family-ranged store and
  * provably cannot on the mixed k-ranged store — plus row equality of
  * the split read against the mixed read. */
class KVFamilySplitSpec extends SparkSpec {

  private def kvScans(df: DataFrame): Seq[KVScan] =
    collectExec(df) {
      case b: BatchScanExec if b.scan.isInstanceOf[KVScan] =>
        b.scan.asInstanceOf[KVScan]
    }

  private def vertexCells: DataFrame = {
    val g = PropertyGraph(spark, SF)
    KVGraphMutations.vertexAdditions(g.vertices)
      .unionByName(KVGraphMutations.vertexPropAdditions(g.vertices))
  }

  private def slicePlanned(path: String): (Int, Int) = {
    val (mLo, mHi) = KVGraphMutations.vpropSlice("mktsegment")
    val read = spark.read.format("graft-kv").load(path)
      .filter(F.col("c") >= mLo && F.col("c") < mHi)
    read.collect()
    val planned = kvScans(read).head.lastPlanned
    (planned, KVSegmentStore.readManifest(path).size)
  }

  test("a property slice drops segments on the family-ranged store only") {
    withTempDir("graft_splm") { mixed =>
      withTempDir("graft_splf") { famed =>
        KVSegmentStore.write(vertexCells, mixed, 16)
        KVSegmentStore.write(vertexCells, famed, 16, "familyranged")
        val (mixedPlanned, mixedTotal) = slicePlanned(mixed)
        val (famPlanned, famTotal) = slicePlanned(famed)
        // mixed store: every vertex writes all its cells, so every segment's
        // c zone map spans the whole family — the slice CANNOT drop segments
        assert(mixedPlanned == mixedTotal,
          s"mixed store unexpectedly pruned: $mixedPlanned/$mixedTotal")
        // family-ranged store: 4 qualifier values across 16 segments — the
        // one-property slice must drop the other properties' segments
        assert(famPlanned < famTotal,
          s"family-ranged store pruned nothing: $famPlanned/$famTotal")
        assert(famPlanned >= 1)
      }
    }
  }

  test("g_kv_vprops_split equals g_kv_vprops row-for-row") {
    val split = KVGraphQueries.gKvVpropsSplit(spark, SF)
    val mixed = KVGraphQueries.gKvVprops(spark, SF)
    assert(split.columns.toSeq == mixed.columns.toSeq)
    val a = split.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val b = mixed.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("the split keeps the edge slice out of the property store entirely") {
    // the split's other half: an adjacency read opens ONLY the edgestore
    // — its scan plans exclusively edgestore segments (input_file_name
    // is not populated by DSv2 custom readers, so the assertion reads
    // the scan's own description and the stores' manifests)
    withTempDir("graft_splwh") { wh =>
      val mgr = new graft.kv.KVStoreManager(spark, wh)
      mgr.writeSegmentStore("edgestore", KVGraphQueries.adjacency(spark, SF), 8)
      mgr.writeSegmentStore("vertexprops", vertexCells, 8, familyRanged = true)
      val edges = mgr.openSegmentStore("edgestore")
      edges.collect()
      val descs = collectExec(edges) {
        case b: BatchScanExec if b.scan.isInstanceOf[KVScan] => b.scan.description()
      }
      assert(descs.size == 1 && descs.head.contains("edgestore") &&
        !descs.head.contains("vertexprops"))
      // and both named manifests exist independently
      assert(KVSegmentStore.readManifest(s"$wh/edgestore").nonEmpty)
      assert(KVSegmentStore.readManifest(s"$wh/vertexprops").nonEmpty)
      assert(KVSegmentStore.readManifest(s"$wh/edgestore")
        .forall(_.file.contains("edgestore")))
    }
  }
}
