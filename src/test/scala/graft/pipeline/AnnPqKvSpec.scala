package graft.pipeline

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{functions => F}

import graft.SparkSpec
import graft.Tables
import graft.sources.kvconnector.{KVScan, KVSegmentStore}

/** s_ann_pq_kv (PQ codes in the KV value — the IVFADC/DiskANN shape):
  * the store-served path must equal a frame-computed IVFADC twin
  * bit-for-bit (same centroids, same codebooks, same probe sets — the
  * store only changes WHERE the codes live), and the probed lists must
  * prune the store's segments at plan time. */
class AnnPqKvSpec extends SparkSpec {

  test("store-served IVFADC equals the frame-computed twin row-for-row") {
    val served = AnnQueries.sAnnPqKv(spark, SF)
    // the frame twin: identical pipeline, codes straight from the frame
    val e = AnnQueries.withNorm(Tables(spark, SF, "embeddings")).localCheckpoint()
    val cents = AnnQueries.ivfCentroids(e)
    val books = AnnQueries.pqBooks(e)
    val assigned = e.select(
        F.col("vec_id") +: F.col("embedding") +: AnnQueries.pqCodeCols(books): _*)
      .select(
        AnnQueries.nearestCid(F.col("embedding"), cents).cast("int").as("cid"),
        F.col("vec_id"),
        F.posexplode(F.array((0 until AnnQueries.PqM).map(m =>
          F.col(s"c$m").cast("int")): _*)).as(Seq("m", "code")))
    val probes = e.filter(F.col("vec_id") < AnnQueries.NQueries)
      .select(F.col("vec_id").as("q_id"),
        F.explode(AnnQueries.topCids(F.col("embedding"), cents,
          AnnQueries.NProbe)).as("cid"))
    val adc = F.broadcast(probes).join(assigned, Seq("cid"))
      .join(F.broadcast(AnnQueries.pqLut(spark, e, books)), Seq("q_id", "m", "code"))
      .filter(F.col("vec_id") =!= F.col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(F.sum(F.col("pdot").cast(DecimalType(30, 12))).as("adot"))
    val twin = AnnQueries.pqRerank(e, adc)
    assert(served.columns.toSeq == twin.columns.toSeq)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(_.toString).sorted.toSeq
    val a = rows(served)
    val b = rows(twin)
    assert(a == b && a.nonEmpty,
      s"kv-served IVFADC diverged from the frame twin: ${a.size} vs ${b.size} rows")
  }

  test("the probed lists prune the code store's segments at plan time") {
    // the entry's store lives only for its call: write the same code
    // store into a dir of our own, then re-issue the entry's IN probe
    val e = AnnQueries.withNorm(Tables(spark, SF, "embeddings")).localCheckpoint()
    withTempDir("annspec_pqkv") { store =>
      KVSegmentStore.write(AnnQueries.pqPostings(e, AnnQueries.ivfCentroids(e),
        AnnQueries.pqBooks(e)), store, 8)
      val total = KVSegmentStore.readManifest(store).size
      val probe = spark.read.format("graft-kv").load(store)
        .filter(F.col("k").isin(Seq(graft.kv.KVStore.beLong(0L),
          graft.kv.KVStore.beLong(1L), graft.kv.KVStore.beLong(2L)): _*))
      probe.collect()
      val kv = collectExec(probe) {
        case b: BatchScanExec if b.scan.isInstanceOf[KVScan] =>
          b.scan.asInstanceOf[KVScan]
      }.head
      assert(kv.lastPlanned < total,
        s"list probe scheduled ${kv.lastPlanned}/$total segments — no pruning")
      // and the values really are the 8-byte code payloads (not empty)
      val lens = spark.read.format("graft-kv").load(store)
        .select(F.length(F.col("v"))).distinct().collect().map(_.getInt(0)).toSeq
      assert(lens == Seq(AnnQueries.PqM),
        s"expected ${AnnQueries.PqM}-byte PQ codes in v, got lengths $lens")
    }
  }
}
