package graft.sources.kvconnector

import java.nio.file.Files

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.SparkSpec
import graft.kv.KVStore
import graft.operators.KeyBloom

/** The per-segment key Bloom skip index: point/IN probes for keys the
  * store does NOT hold must schedule ZERO segments even when the key
  * falls inside a segment's range (the gap the minmax zone map cannot
  * close), present keys must keep their rows, bloom-less legacy stores
  * must degrade to range pruning, and range-only scans must never pay
  * a sidecar read. */
class KVBloomSpec extends SparkSpec {

  // keys 0,2,4,..198 (EVEN only): every odd key lies inside the range
  private def store = {
    import spark.implicits._
    spark.range(0, 2000)
      .select(
        KVStore.encLong((F.col("id") % 100) * 2).as("k"),
        KVStore.encLong(F.col("id")).as("c"),
        F.concat(F.lit("v"), F.col("id").cast("string")).cast("binary").as("v"))
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame): KVScan =
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec if b.scan.isInstanceOf[KVScan] =>
        b.scan.asInstanceOf[KVScan]
    }.get

  private def beLong(v: Long): Array[Byte] = KVStore.beLong(v)

  private def probe(dir: String, key: Long) =
    spark.read.format("graft-kv").load(dir)
      .filter(F.col("k") === KVStore.encLong(F.lit(key)))

  /** An ODD (hence absent) key guaranteed INSIDE some segment's [lo, hi]
    * — picking a literal like 51 can flake: range-partition boundaries
    * sometimes leave odd keys in the GAP between segments, where range
    * pruning alone already yields zero segments. */
  private def absentInRange(dir: String): Long = {
    val segs = KVSegmentStore.readManifest(dir)
    segs.iterator
      .filter(g => java.util.Arrays.compareUnsigned(g.lo, g.hi) < 0)
      .map(g => java.nio.ByteBuffer.wrap(g.lo).getLong + 1)
      .next()
  }

  test("absent key inside the range schedules zero segments; present key keeps its rows") {
    val dir = Files.createTempDirectory("graft_kvbloom").toString
    KVSegmentStore.write(store, dir, segments = 8)
    // an odd key inside a segment's [lo, hi] but NOT stored
    val absent = absentInRange(dir)
    assert(scanOf(probe(dir, absent)).kept.isEmpty,
      s"bloom must prune every segment for absent key $absent")
    assert(probe(dir, absent).count() == 0)
    // present key: segments survive and the rows come back
    assert(scanOf(probe(dir, 50L)).kept.nonEmpty)
    assert(probe(dir, 50L).count() == 20) // 2000/100 ids share each key
    // IN probe with one present + one absent key keeps the present
    // key's rows
    val in = spark.read.format("graft-kv").load(dir)
      .filter(F.col("k").isin(beLong(50L), beLong(absent)))
    assert(in.count() == 20)
  }

  test("DSV2 write path builds the same sidecars; truncate sweeps them") {
    val dir = Files.createTempDirectory("graft_kvbloom_w").toString
    store.write.format("graft-kv").option("segments", 8).mode("append").save(dir)
    val segs = KVSegmentStore.readManifest(dir)
    assert(segs.forall(s => KVSegmentStore.readBloom(s.file).isDefined),
      "every committed segment must have a bloom sidecar")
    assert(scanOf(probe(dir, absentInRange(dir))).kept.isEmpty)
    assert(probe(dir, 50L).count() == 20)
    // truncate replaces segments AND sweeps the old sidecars
    val oldFiles = segs.map(_.file.split('/').last).toSet
    store.limit(100).write.format("graft-kv").option("segments", 2)
      .mode("overwrite").save(dir)
    val fs = graft.GraftFs.fs(dir, spark.sparkContext.hadoopConfiguration)
    oldFiles.foreach { f =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_graft_bloom/$f")),
        s"stale sidecar survived truncate: $f")
    }
  }

  test("legacy store without sidecars degrades to range pruning; range scans skip bloom reads") {
    val dir = Files.createTempDirectory("graft_kvbloom_l").toString
    KVSegmentStore.write(store, dir, segments = 4)
    // simulate a pre-bloom store
    graft.GraftFs.delete(spark.sparkContext.hadoopConfiguration,
      graft.GraftFs.child(dir, KVSegmentStore.BloomDir))
    // absent-but-in-range key: range pruning alone keeps its segment...
    val absent = absentInRange(dir)
    assert(scanOf(probe(dir, absent)).kept.nonEmpty)
    // ...and the residual filter still yields zero rows
    assert(probe(dir, absent).count() == 0)
    // pure range predicate never consults sidecars (they're gone): scan
    // still plans and rows return
    val ranged = spark.read.format("graft-kv").load(dir)
      .filter(F.col("k") < KVStore.encLong(F.lit(10L)))
    assert(ranged.count() == 100) // keys 0,2,4,6,8 → 5 × 20 rows
  }

  test("KeyBloom core: no false negatives, serialization roundtrip") {
    val bits = new Array[Long](KeyBloom.DefaultBits / 64)
    val keys = (0 until 5000).map(i => beLong(i.toLong * 2))
    keys.foreach(k => KeyBloom.add(bits, KeyBloom.DefaultHashes, k))
    assert(keys.forall(k =>
      KeyBloom.mightContain(bits, KeyBloom.DefaultHashes, k)),
      "bloom false negative")
    val (back, h) = KeyBloom.deserialize(
      KeyBloom.serialize(bits, KeyBloom.DefaultHashes))
    assert(h == KeyBloom.DefaultHashes && back.sameElements(bits))
    // absent keys are mostly excluded (~1% fpp at this fill)
    val fps = (0 until 5000).count(i => KeyBloom.mightContain(back, h,
      beLong(i.toLong * 2 + 1)))
    assert(fps < 250, s"false-positive rate too high: $fps/5000")
  }
}
