package graft.sources.kvconnector

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.{functions => F}

import graft.SparkSpec
import graft.kv.KVStore

/** Storage-partitioned join through the graft-kv connector (r11 verdict
  * #5): two stores bucketed by the same hash of k must equi-join on k
  * with ZERO shuffle Exchange on either side — kv_bucket_join's
  * co-location property, native to the DSv2 path instead of parquet
  * bucket tables. */
class KVSpjSpec extends SparkSpec {

  private def cellsDf = cells(0, 2000)

  private def cells(from: Long, until: Long) = {
    spark.range(from, until)
      .select(
        KVStore.encLong(F.col("id") % 100).as("k"),
        KVStore.encLong(F.col("id")).as("c"),
        F.concat(F.lit("v"), F.col("id").cast("string")).cast("binary").as("v"))
  }

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeLike] =
    collectExec(df) { case e: ShuffleExchangeLike => e }

  test("two same-bucketed stores join on k with zero shuffle Exchange") {
    val cellsDir = Files.createTempDirectory("graft_spjc").toString
    val rollDir = Files.createTempDirectory("graft_spjr").toString
    KVSegmentStore.write(cellsDf, cellsDir, 8, "bucket")
    val roll = cellsDf.groupBy("k").agg(F.count(F.lit(1)).as("n"))
      .select(F.col("k"), KVStore.encLong(F.lit(0L)).as("c"),
        KVStore.encLong(F.col("n")).as("v"))
    KVSegmentStore.write(roll, rollDir, 8, "bucket")

    val cells = spark.table(s"graftkv.`$cellsDir`")
    val totals = spark.table(s"graftkv.`$rollDir`")
      .select(F.col("k"), F.col("v").as("tot"))
    val joined = cells.hint("merge").join(totals, Seq("k"))
    val rows = joined.collect()
    assert(rows.length == 2000, s"join rows: ${rows.length}")
    assert(shuffles(joined).isEmpty,
      "expected a storage-partitioned (zero-Exchange) join, got:\n" +
        joined.queryExecution.executedPlan)
    // the scans REPORT the (k, c) per-partition write order
    // (one segment per bucket), so the merge join needs no SortExec
    // on either side — co-located AND pre-sorted
    val found =
      collectExec(joined) { case s: org.apache.spark.sql.execution.SortExec => s }
    assert(found.isEmpty,
      "expected sort-free SPJ (reported ordering), got:\n" +
        joined.queryExecution.executedPlan)
  }

  test("bucket ids on disk match the declared bucket function") {
    val dir = Files.createTempDirectory("graft_spjb").toString
    KVSegmentStore.write(cellsDf, dir, 8, "bucket")
    assert(KVSegmentStore.readBuckets(dir).contains(8))
    // sortedness marker survives: TopN read-in-order still applies
    assert(KVSegmentStore.readSortedKC(dir))
    val segs = KVSegmentStore.readManifest(dir)
    assert(segs.nonEmpty && segs.size <= 8)
    segs.foreach { seg =>
      val id = KVSegmentStore.bucketId(seg.file)
      assert(0 <= id && id < 8)
      val keys = spark.read.parquet(seg.file).select("k").collect()
        .map(_.getAs[Array[Byte]](0))
      assert(keys.nonEmpty)
      keys.foreach { k =>
        assert(KVBucketFunction.bucketOf(k, 8) == id,
          s"key ${KVSegmentStore.hex(k)} in segment of bucket $id " +
            s"hashes to ${KVBucketFunction.bucketOf(k, 8)}")
      }
    }
    // the V2 ScalarFunction agrees with the raw hash
    val bound = KVBucketFunction.bind(new org.apache.spark.sql.types.StructType()
      .add("n", org.apache.spark.sql.types.IntegerType)
      .add("k", org.apache.spark.sql.types.BinaryType))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]]
    val k0 = KVStore.encLong(F.lit(7L))
    val bytes = spark.range(1).select(k0.as("k")).head().getAs[Array[Byte]](0)
    val viaFn = bound.produceResult(
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](8, bytes)))
    assert(viaFn == KVBucketFunction.bucketOf(bytes, 8))
  }

  test("connector truncate over a bucketed store sweeps bloom sidecars") {
    val dir = Files.createTempDirectory("graft_spjt").toString
    KVSegmentStore.write(cellsDf, dir, 4, "bucket")
    def sidecars(): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir))
        .filter(_.getPath.contains(KVSegmentStore.BloomDir))
    }
    val before = sidecars()
    assert(before.nonEmpty, "bucketed write produced no sidecars")
    // overwrite through the connector: the old bucketed segments AND
    // their beside-the-file sidecars must be swept (the r12 review
    // found the sweep deriving a path that never existed)
    cellsDf.limit(50).write.format("graft-kv").mode("overwrite").save(dir)
    val leftover = before.filter(_.exists())
    assert(leftover.isEmpty,
      s"orphaned sidecars after truncate: ${leftover.take(3).mkString(", ")}")
    assert(spark.read.format("graft-kv").load(dir).count() == 50)
  }

  test("a range/zorder store reports no bucket layout and still reads") {
    val dir = Files.createTempDirectory("graft_spjl").toString
    KVSegmentStore.write(cellsDf, dir, segments = 8)
    assert(KVSegmentStore.readBuckets(dir).isEmpty)
    // joining two RANGE stores through the connector still shuffles —
    // the property being native-to-bucketed, not universal
    assert(spark.read.format("graft-kv").load(dir).count() == 2000)
  }

  test("ordering claim is withdrawn when a bucket holds several files") {
    val dir = Files.createTempDirectory("graft_spjm").toString
    // a second bucketed append of the same bucket count keeps the
    // marker and gives every bucket a second file
    KVSegmentStore.write(cells(0, 1000), dir, 8, "bucket")
    cells(1000, 2000).write.format("graft-kv")
      .option("layout", "bucket").option("segments", 8)
      .mode("append").save(dir)
    assert(KVSegmentStore.readBuckets(dir).contains(8))
    val segs = KVSegmentStore.readManifest(dir)
    assert(segs.size > 8, s"expected several files per bucket, got ${segs.size}")
    val scan = new KVBucketScan(dir, KVDataSource.Schema,
      Array.empty, -1, 8)
    // two sorted runs concatenated are not sorted: the claim must go
    assert(scan.outputOrdering().isEmpty,
      "ordering must be withdrawn for multi-file buckets")
    // partitioning stays (each file still knows its bucket) and rows
    // survive intact
    assert(spark.read.format("graft-kv").load(dir).count() == 2000)
  }

  test("a rogue non-bucket segment degrades the scan instead of failing it") {
    val dir = Files.createTempDirectory("graft_spjrg").toString
    KVSegmentStore.write(cellsDf, dir, 8, "bucket")
    // simulate the race: a root-level segment lands in the manifest
    // while the bucket marker is still up (marker demotion and
    // manifest rewrite are not one atomic step for a concurrent
    // reader) — copy bucket 0's file to the root and manifest it
    val seg0 = KVSegmentStore.readManifest(dir).head
    val src = java.nio.file.Paths.get(seg0.file)
    val rogue = java.nio.file.Paths.get(dir, "rogue.parquet")
    java.nio.file.Files.copy(src, rogue)
    val conf = KVSegmentStore.activeConf
    val manifest = graft.GraftFs.child(dir, KVSegmentStore.ManifestFile)
    val text = graft.GraftFs.readText(conf, manifest).get
    val first = text.linesIterator.next()
    val firstName = first.split('\t')(0)
    graft.GraftFs.writeTextAtomic(conf, manifest,
      text + "\n" + first.replace(firstName, "rogue.parquet"))
    assert(KVSegmentStore.bucketIdOpt(rogue.toString).isEmpty)
    val scan = new KVBucketScan(dir, KVDataSource.Schema, Array.empty, -1, 8)
    // no throw: ordering withdrawn, partitions degrade to plain
    assert(scan.outputOrdering().isEmpty)
    val parts = scan.planInputPartitions()
    assert(parts.length == 9)
    assert(parts.forall(!_.isInstanceOf[
      org.apache.spark.sql.connector.read.HasPartitionKey]),
      "mixed store must emit plain partitions so Spark drops the key-grouped claim")
    // and the read itself still works (duplicated rows are expected:
    // the rogue file IS bucket 0's copy)
    assert(spark.read.format("graft-kv").load(dir).count() == 2000 + seg0.rows)
  }

  test("a linear append DEMOTES the bucket marker instead of breaking reads") {
    val dir = Files.createTempDirectory("graft_spja").toString
    KVSegmentStore.write(cellsDf, dir, 8, "bucket")
    assert(KVSegmentStore.readBuckets(dir).contains(8))
    // an ordinary connector append has no __b= directory — the bucket
    // invariant no longer holds, so the marker must fall (r12 review:
    // a stale marker made every subsequent scan throw on bucketId)
    val extra = spark.range(2000, 2100)
      .select(
        KVStore.encLong(F.col("id") % 100).as("k"),
        KVStore.encLong(F.col("id")).as("c"),
        F.lit("x").cast("binary").as("v"))
    extra.write.format("graft-kv").option("segments", 2)
      .mode("append").save(dir)
    assert(KVSegmentStore.readBuckets(dir).isEmpty,
      "bucket marker must be demoted by a linear append")
    // reads keep working over the mixed store, TopN push included
    assert(spark.read.format("graft-kv").load(dir).count() == 2100)
    assert(KVSegmentStore.readSortedKC(dir))
    val top = spark.read.format("graft-kv").load(dir)
      .orderBy(F.col("k").asc, F.col("c").asc).limit(5).collect()
    assert(top.length == 5)
  }

  test("static key pruning composes with the bucket layout") {
    val dir = Files.createTempDirectory("graft_spjp").toString
    KVSegmentStore.write(cellsDf, dir, 8, "bucket")
    // a point probe keeps only the segments whose bloom/bounds can
    // hold the key — on a hash layout that is bloom work, and at most
    // a couple of buckets survive
    val probe = spark.table(s"graftkv.`$dir`")
      .filter(F.col("k") === KVStore.encLong(F.lit(42L)))
    assert(probe.count() == 20)
  }
}
