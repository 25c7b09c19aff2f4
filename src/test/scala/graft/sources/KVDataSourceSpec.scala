package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{functions => F}

import graft.SparkSpec
import graft.kv.KVStore
import graft.sources.kvconnector.KVSegmentStore

class KVDataSourceSpec extends SparkSpec {

  private def store = {
    import spark.implicits._
    spark.range(0, 2000)
      .select(
        KVStore.encLong(F.col("id") % 100).as("k"),
        KVStore.encLong(F.col("id")).as("c"),
        F.concat(F.lit("v"), F.col("id").cast("string")).cast("binary").as("v"))
  }

  private def written: String = {
    val dir = Files.createTempDirectory("graft_kvdsv2").toString
    KVSegmentStore.write(store, dir, segments = 8)
    dir
  }

  test("DSV2 write: roundtrip, declared layout, manifest from commit messages") {
    val dir = Files.createTempDirectory("graft_kvwrite").toString
    store.write.format("graft-kv").option("segments", 8).mode("append").save(dir)
    // cell-for-cell roundtrip through the connector's own reader
    val back = spark.read.format("graft-kv").load(dir)
      .select(F.hex(F.col("k")), F.hex(F.col("c")), F.col("v").cast("string"))
      .collect().map(_.toSeq).toSet
    val src = store
      .select(F.hex(F.col("k")), F.hex(F.col("c")), F.col("v").cast("string"))
      .collect().map(_.toSeq).toSet
    assert(back == src && back.size == 2000)
    // RequiresDistributionAndOrdering produced key-RANGE segments: the
    // manifested bounds must be pairwise disjoint
    val segs = KVSegmentStore.readManifest(dir)
      .sortBy(s => KVSegmentStore.hex(s.lo))
    assert(segs.size > 1, "expected several range segments")
    segs.sliding(2).foreach {
      case Seq(a, b) =>
        assert(java.util.Arrays.compareUnsigned(a.hi, b.lo) < 0,
          s"segments overlap: ${KVSegmentStore.hex(a.hi)} !< ${KVSegmentStore.hex(b.lo)}")
      case _ => ()
    }
    assert(segs.map(_.rows).sum == 2000)
    // and each segment is (k, c)-sorted on disk
    val first = spark.read.parquet(segs.head.file)
      .select(F.hex(F.col("k")), F.hex(F.col("c"))).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(first.sameElements(first.sorted), "segment not (k,c)-sorted")
  }

  test("DSV2 append to a NON-EMPTY store keeps previously committed segments") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_kvapp").toString
    store.write.format("graft-kv").mode("append").save(dir)
    val oldSegs = KVSegmentStore.readManifest(dir)
    val oldFiles = oldSegs.map(_.file).toSet
    // a second batch under DISJOINT keys, from a separate write
    val more = spark.range(0, 500)
      .select(
        KVStore.encLong(F.col("id") % 25 + 1000).as("k"),
        KVStore.encLong(F.col("id")).as("c"),
        F.concat(F.lit("w"), F.col("id").cast("string")).cast("binary").as("v"))
    more.write.format("graft-kv").mode("append").save(dir)
    val now = KVSegmentStore.readManifest(dir)
    // previous segments are still manifested (append must not orphan them)
    assert(oldFiles.subsetOf(now.map(_.file).toSet),
      s"append dropped committed segments: ${oldFiles.diff(now.map(_.file).toSet)}")
    assert(now.map(_.rows).sum == 2500)
    // and BOTH batches are readable through the connector
    val df = spark.read.format("graft-kv").load(dir)
    assert(df.count() == 2500)
    val newKeys = df.select(KVStore.decLong(F.col("k"), 1).as("kk"))
      .filter(F.col("kk") >= 1000).distinct().count()
    assert(newKeys == 25)
    // old segment files survive on disk
    oldFiles.foreach(f =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(f)),
        s"append deleted a committed segment: $f"))
  }

  test("DSV2 overwrite replaces the manifest and sweeps old segments") {
    val dir = Files.createTempDirectory("graft_kvow").toString
    store.write.format("graft-kv").mode("append").save(dir)
    val oldFiles = KVSegmentStore.readManifest(dir).map(_.file).toSet
    val half = store.filter(F.col("k") < KVStore.encLong(F.lit(50L)))
    half.write.format("graft-kv").mode("overwrite").save(dir)
    val now = KVSegmentStore.readManifest(dir)
    assert(now.map(_.rows).sum == 1000)
    // old segments are gone from disk AND the manifest
    val nowFiles = now.map(_.file).toSet
    assert(nowFiles.intersect(oldFiles).isEmpty)
    oldFiles.foreach(f =>
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(f)),
        s"stale segment survived overwrite: $f"))
    val n = spark.read.format("graft-kv").load(dir).count()
    assert(n == 1000)
  }

  test("DSV2 read equals the parquet read, cell for cell") {
    val dir = written
    val viaDsv2 = spark.read.format("graft-kv").load(dir)
      .select(F.hex(F.col("k")), F.hex(F.col("c")), F.col("v").cast("string"))
      .collect().map(_.toSeq).toSet
    val viaParquet = spark.read.parquet(dir)
      .select(F.hex(F.col("k")), F.hex(F.col("c")), F.col("v").cast("string"))
      .collect().map(_.toSeq).toSet
    assert(viaDsv2 == viaParquet)
    assert(viaDsv2.size == 2000)
  }

  test("key predicates prune segments at plan time") {
    val dir = written
    val narrow = spark.read.format("graft-kv").load(dir)
      .filter(F.col("k") >= KVStore.encLong(F.lit(10L)) &&
        F.col("k") < KVStore.encLong(F.lit(13L)))
    // the scan's description reflects manifest pruning
    val plan = narrow.queryExecution.executedPlan.toString
    val m = "segments=(\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, plan)
    assert(m.get.group(2).toInt == 8)
    assert(m.get.group(1).toInt < 8, s"no pruning: ${m.get.matched}")
    // and the result is still exactly right (filters re-applied by Spark)
    val got = narrow.select(KVStore.decLong(F.col("k"), 1)).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(10L, 11L, 12L))
  }

  test("an IN key set prunes segments at plan time") {
    val dir = written
    // store keys are 0..99 range-partitioned into 8 segments; an IN set
    // of 3 nearby keys can only touch a couple of them
    val enc = Array(10L, 11L, 12L).map(KVStore.beLong)
    val narrow = spark.read.format("graft-kv").load(dir)
      .filter(F.col("k").isin(enc.toSeq: _*))
    val plan = narrow.queryExecution.executedPlan.toString
    val m = "segments=(\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, plan)
    assert(m.get.group(2).toInt == 8)
    assert(m.get.group(1).toInt < 8, s"IN set did not prune: ${m.get.matched}")
    // and the result is exactly the IN set's rows (filters re-applied)
    val got = narrow.select(KVStore.decLong(F.col("k"), 1)).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(10L, 11L, 12L))
  }

  test("qualifier zone map prunes segments for c-slice predicates") {
    // a store where the qualifier correlates with the key range (the
    // timestamp-qualifier layout of a time-series KCV store): k buckets
    // of 250 ids, c = id — each key-range segment holds a narrow c range
    val dir = Files.createTempDirectory("graft_kvczm").toString
    val corr = spark.range(0, 2000)
      .select(
        KVStore.encLong(F.expr("id div 250")).as("k"),
        KVStore.encLong(F.col("id")).as("c"),
        F.concat(F.lit("v"), F.col("id").cast("string")).cast("binary").as("v"))
    KVSegmentStore.write(corr, dir, segments = 8)
    val segs = KVSegmentStore.readManifest(dir)
    assert(segs.forall(s => s.cLo != null && s.cHi != null), "c bounds missing")
    val narrow = spark.read.format("graft-kv").load(dir)
      .filter(F.col("c") < KVStore.encLong(F.lit(250L)))
    val plan = narrow.queryExecution.executedPlan.toString
    val m = "segments=(\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, plan)
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      s"c-slice did not prune: ${m.get.matched}")
    // correctness: Spark re-applies the residual filter
    assert(narrow.count() == 250)
  }

  test("pre-zone-map manifests (4 fields) stay readable and prune on k only") {
    val dir = written
    val conf = spark.sparkContext.hadoopConfiguration
    val manifest = graft.GraftFs.child(dir, KVSegmentStore.ManifestFile)
    val legacy = graft.GraftFs.readText(conf, manifest).get
      .split('\n').map(_.split('\t').take(4).mkString("\t")).mkString("\n")
    graft.GraftFs.writeTextAtomic(conf, manifest, legacy)
    val segs = KVSegmentStore.readManifest(dir)
    assert(segs.forall(s => s.cLo == null && s.cHi == null))
    // c filters prune nothing but still return correct rows
    val viaC = spark.read.format("graft-kv").load(dir)
      .filter(F.col("c") < KVStore.encLong(F.lit(100L)))
    val plan = viaC.queryExecution.executedPlan.toString
    val m = "segments=(\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined && m.get.group(1) == m.get.group(2), plan)
    assert(viaC.count() == 100)
    // k filters still prune as before
    val viaK = spark.read.format("graft-kv").load(dir)
      .filter(F.col("k") >= KVStore.encLong(F.lit(10L)) &&
        F.col("k") < KVStore.encLong(F.lit(13L)))
    val mk = "segments=(\\d+)/(\\d+)".r
      .findFirstMatchIn(viaK.queryExecution.executedPlan.toString)
    assert(mk.isDefined && mk.get.group(1).toInt < mk.get.group(2).toInt)
  }

  test("column pruning reaches the reader") {
    val dir = written
    val df = spark.read.format("graft-kv").load(dir).select("k")
    assert(df.schema.fieldNames.toSeq == Seq("k"))
    assert(df.distinct().count() == 100)
  }

  test("a getSlice through the connector matches the same slice off parquet") {
    val dir = written
    import spark.implicits._
    val keys = spark.range(5, 9).select(KVStore.encLong(F.col("id")).as("k"))
    def slice(storeDf: org.apache.spark.sql.DataFrame) =
      KVStore.slice(storeDf, F.broadcast(keys),
        F.lit(Array.emptyByteArray), KVStore.encLong(F.lit(Long.MaxValue)), 5)
        .select(F.hex(F.col("k")), F.hex(F.col("c"))).collect().map(_.toSeq).toSet
    assert(slice(spark.read.format("graft-kv").load(dir)) ==
      slice(spark.read.parquet(dir)))
  }

  test("LIMIT pushes into the scan and bounds per-segment decoding") {
    val dir = written
    val df = spark.read.format("graft-kv").load(dir).limit(5)
    assert(df.count() == 5)
    // the pushed limit reaches the scan description (partial push: each
    // segment reader stops at 5; Spark's Limit still applies globally)
    val scan = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scan.nonEmpty)
    assert(scan.head.scan.description().contains("limit=5"),
      scan.head.scan.description())
    // unlimited scans advertise limit=-1
    val noLimit = spark.read.format("graft-kv").load(dir)
    noLimit.collect()
    val scan2 = noLimit.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scan2.head.scan.description().contains("limit=-1"))
  }

  private def scanDesc(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head.scan.description()
  }

  test("ORDER BY k LIMIT n pushes as TopN (segments are (k,c)-sorted)") {
    val dir = written
    val df = spark.read.format("graft-kv").load(dir)
      .orderBy("k").limit(7)
    val viaParquet = spark.read.parquet(dir).orderBy("k").limit(7)
      .select(F.hex(F.col("k"))).collect().map(_.getString(0))
    assert(df.select(F.hex(F.col("k"))).collect().map(_.getString(0)).toSeq
      === viaParquet.toSeq)
    // the pushed top-n reaches the scan as its limit
    assert(scanDesc(df).contains("limit=7"), scanDesc(df))
    // DESC must NOT push (segment order is ascending): limit stays -1
    val desc = spark.read.format("graft-kv").load(dir)
      .orderBy(F.col("k").desc).limit(3)
    assert(scanDesc(desc).contains("limit=-1"), scanDesc(desc))
    assert(desc.count() == 3)
  }

  test("COUNT(*) with no predicates is served from the manifest") {
    val dir = written
    val df = spark.read.format("graft-kv").load(dir)
    val expected = spark.read.parquet(dir).count()
    val cnt = df.count()
    assert(cnt == expected)
    val agg = df.groupBy().count()
    assert(agg.collect().head.getLong(0) == expected)
    assert(scanDesc(agg).contains("agg-from-manifest=[count]"), scanDesc(agg))
    // a FILTERED count must take the row path (filters are residual
    // here, so Spark refuses the aggregate push) and stay correct
    val filtered = df.filter(F.col("k") < KVStore.encLong(F.lit(5L)))
    val fCnt = filtered.count()
    assert(fCnt == spark.read.parquet(dir)
      .filter(F.col("k") < KVStore.encLong(F.lit(5L))).count())
    assert(fCnt < expected)
  }

  test("MIN(k)/MAX(k) are served from the manifest key bounds") {
    val dir = written
    val df = spark.read.format("graft-kv").load(dir)
      .agg(F.min("k").as("mn"), F.max("k").as("mx"), F.count(F.lit(1)).as("n"))
    val got = df.collect().head
    val exp = spark.read.parquet(dir)
      .agg(F.min("k"), F.max("k"), F.count(F.lit(1))).collect().head
    assert(got.getAs[Array[Byte]](0).toSeq == exp.getAs[Array[Byte]](0).toSeq)
    assert(got.getAs[Array[Byte]](1).toSeq == exp.getAs[Array[Byte]](1).toSeq)
    assert(got.getLong(2) == exp.getLong(2))
    assert(scanDesc(df).contains("agg-from-manifest"), scanDesc(df))
  }
}
