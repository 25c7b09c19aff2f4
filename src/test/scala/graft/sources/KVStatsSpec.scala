package graft.sources.kvconnector

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.{functions => F}

import graft.SparkSpec
import graft.kv.KVStore

/** Post-pruning statistics from the kv scan (SupportsReportStatistics):
  * the manifest's exact row counts + surviving file lengths reach
  * Catalyst, so a selective slice of a big store broadcasts in a join
  * at PLAN time — without them a DSv2 read reports the session default
  * size and can never be the build side. */
class KVStatsSpec extends SparkSpec {

  // keys 0..99, 100 cells each, 16 key-range segments
  private def written: String = {
    val dir = Files.createTempDirectory("graft_kvstats").toString
    val store = spark.range(0, 10000)
      .select(
        KVStore.encLong(F.col("id") % 100).as("k"),
        KVStore.encLong(F.col("id")).as("c"),
        F.concat(F.lit("v"), F.col("id").cast("string")).cast("binary").as("v"))
    KVSegmentStore.write(store, dir, segments = 16)
    dir
  }

  private def scanOf(df: DataFrame): KVScan =
    collectExec(df) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.isInstanceOf[KVScan] => b.scan.asInstanceOf[KVScan]
    }.head

  test("estimateStatistics reflects manifest rows and static pruning") {
    val dir = written
    val full = spark.read.format("graft-kv").load(dir)
    full.collect()
    val fullStats = scanOf(full).estimateStatistics()
    assert(fullStats.numRows.getAsLong == 10000)
    assert(fullStats.sizeInBytes.getAsLong > 0)

    val probe = KVStore.beLong(7L)
    val slice = spark.read.format("graft-kv").load(dir)
      .filter(F.col("k") === F.lit(probe))
    slice.collect()
    val sliceStats = scanOf(slice).estimateStatistics()
    // pruning kept ~1 of 16 segments: rows and bytes shrink with it
    assert(sliceStats.numRows.getAsLong < 10000 / 4,
      s"slice rows: ${sliceStats.numRows.getAsLong}")
    assert(sliceStats.sizeInBytes.getAsLong < fullStats.sizeInBytes.getAsLong / 4)
  }

  test("a selective slice broadcasts at plan time (no hint, no AQE)") {
    val dir = written
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val slice = spark.read.format("graft-kv").load(dir)
        .filter(F.col("k") <= F.lit(KVStore.beLong(3L)))
      val big = spark.range(0, 200000)
        .select(KVStore.encLong(F.col("id") % 100).as("k"),
          F.col("id").as("payload"))
      val joined = big.join(slice, Seq("k"))
      joined.collect()
      val bhj = collectExec(joined) { case j: BroadcastHashJoinExec => j }
      assert(bhj.nonEmpty,
        "the pruned kv slice did not broadcast — stats did not reach " +
          s"Catalyst:\n${joined.queryExecution.executedPlan}")
      // and the kv side is the build side (the broadcasted one)
      assert(bhj.exists(_.buildSide.toString.contains("Right")) ||
        bhj.exists(_.buildSide.toString.contains("Left")))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
}
