package graft.sources.kvconnector

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.{functions => F}

import graft.SparkSpec
import graft.kv.KVStore

/** Runtime (join-key) segment pruning through the graft-kv connector
  * (r11 verdict #4): a selective dim⋈store equi-join on k must hand the
  * build side's key set to the scan at execution time and prune
  * segments BEFORE tasks are scheduled — the DSv2 analogue of the
  * plan-time IN pruning kv_dsv2_multi proves. */
class KVRuntimeFilterSpec extends SparkSpec {

  // keys 0..99, 20 cells each, in 16 disjoint key-range segments
  private def written: String = {
    val dir = Files.createTempDirectory("graft_kvrt").toString
    val store = spark.range(0, 2000)
      .select(
        KVStore.encLong(F.col("id") % 100).as("k"),
        KVStore.encLong(F.col("id")).as("c"),
        F.concat(F.lit("v"), F.col("id").cast("string")).cast("binary").as("v"))
    KVSegmentStore.write(store, dir, segments = 16)
    dir
  }

  private def kvScans(df: DataFrame): Seq[BatchScanExec] =
    collectExec(df) { case b: BatchScanExec if b.scan.isInstanceOf[KVScan] => b }

  test("a selective broadcast join prunes segments at execution time") {
    val dir = written
    val total = KVSegmentStore.readManifest(dir).size
    assert(total == 16)
    val cells = spark.read.format("graft-kv").load(dir)
    // a SELECTIVE dimension: 5 of 100 keys, behind a Filter (what makes
    // Spark consider the dynamic-pruning subquery worthwhile)
    val dim = spark.range(0, 100).filter(F.col("id") < 5)
      .select(KVStore.encLong(F.col("id")).as("k"),
        (F.col("id") * 10).as("payload"))
    val joined = cells.join(dim, Seq("k"))
      .select(F.col("k"), F.col("c"), F.col("payload"))
    val rows = joined.collect()
    assert(rows.length == 5 * 20, s"join rows: ${rows.length}")

    val scans = kvScans(joined)
    assert(scans.size == 1, s"expected one kv scan, got ${scans.size}")
    assert(scans.head.runtimeFilters.nonEmpty,
      "no runtime filter was planned on the kv scan — DPP did not fire:\n" +
        joined.queryExecution.executedPlan)
    val kv = scans.head.scan.asInstanceOf[KVScan]
    assert(kv.lastPlanned >= 1 && kv.lastPlanned < total,
      s"runtime pruning scheduled ${kv.lastPlanned}/$total segments")
  }

  test("no join: every committed segment schedules (runtime path is a no-op)") {
    val dir = written
    val cells = spark.read.format("graft-kv").load(dir)
    assert(cells.count() == 2000)
    val scans = kvScans(cells.select(F.col("k")))
    // a bare scan plans all 16 segments and carries no runtime filters
    assert(scans.head.runtimeFilters.isEmpty)
    scans.head.scan.asInstanceOf[KVScan].lastPlanned match {
      case -1 => () // count() may have gone through the agg-pushdown scan
      case n => assert(n == 16, s"expected all 16 segments, got $n")
    }
  }

  test("runtime pruning composes with a static pushed range") {
    val dir = written
    // static range keeps keys < 50 (half the segments); the runtime IN
    // then narrows to 2 keys — the two prunings must COMPOSE
    val cells = spark.read.format("graft-kv").load(dir)
      .filter(F.col("k") < KVStore.encLong(F.lit(50L)))
    val dim = spark.range(0, 100).filter(F.col("id").isin(10L, 40L))
      .select(KVStore.encLong(F.col("id")).as("k"))
    val joined = cells.join(dim, Seq("k"))
    assert(joined.count() == 2 * 20)
    val scans = kvScans(joined)
    val kv = scans.head.scan.asInstanceOf[KVScan]
    assert(kv.kept.size < 16, "static range should already prune")
    if (scans.head.runtimeFilters.nonEmpty) {
      assert(kv.lastPlanned <= kv.kept.size,
        s"runtime pruning (${kv.lastPlanned}) must not widen the static " +
          s"survivor set (${kv.kept.size})")
    }
  }
}
