package graft.kv

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.{functions => F}

import graft.SparkSpec

// binary-domain mutation rows built from longs for readability
// (top-level: nested/private case classes break codegen'd encoders)
case class MutRow(key: Long, col: Long, value: String, is_delete: Boolean)

class KVStreamSinkSpec extends SparkSpec {

  private def toMutations(df: org.apache.spark.sql.DataFrame) =
    df.select(
      KVStore.encLong(F.col("key")).as("k"),
      KVStore.encLong(F.col("col")).as("c"),
      F.col("value").cast("binary").as("v"),
      F.col("is_delete"))

  private def decodedSet(df: org.apache.spark.sql.DataFrame) =
    df.select(KVStore.decLong(F.col("k"), 1), KVStore.decLong(F.col("c"), 1),
      F.col("v").cast("string")).collect().map(_.toSeq).toSet

  test("delta mode: streamed batches read back like sequential batch mutate") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_kvsinkd").toString
    val in = MemoryStream[MutRow]
    val q = KVStreamSink.start(toMutations(in.toDF()), wh, "ev",
      compactThreshold = 100) // no compaction in this test
    try {
      in.addData(MutRow(1, 10, "a", false), MutRow(1, 11, "b", false),
        MutRow(2, 10, "c", false))
      q.processAllAvailable()
      in.addData(MutRow(1, 10, "", true), MutRow(1, 11, "B", false),
        MutRow(3, 10, "d", false))
      q.processAllAvailable()
      val got = decodedSet(KVStreamSink.read(spark, wh, "ev"))
      assert(got == Set(Seq(1L, 11L, "B"), Seq(2L, 10L, "c"), Seq(3L, 10L, "d")), got)
      // O(batch) writer: NO base snapshot was ever written — the stream
      // appended exactly one delta part per micro-batch
      val root = java.nio.file.Paths.get(wh, "ev")
      assert(!Files.exists(root.resolve("base")), "delta mode must not write base")
      assert(Files.exists(root.resolve("delta_00001")) &&
        Files.exists(root.resolve("delta_00002")))
    } finally q.stop()
  }

  test("delta mode: replay is a no-op, including after compaction folded the part") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_kvsinkd2").toString
    val b0 = toMutations(Seq(MutRow(1, 1, "x", false), MutRow(2, 1, "w", false)).toDF())
    val b1 = toMutations(Seq(MutRow(1, 1, "y", false), MutRow(2, 1, "", true)).toDF())
    // threshold 2: applying batch 1 folds both deltas into base and
    // DELETES the parts — replay dedupe must ride the high-water mark
    KVStreamSink.applyBatch(b0, wh, "ev", 0L, compactThreshold = 2)
    KVStreamSink.applyBatch(b1, wh, "ev", 1L, compactThreshold = 2)
    val root = java.nio.file.Paths.get(wh, "ev")
    assert(Files.exists(root.resolve("base")), "threshold 2 should have compacted")
    assert(!Files.exists(root.resolve("delta_00002")), "compaction sweeps parts")
    val before = decodedSet(KVStreamSink.read(spark, wh, "ev"))
    assert(before == Set(Seq(1L, 1L, "y")), before)
    KVStreamSink.applyBatch(b1, wh, "ev", 1L, compactThreshold = 2) // replay
    KVStreamSink.applyBatch(b0, wh, "ev", 0L, compactThreshold = 2) // stale
    assert(decodedSet(KVStreamSink.read(spark, wh, "ev")) == before)
    assert(!Files.exists(root.resolve("delta_00001")) &&
      !Files.exists(root.resolve("delta_00002")), "replay re-appended a folded part")
  }

  test("delta mode: compaction mid-stream is invisible to the merged view") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val whA = Files.createTempDirectory("graft_kvsinkd3a").toString
    val whB = Files.createTempDirectory("graft_kvsinkd3b").toString
    val batches = Seq(
      Seq(MutRow(1, 1, "a", false), MutRow(2, 1, "b", false)),
      Seq(MutRow(1, 1, "A", false), MutRow(3, 1, "c", false)),
      Seq(MutRow(2, 1, "", true), MutRow(4, 1, "d", false)),
      Seq(MutRow(4, 1, "D", false), MutRow(1, 2, "e", false)))
    batches.zipWithIndex.foreach { case (rows, i) =>
      val m = toMutations(rows.toDF())
      KVStreamSink.applyBatch(m, whA, "ev", i.toLong, compactThreshold = 2)
      KVStreamSink.applyBatch(m, whB, "ev", i.toLong, compactThreshold = 100)
    }
    val a = decodedSet(KVStreamSink.read(spark, whA, "ev"))
    val b = decodedSet(KVStreamSink.read(spark, whB, "ev"))
    assert(a == b, s"compacted $a != uncompacted $b")
    assert(a == Set(Seq(1L, 1L, "A"), Seq(1L, 2L, "e"), Seq(3L, 1L, "c"),
      Seq(4L, 1L, "D")))
  }
}
