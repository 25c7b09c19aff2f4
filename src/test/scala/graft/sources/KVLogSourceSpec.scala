package graft.sources.kvconnector

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.{functions => F}

import graft.SparkSpec
import graft.kv.{KVDeltaStore, KVStore}

/** The graft-kv-log streaming SOURCE: the delta store's mutation log as
  * a change-data-feed — offset-bounded micro-batches, checkpointed
  * incremental restarts, loud failure below the retention floor. */
class KVLogSourceSpec extends SparkSpec {

  private def cells(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(
      KVStore.encLong(F.col("id")).as("k"),
      KVStore.encLong(F.col("id") * 10).as("c"),
      F.concat(F.lit("v"), F.col("id").cast("string")).cast("binary").as("v"))

  private def noDel: DataFrame = cells(0, 0).select("k", "c")

  private def drain(store: String, ckpt: String, out: String): Unit = {
    val q = spark.readStream.format("graft-kv-log")
      .option("maxSeqsPerBatch", "1")
      .load(store)
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt).option("path", out)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("drains the log in seq-bounded micro-batches with complete CDC rows") {
    val wh = Files.createTempDirectory("graft_kvlog1").toString
    val ds = new KVDeltaStore(spark, wh)
    ds.appendMutationAt("t", 1L, cells(0, 10), noDel, wts = 111L)
    ds.appendMutationAt("t", 2L, cells(10, 15), cells(0, 3).select("k", "c"), wts = 222L)
    drain(s"$wh/t", s"$wh/ckpt", s"$wh/out")
    val got = spark.read.parquet(s"$wh/out")
    assert(got.columns.toSeq == Seq("seq", "k", "c", "v", "wts", "op"))
    // per-seq row counts: delta 1 = 10 adds, delta 2 = 5 adds + 3 dels
    val bySeq = got.groupBy("seq").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bySeq == Map(1L -> 10L, 2L -> 8L), s"per-seq counts: $bySeq")
    // deletions carry op=0 and null v; wts rides through
    val dels = got.filter(F.col("op") === 0).collect()
    assert(dels.length == 3 && dels.forall(r => r.isNullAt(3) && r.getLong(4) == 222L))
    // maxSeqsPerBatch=1: the checkpoint advanced through BOTH offsets —
    // the log replayed as two micro-batches, not one lump
    val commits = new java.io.File(s"$wh/ckpt/commits").list()
      .filterNot(_.startsWith(".")).map(_.toLong).sorted
    assert(commits.length >= 2, s"commits: ${commits.mkString(",")}")
  }

  test("a checkpointed restart reads ONLY the newly appended log") {
    val wh = Files.createTempDirectory("graft_kvlog2").toString
    val ds = new KVDeltaStore(spark, wh)
    ds.appendMutationAt("t", 1L, cells(0, 10), noDel, wts = 3000L)
    drain(s"$wh/t", s"$wh/ckpt", s"$wh/out")
    assert(spark.read.parquet(s"$wh/out").count() == 10)
    // appended after the first drain: only this part may flow next
    ds.appendMutationAt("t", 2L, cells(100, 104), noDel, wts = 4000L)
    drain(s"$wh/t", s"$wh/ckpt", s"$wh/out")
    val got = spark.read.parquet(s"$wh/out")
    assert(got.count() == 14)
    assert(got.filter(F.col("seq") === 2).count() == 4)
    // and a third drain with nothing new appends nothing
    drain(s"$wh/t", s"$wh/ckpt", s"$wh/out")
    assert(spark.read.parquet(s"$wh/out").count() == 14)
  }

  test("log-shipped replication: a follower of the CDC feed resolves identically") {
    import graft.kv.KVStreamSink
    val wh = Files.createTempDirectory("graft_kvlog4").toString
    val ds = new KVDeltaStore(spark, wh)
    ds.appendMutationAt("t", 1L, cells(0, 20), noDel, wts = 5000L)
    ds.appendMutationAt("t", 2L, cells(20, 25), cells(0, 7).select("k", "c"), wts = 6000L)
    def replicate(): Unit = {
      val q = spark.readStream.format("graft-kv-log")
        .option("maxSeqsPerBatch", "1")
        .load(s"$wh/t")
        .writeStream
        .foreachBatch((batch: DataFrame, batchId: Long) =>
          KVStreamSink.applyBatch(
            KVStreamSink.foldCdc(batch), wh, "r", batchId))
        .option("checkpointLocation", s"$wh/rckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def be(b: Array[Byte]): Long = java.nio.ByteBuffer.wrap(b).getLong
    def snap(df: DataFrame): Set[(Long, Long)] = df.collect()
      .map(r => (be(r.getAs[Array[Byte]]("k")), be(r.getAs[Array[Byte]]("c")))).toSet
    replicate()
    val primary = snap(ds.openDatabase("t"))
    val replica = snap(KVStreamSink.read(spark, wh, "r"))
    assert(replica == primary && primary.size == 18, s"sizes: ${primary.size}/${replica.size}")
    // incremental: a later primary mutation flows through the SAME
    // checkpoint on the next drain
    ds.appendMutationAt("t", 3L, cells(100, 103), noDel, wts = 7000L)
    replicate()
    assert(snap(KVStreamSink.read(spark, wh, "r")) == snap(ds.openDatabase("t")))
  }

  test("replication survives a micro-batch spanning several log parts") {
    import graft.kv.KVStreamSink
    // no maxSeqsPerBatch: AvailableNow drains BOTH parts as one batch.
    // Key 0 is added in part 1 and deleted in part 2 — without the
    // cross-part fold the replica's same-seq tie-break would resurrect
    // it (the r12 second-review finding).
    val wh = Files.createTempDirectory("graft_kvlog6").toString
    val ds = new KVDeltaStore(spark, wh)
    ds.appendMutationAt("t", 1L, cells(0, 5), noDel, wts = 8000L)
    ds.appendMutationAt("t", 2L, noDel.withColumn("v", F.lit(null).cast("binary")),
      cells(0, 1).select("k", "c"), wts = 9000L)
    val q = spark.readStream.format("graft-kv-log")
      .load(s"$wh/t")
      .writeStream
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        KVStreamSink.applyBatch(
          KVStreamSink.foldCdc(batch), wh, "r", batchId))
      .option("checkpointLocation", s"$wh/rckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def be(b: Array[Byte]): Long = java.nio.ByteBuffer.wrap(b).getLong
    val replica = KVStreamSink.read(spark, wh, "r").collect()
      .map(r => be(r.getAs[Array[Byte]]("k"))).toSet
    val primary = ds.openDatabase("t").collect()
      .map(r => be(r.getAs[Array[Byte]]("k"))).toSet
    assert(primary == Set(1L, 2L, 3L, 4L))
    assert(replica == primary, s"replica $replica != primary $primary")
  }

  test("cdcMutations: a multi-part micro-batch folds, a one-part batch passes through") {
    import graft.kv.KVStreamSink
    // key 0 is added in part 1 and deleted in part 2: drained as one
    // batch (no maxSeqsPerBatch) it must not resurrect on the replica
    for ((perBatch, folds) <- Seq(None -> Seq(true), Some("1") -> Seq(false, false))) {
      val wh = Files.createTempDirectory("graft_kvlog7").toString
      val ds = new KVDeltaStore(spark, wh)
      ds.appendMutationAt("t", 1L, cells(0, 5), noDel, wts = 8000L)
      ds.appendMutationAt("t", 2L, noDel.withColumn("v", F.lit(null).cast("binary")),
        cells(0, 1).select("k", "c"), wts = 9000L)
      val folded = scala.collection.mutable.Buffer.empty[Boolean]
      val src = spark.readStream.format("graft-kv-log")
      val q = perBatch.fold(src)(n => src.option("maxSeqsPerBatch", n))
        .load(s"$wh/t")
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val mutations = KVStreamSink.cdcMutations(batch)
          folded += mutations.queryExecution.analyzed.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Window])
          KVStreamSink.applyBatch(mutations, wh, "r", batchId)
        }
        .option("checkpointLocation", s"$wh/rckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      assert(folded == folds, s"maxSeqsPerBatch $perBatch")
      def be(b: Array[Byte]): Long = java.nio.ByteBuffer.wrap(b).getLong
      val replica = KVStreamSink.read(spark, wh, "r").collect()
        .map(r => be(r.getAs[Array[Byte]]("k"))).toSet
      assert(replica == Set(1L, 2L, 3L, 4L), s"maxSeqsPerBatch $perBatch: $replica")
    }
  }

  test("startingSeq skips history for a NEW consumer; checkpoints still win") {
    val wh = Files.createTempDirectory("graft_kvlog5").toString
    val ds = new KVDeltaStore(spark, wh)
    ds.appendMutationAt("t", 1L, cells(0, 10), noDel, wts = 10000L)
    ds.appendMutationAt("t", 2L, cells(10, 14), noDel, wts = 11000L)
    val q = spark.readStream.format("graft-kv-log")
      .option("startingSeq", "1")
      .load(s"$wh/t")
      .writeStream.format("parquet")
      .option("checkpointLocation", s"$wh/ckpt").option("path", s"$wh/out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(s"$wh/out")
    assert(got.count() == 4 &&
      got.select("seq").distinct().collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("an incomplete part STALLS advancement; an unfillable gap fails loudly") {
    val wh = Files.createTempDirectory("graft_kvlog7").toString
    val ds = new KVDeltaStore(spark, wh)
    ds.appendMutationAt("t", 1L, cells(0, 3), noDel, wts = 12000L)
    // simulate a crashed writer: delta_00002 exists without _SUCCESS,
    // then a COMPLETE part lands above it
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$wh/t/delta_00002"))
    ds.appendMutationAt("t", 3L, cells(10, 12), noDel, wts = 13000L)
    val stream = new KVLogMicroBatchStream(s"$wh/t", Long.MaxValue)
    val end = stream.latestOffset(KVLogOffset(0L), stream.getDefaultReadLimit)
    // advancement stops BEFORE the incomplete part — no error, the
    // sink's replay may still complete it
    assert(end.asInstanceOf[KVLogOffset].seq == 1L)
    // an ABSENT next part with higher parts on disk can never appear
    // (appends only go upward): loud failure instead of an eternal
    // silent stall — the checkpoint fell below the retention floor
    val ds2 = new KVDeltaStore(spark, wh)
    ds2.appendMutationAt("u", 1L, cells(0, 2), noDel, wts = 14000L)
    ds2.appendMutationAt("u", 3L, cells(2, 4), noDel, wts = 15000L)
    val s2 = new KVLogMicroBatchStream(s"$wh/u", Long.MaxValue)
    val e = intercept[IllegalStateException] {
      s2.latestOffset(KVLogOffset(1L), s2.getDefaultReadLimit)
    }
    assert(e.getMessage.contains("retention"), e.getMessage)
  }

  test("a checkpoint below the compaction floor fails loudly, never skips") {
    val wh = Files.createTempDirectory("graft_kvlog3").toString
    val ds = new KVDeltaStore(spark, wh)
    ds.appendMutationAt("t", 1L, cells(0, 5), noDel, wts = 16000L)
    // checkpoint exists at offset 0 (initial), then the log is folded
    // away BEFORE anything was drained past it
    val stream = new KVLogMicroBatchStream(s"$wh/t", Long.MaxValue)
    val end = stream.latestOffset(KVLogOffset(0L), stream.getDefaultReadLimit)
    ds.compact("t")
    val e = intercept[IllegalStateException] {
      stream.planInputPartitions(KVLogOffset(0L), end)
    }
    assert(e.getMessage.contains("retention"), e.getMessage)
  }
}
