package graft.kv

import org.apache.spark.sql.{functions => F}

import graft.SparkSpec

/** Merge-on-read mutation log: the merged view after N appended batches
  * must equal applying KVStore.mutate N times sequentially (the snapshot
  * semantics), and compaction must not change the view. */
class KVDeltaStoreSpec extends SparkSpec {

  private def kcv(rows: Seq[(Long, Long, Long)]) = {
    import spark.implicits._
    rows.toDF("kk", "cc", "vv").select(
      KVStore.encLong(F.col("kk")).as("k"),
      KVStore.encLong(F.col("cc")).as("c"),
      KVStore.encLong(F.col("vv")).as("v"))
  }

  private def decode(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select(KVStore.decLong(F.col("k"), 1), KVStore.decLong(F.col("c"), 1),
      KVStore.decLong(F.col("v"), 1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("merged view equals sequential mutate; compaction preserves it") {
    val wh = java.nio.file.Files.createTempDirectory("kvdelta").toString
    val ds = new KVDeltaStore(spark, wh)
    assert(!ds.exists("s"))

    // batch 1: plain inserts
    val b1add = kcv(Seq((1, 1, 10), (1, 2, 20), (2, 1, 30), (3, 1, 40)))
    ds.appendMutation("s", b1add, kcv(Nil).select("k", "c"), wts = 1000L)
    // batch 2: upsert (1,1)->11, delete (1,2), insert (2,2,50),
    //          and delete-before-add on a NEW cell (3,2): both in one batch
    val b2add = kcv(Seq((1, 1, 11), (2, 2, 50), (3, 2, 60)))
    val b2del = kcv(Seq((1, 2, 0), (3, 2, 0))).select("k", "c")
    ds.appendMutation("s", b2add, b2del, wts = 2000L)
    // batch 3: delete the cell upserted in batch 2
    val b3del = kcv(Seq((1, 1, 0))).select("k", "c")
    ds.appendMutation("s", kcv(Nil), b3del, wts = 3000L)

    // reference: the same three batches folded through KVStore.mutate
    val empty = kcv(Nil)
    val ref1 = KVStore.mutate(empty, b1add, kcv(Nil).select("k", "c"))
    val ref2 = KVStore.mutate(ref1, b2add, b2del)
    val ref3 = KVStore.mutate(ref2, kcv(Nil), b3del)
    val expected = decode(ref3)
    assert(expected == Set((2L, 1L, 30L), (3L, 1L, 40L), (2L, 2L, 50L), (3L, 2L, 60L)))
    assert(decode(ds.openDatabase("s")) == expected)

    // KVStore ops compose against the merged view
    val sliced = KVStore.slice(ds.openDatabase("s"),
      kcv(Seq((2, 0, 0))).select("k"), F.lit(Array.emptyByteArray),
      KVStore.encLong(F.lit(Long.MaxValue)), 10)
    assert(decode(sliced).map(t => (t._1, t._2)) == Set((2L, 1L), (2L, 2L)))

    // compaction folds the log without changing the view
    ds.compact("s")
    assert(decode(ds.openDatabase("s")) == expected)

    // and further mutation on a compacted store still works
    ds.appendMutation("s", kcv(Seq((9, 9, 99))), kcv(Nil).select("k", "c"), wts = 4000L)
    assert(decode(ds.openDatabase("s")) == expected + ((9L, 9L, 99L)))
  }

  test("compact recovers the degraded crash state without losing the old base") {
    // Simulate a compact that crashed BETWEEN its two renames: the store is
    // left as base__old + deltas with no base/. A recovery compact must keep
    // base__old readable until the new base has landed (the view would
    // otherwise be lost if the recovery itself crashed mid-way).
    val wh = java.nio.file.Files.createTempDirectory("kvdelta_crash")
    val ds = new KVDeltaStore(spark, wh.toString)
    ds.appendMutation("s", kcv(Seq((1, 1, 10), (2, 1, 20))), kcv(Nil).select("k", "c"), wts = 5000L)
    ds.compact("s") // now base/ holds the two cells, no deltas
    ds.appendMutation("s", kcv(Seq((3, 1, 30))), kcv(Seq((1, 1, 0))).select("k", "c"), wts = 6000L)

    val basep = wh.resolve("s").resolve("base")
    val oldp = wh.resolve("s").resolve("base__old")
    java.nio.file.Files.move(basep, oldp) // the crashed rename-aside
    assert(!java.nio.file.Files.exists(basep))

    // the degraded state still reads correctly (base__old fallback)...
    val expected = Set((2L, 1L, 20L), (3L, 1L, 30L))
    assert(decode(ds.openDatabase("s")) == expected)
    // ...and a recovery compact folds it into a fresh base and cleans up
    ds.compact("s")
    assert(java.nio.file.Files.exists(basep))
    assert(!java.nio.file.Files.exists(oldp))
    assert(decode(ds.openDatabase("s")) == expected)
  }

  test("crash mid-compaction at log depth > 2 replays to the same view") {
    // maybeCompact fires at depth 4; compact deletes folded deltas in
    // ASCENDING order, so a crash mid-sweep leaves the NEWEST deltas on
    // a fresh base. Those re-resolve idempotently (their content is
    // already folded in): reads must be unchanged in the crashed state,
    // and a recovery maybeCompact must fold the leftovers away — the
    // whole point of the ascending order (descending could resurrect a
    // cell a newer delta had deleted).
    val wh = java.nio.file.Files.createTempDirectory("kvdelta_midsweep")
    val ds = new KVDeltaStore(spark, wh.toString)
    ds.appendMutation("s", kcv(Seq((1, 1, 10), (2, 1, 20))), kcv(Nil).select("k", "c"), wts = 7000L)
    ds.appendMutation("s", kcv(Seq((3, 1, 30))), kcv(Seq((1, 1, 0))).select("k", "c"), wts = 8000L)
    ds.appendMutation("s", kcv(Seq((1, 1, 11))), kcv(Nil).select("k", "c"), wts = 9000L) // resurrect k=1
    ds.appendMutation("s", kcv(Seq((4, 1, 40))), kcv(Seq((2, 1, 0))).select("k", "c"), wts = 10000L)
    assert(ds.logDepth("s") == 4)
    val expected = Set((1L, 1L, 11L), (3L, 1L, 30L), (4L, 1L, 40L))
    assert(decode(ds.openDatabase("s")) == expected)

    // stage the crash: copy the NEWEST two deltas aside, compact (which
    // also sweeps them), then restore the copies — the exact state a
    // crash after deleting delta_00001/00002 but before 00003/00004
    // leaves behind
    def cp(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
      java.nio.file.Files.walk(src).forEach { p =>
        val t = dst.resolve(src.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
      }
    }
    val sdir = wh.resolve("s")
    val stash = java.nio.file.Files.createTempDirectory("kvdelta_stash")
    cp(sdir.resolve("delta_00003"), stash.resolve("delta_00003"))
    cp(sdir.resolve("delta_00004"), stash.resolve("delta_00004"))
    assert(ds.maybeCompact("s", threshold = 4))
    assert(ds.logDepth("s") == 0)
    cp(stash.resolve("delta_00003"), sdir.resolve("delta_00003"))
    cp(stash.resolve("delta_00004"), sdir.resolve("delta_00004"))
    assert(ds.logDepth("s") == 2)

    // the crashed state reads identically (idempotent re-resolution)...
    assert(decode(ds.openDatabase("s")) == expected)
    // ...a below-threshold trigger leaves it alone...
    assert(!ds.maybeCompact("s", threshold = 4))
    assert(ds.logDepth("s") == 2)
    // ...and a recovery compaction folds the leftovers, same view
    assert(ds.maybeCompact("s", threshold = 2))
    assert(ds.logDepth("s") == 0)
    assert(decode(ds.openDatabase("s")) == expected)
    // the store stays fully writable after recovery
    ds.appendMutation("s", kcv(Seq((9, 9, 99))), kcv(Nil).select("k", "c"), wts = 11000L)
    assert(decode(ds.openDatabase("s")) == expected + ((9L, 9L, 99L)))
  }

  test("one hot key's batch is written by several tasks") {
    import org.apache.spark.sql.{functions => FF}
    val wh = java.nio.file.Files.createTempDirectory("kvdelta_hot")
    val ds = new KVDeltaStore(spark, wh.toString)
    // a single key's mega-mutation: 1000 cells of k=7, arriving as ONE
    // upstream partition (the worst-case skew a key-hash layout produces)
    val hot = kcv((1L to 1000L).map(c => (7L, c, c * 2))).coalesce(1)
    // AQE would coalesce a batch this small into one task; with that off,
    // the round-robin rebalance deals it over every shuffle partition
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(coalesce)
    spark.conf.set(coalesce, "false")
    try ds.appendMutation("s", hot, kcv(Nil).select("k", "c"), wts = 12000L)
    finally prev.fold(spark.conf.unset(coalesce))(spark.conf.set(coalesce, _))
    // each write task emits one file: the spread is visible as per-file rows
    val perFile = spark.read
      .parquet(wh.resolve("s").resolve("delta_00001").toString)
      .groupBy(FF.input_file_name()).count()
      .select("count").collect().map(_.getLong(0))
    assert(perFile.length > 1, s"one write task carried the whole hot key: ${perFile.mkString(",")}")
    assert(perFile.sum == 1000L && perFile.max < 1000L, perFile.mkString(","))
    // and the spread write changes nothing semantically
    assert(decode(ds.openDatabase("s")) == (1L to 1000L).map(c => (7L, c, c * 2)).toSet)
  }

  test("appendMutation runs at most 2 Spark jobs") {
    val wh = java.nio.file.Files.createTempDirectory("kvdelta_jobs").toString
    val ds = new KVDeltaStore(spark, wh)
    ds.appendMutation("s", kcv((1L to 200L).map(i => (i % 20, i, i))), kcv(Nil).select("k", "c"),
      wts = 1L)
    // a batch shaped like a driver-held mutation: upserts, fresh cells
    // and deletions, some of cells the same batch re-adds
    val adds = kcv((1L to 300L).map(i => (i % 30, i, -i)))
    val dels = kcv((1L to 200L).filter(_ % 7 == 0).map(i => (i % 20, i, 0L))).select("k", "c")
    val jobs = jobsOf(ds.appendMutation("s", adds, dels, wts = 2L))
    assert(jobs <= 2, s"appendMutation ran $jobs jobs")
    assert(ds.logDepth("s") == 2)
  }

  test("readers skip a delta part whose write never completed") {
    val wh = java.nio.file.Files.createTempDirectory("kvdelta_partial")
    val ds = new KVDeltaStore(spark, wh.toString)
    val none = kcv(Nil).select("k", "c")
    ds.appendMutation("s", kcv(Seq((1, 1, 10), (2, 1, 20))), none, wts = 1L)
    ds.compact("s") // both cells now live in base/
    ds.appendMutation("s", kcv(Seq((3, 1, 30))), none, wts = 2L)
    ds.appendMutation("s", kcv(Seq((4, 1, 40))), none, wts = 3L)
    // a crashed (or still running) append: delta_00003's files deleting
    // the base cell (1,1) landed, its _SUCCESS marker did not
    val planted = wh.resolve("s").resolve("delta_00003")
    kcv(Seq((1, 1, 0))).select(F.col("k"), F.col("c"),
        F.lit(null).cast("binary").as("v"), F.lit(4L).as("wts"), F.lit(0).as("op"))
      .write.parquet(planted.toString)
    java.nio.file.Files.delete(planted.resolve("_SUCCESS"))
    val expected = Set((1L, 1L, 10L), (2L, 1L, 20L), (3L, 1L, 30L), (4L, 1L, 40L))
    assert(decode(ds.openDatabase("s")) == expected)
    assert(decode(ds.openDatabaseAsOf("s", 3)) == expected)
    assert(ds.logDepth("s") == 2)
    // the next append takes the seq past the incomplete part
    ds.appendMutation("s", kcv(Seq((5, 1, 50))), none, wts = 5L)
    assert(java.nio.file.Files.exists(wh.resolve("s").resolve("delta_00004").resolve("_SUCCESS")))
    // compaction folds the complete parts and leaves the incomplete one
    ds.compact("s")
    assert(decode(ds.openDatabase("s")) == expected + ((5L, 1L, 50L)))
    assert(java.nio.file.Files.exists(planted) && ds.logDepth("s") == 0)
  }

  test("openDatabaseAsOf pins each version; compaction moves the horizon") {
    val wh = java.nio.file.Files.createTempDirectory("kvdelta_tt").toString
    val ds = new KVDeltaStore(spark, wh)
    ds.appendMutation("s", kcv(Seq((1, 1, 10), (2, 1, 20))), kcv(Nil).select("k", "c"), wts = 13000L)
    ds.appendMutation("s", kcv(Seq((3, 1, 30))), kcv(Seq((1, 1, 0))).select("k", "c"), wts = 14000L)
    ds.appendMutation("s", kcv(Seq((1, 1, 11))), kcv(Nil).select("k", "c"), wts = 15000L)
    // each version is exactly the state its batch produced
    assert(decode(ds.openDatabaseAsOf("s", 1)) == Set((1L, 1L, 10L), (2L, 1L, 20L)))
    assert(decode(ds.openDatabaseAsOf("s", 2)) == Set((2L, 1L, 20L), (3L, 1L, 30L)))
    assert(decode(ds.openDatabaseAsOf("s", 3)) == decode(ds.openDatabase("s")))
    // a version past the head is just the current view
    assert(decode(ds.openDatabaseAsOf("s", 99)) == decode(ds.openDatabase("s")))
    // compact() folds the log into base (seq 0): history before the
    // compaction point is gone — asOf(1) now reads base alone, i.e. the
    // CURRENT state — while the current view is unchanged
    val cur = decode(ds.openDatabase("s"))
    ds.compact("s")
    assert(decode(ds.openDatabase("s")) == cur)
    assert(decode(ds.openDatabaseAsOf("s", 1)) == cur)
  }

  test("maybeCompact triggers at the size threshold and preserves the view") {
    val wh = java.nio.file.Files.createTempDirectory("kvdelta_auto").toString
    val ds = new KVDeltaStore(spark, wh)
    for (i <- 1L to 3L) {
      ds.appendMutation("s", kcv(Seq((i, 1, i * 10))), kcv(Nil).select("k", "c"), wts = 16000L)
      assert(!ds.maybeCompact("s", threshold = 4), s"compacted early at log depth $i")
    }
    assert(ds.logDepth("s") == 3)
    val expected = decode(ds.openDatabase("s"))
    ds.appendMutation("s", kcv(Seq((4, 1, 40))), kcv(Seq((1, 1, 0))).select("k", "c"), wts = 17000L)
    assert(ds.maybeCompact("s", threshold = 4)) // 4th delta trips the policy
    assert(ds.logDepth("s") == 0) // log folded into base
    assert(decode(ds.openDatabase("s")) ==
      expected - ((1L, 1L, 10L)) + ((4L, 1L, 40L)))
  }
}
