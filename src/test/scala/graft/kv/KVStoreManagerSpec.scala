package graft.kv

import org.apache.spark.sql.{functions => F}

import graft.SparkSpec

/** A local FileSystem under its own scheme (`leaserace://`) whose
  * `exists` runs a one-shot hook right after it finds the lease file
  * absent: inside a check-then-act create, that is the window between
  * the check and the create. */
class LeaseRaceFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("leaserace:///")
  override def exists(f: org.apache.hadoop.fs.Path): Boolean = {
    val found = super.exists(f)
    if (!found && f.getName == "__graft_lease")
      Option(LeaseRaceFs.afterAbsent.getAndSet(null)).foreach(_())
    found
  }
}

object LeaseRaceFs {
  val afterAbsent = new java.util.concurrent.atomic.AtomicReference[() => Unit]()
}

class KVStoreManagerSpec extends SparkSpec {

  private def kcv(rows: Seq[(Long, Long, Long)]) = {
    import spark.implicits._
    rows.toDF("kk", "cc", "vv").select(
      KVStore.encLong(F.col("kk")).as("k"),
      KVStore.encLong(F.col("cc")).as("c"),
      KVStore.encLong(F.col("vv")).as("v"))
  }

  test("store lifecycle: open empty, mutateMany, read back, clear") {
    val wh = java.nio.file.Files.createTempDirectory("kvmgr").toString
    val mgr = new KVStoreManager(spark, wh)
    assert(!mgr.exists("edgestore"))
    assert(mgr.openDatabase("edgestore").count() == 0)

    // batch 1: two stores at once (batchMutation)
    mgr.mutateMany(Map(
      "edgestore" -> ((kcv(Seq((1, 1, 10), (1, 2, 20), (2, 1, 30))), kcv(Nil).select("k", "c"))),
      "indexstore" -> ((kcv(Seq((5, 5, 50))), kcv(Nil).select("k", "c")))))
    assert(mgr.exists("edgestore") && mgr.exists("indexstore"))
    assert(mgr.openDatabase("edgestore").count() == 3)

    // batch 2: upsert (1,1)->11 and delete (1,2); deletions before adds
    mgr.mutateMany(Map(
      "edgestore" -> ((kcv(Seq((1, 1, 11))), kcv(Seq((1, 2, 0))).select("k", "c")))))
    val rows = mgr.openDatabase("edgestore")
      .select(KVStore.decLong(F.col("k"), 1).as("kk"),
        KVStore.decLong(F.col("c"), 1).as("cc"),
        KVStore.decLong(F.col("v"), 1).as("vv"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((1L, 1L, 11L), (2L, 1L, 30L)), rows)

    mgr.clearStorage()
    assert(!mgr.exists("edgestore") && !mgr.exists("indexstore"))
  }

  private def readCells(mgr: KVStoreManager, name: String): Set[(Long, Long, Long)] =
    mgr.openDatabase(name)
      .select(KVStore.decLong(F.col("k"), 1), KVStore.decLong(F.col("c"), 1),
        KVStore.decLong(F.col("v"), 1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("transactional mode: two racing mutateMany writers serialize") {
    val wh = java.nio.file.Files.createTempDirectory("kvmgr_txn").toString
    val seed = new KVStoreManager(spark, wh, transactional = true)
    seed.mutateMany(Map("s" -> ((kcv(Seq((1, 1, 10))), kcv(Nil).select("k", "c")))))

    // Each writer is its own manager instance (its own lease owner), as two
    // JanusGraph instances sharing a warehouse would be. Un-serialized,
    // both read the SAME base snapshot and the second swap drops the first
    // writer's cell (last-writer-wins) — the dirty-write the lease exists
    // to prevent.
    val start = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(cell: (Long, Long, Long)): Thread = {
      val t = new Thread(() => {
        try {
          start.await()
          val m = new KVStoreManager(spark, wh, transactional = true)
          m.mutateMany(Map("s" -> ((kcv(Seq(cell)), kcv(Nil).select("k", "c")))))
        } catch { case e: Throwable => errs.add(e) }
      })
      t.start(); t
    }
    val ta = writer((2, 1, 20))
    val tb = writer((3, 1, 30))
    start.countDown()
    // unbounded joins: under a loaded full-suite JVM a 120 s bound can
    // expire while a writer is still mid-job, failing the read-back
    // assert spuriously (observed once; the writers themselves are
    // deadline-bounded by acquireTimeoutMs, so this cannot hang)
    ta.join(); tb.join()
    assert(errs.isEmpty, s"writer failed: ${errs.toArray.mkString("; ")}")
    assert(readCells(seed, "s") == Set((1L, 1L, 10L), (2L, 1L, 20L), (3L, 1L, 30L)))
    // lease released after both writers
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(wh, "__graft_lease")))
  }

  test("transactional mode: a crashed holder's stale lease is taken over") {
    val wh = java.nio.file.Files.createTempDirectory("kvmgr_stale").toString
    // a dead writer's lease: present, never released
    val lock = java.nio.file.Paths.get(wh, "__graft_lease")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(wh))
    java.nio.file.Files.write(lock, Array[Byte](0, 4, 'd', 'e', 'a', 'd'))
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 10000))
    val mgr = new KVStoreManager(spark, wh, transactional = true,
      leaseTimeoutMs = 1000L, acquireTimeoutMs = 30000L)
    mgr.mutateMany(Map("s" -> ((kcv(Seq((1, 1, 10))), kcv(Nil).select("k", "c")))))
    assert(readCells(mgr, "s") == Set((1L, 1L, 10L)))
    assert(!java.nio.file.Files.exists(lock))
  }

  test("transactional mode: the lease stays exclusive when a create lands inside another's") {
    val local = java.nio.file.Files.createTempDirectory("kvmgr_excl")
    spark.sparkContext.hadoopConfiguration
      .set("fs.leaserace.impl", classOf[LeaseRaceFs].getName)
    val wh = s"leaserace://$local"
    val a = new KVStoreManager(spark, wh, transactional = true, acquireTimeoutMs = 300L)
    val b = new KVStoreManager(spark, wh, transactional = true, acquireTimeoutMs = 300L)
    def takes(m: KVStoreManager): Boolean =
      try { m.acquireLease(); true } catch { case _: IllegalStateException => false }
    // a takes the lease the instant b's create has found it absent
    var aHeld: Option[Boolean] = None
    LeaseRaceFs.afterAbsent.set(() => aHeld = Some(takes(a)))
    val bHeld = takes(b)
    LeaseRaceFs.afterAbsent.set(null)
    // an atomic create has no such instant: a then contends with b's lease
    val held = Seq(aHeld.getOrElse(takes(a)), bHeld)
    try assert(held.count(identity) == 1, s"(a, b) hold: $held")
    finally { a.releaseLease(); b.releaseLease() }
  }
}
