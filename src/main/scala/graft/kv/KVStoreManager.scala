package graft.kv

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Store-manager lifecycle over named KCV stores — the reference's
  * `KeyColumnValueStoreManager` (ClickhouseStoreManager.java:49) as a thin
  * catalog of [[KVDeltaStore]] mutation logs.
  *
  * Feature parity with the reference's StandardStoreFeatures
  * (ClickhouseStoreManager.java:59): orderedScan + keyOrdered (Spark
  * BinaryType sorts unsigned — see KVStore), batchMutation (mutateMany
  * below), persists; no local key partition (getLocalKeyPartition throws
  * in the reference; locality here is the bucketed layout instead,
  * KVStore.writeBucketed).
  *
  * Mutations append one delta part per store and batch, the way the
  * reference's MergeTree backend stores them; readers see the store's
  * merge-on-read view, and size-tiered compaction bounds the log.
  *
  * `transactional = true` is the analogue of the reference's
  * STORAGE_TRANSACTIONAL mode (ClickhouseKeyColumnValueStore.java:222
  * acquires the store lock before mutating): mutateMany then holds a
  * warehouse-level lease — a lock file carrying owner + epoch, created
  * through the same Hadoop FileSystem as the data so hdfs:///s3a://
  * warehouses serialize identically — across each store's append and
  * compaction. Two racing writers serialize instead of both taking the
  * same log sequence. A crashed holder's lease is taken over once it
  * outlives `leaseTimeoutMs`.
  */
final class KVStoreManager(spark: SparkSession, warehouseDir: String,
                           transactional: Boolean = false,
                           leaseTimeoutMs: Long = 60000L,
                           acquireTimeoutMs: Long = 120000L) {
  import org.apache.hadoop.fs.{FileSystem, Path}

  private def path(name: String) = new Path(warehouseDir, name)

  // metadata ops go through the same Hadoop FileSystem as the parquet
  // I/O, so hdfs:///s3a:// warehouses behave exactly like local ones
  private def fs: FileSystem =
    new Path(warehouseDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val log = new KVDeltaStore(spark, warehouseDir)

  /** openDatabase: the named store's merged view (empty if never written). */
  def openDatabase(name: String): DataFrame = log.openDatabase(name)

  def exists(name: String): Boolean = log.exists(name)

  // ---- named SEGMENT stores (the connector-backed store-per-family form)

  /** Persist a named store in the graft-kv segment layout — the form
    * whose reads go through the pruning connector. This is how the
    * PER-FAMILY store split composes (JanusGraph opens edgestore /
    * graphindex as SEPARATE named stores, ClickhouseStoreManager.java:79
    * — one openDatabase per family): each family lands under its own
    * name, and `familyRanged = true` picks the qualifier-major
    * `familyranged` segment layout of
    * [[graft.sources.kvconnector.KVSegmentStore.write]] so intra-store
    * family/property slices drop segments too. */
  def writeSegmentStore(name: String, store: DataFrame, numSegments: Int,
                        familyRanged: Boolean = false): Unit =
    graft.sources.kvconnector.KVSegmentStore.write(store, path(name).toString,
      numSegments, if (familyRanged) "familyranged" else "linear")

  /** openDatabase through the connector: the named store read with
    * manifest/zone-map/bloom segment pruning live. */
  def openSegmentStore(name: String): DataFrame =
    spark.read.format("graft-kv").load(path(name).toString)

  // ---- warehouse lease (transactional mode) ------------------------------

  private val lockFile = new Path(warehouseDir, "__graft_lease")
  private val owner = java.util.UUID.randomUUID().toString

  /** Lease acquisition by atomic exclusive create: whoever creates the
    * lock file holds the lease. On `file:` that is an O_EXCL create
    * (Hadoop's local create(overwrite = false) checks, then truncates,
    * so a writer that checked before another created would wipe the
    * other's lease); elsewhere it is create(overwrite = false), which
    * HDFS makes atomic. */
  private[kv] def acquireLease(): Unit = {
    val deadline = System.currentTimeMillis() + acquireTimeoutMs
    while (!createLease()) {
      // stale lease (crashed holder): take over once it exceeds the
      // timeout — owner+epoch in the file make the takeover auditable
      try {
        val st = fs.getFileStatus(lockFile)
        if (System.currentTimeMillis() - st.getModificationTime > leaseTimeoutMs)
          fs.delete(lockFile, false)
      } catch { case _: java.io.IOException => () }
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(
          s"could not acquire warehouse lease $lockFile within ${acquireTimeoutMs}ms " +
            s"(holder: ${try readLeaseOwner() catch { case _: Throwable => None }})")
      Thread.sleep(50)
    }
  }

  /** Create the lock file holding owner + epoch; false when it exists. */
  private def createLease(): Boolean = {
    val out =
      try fs match {
        case l: org.apache.hadoop.fs.LocalFileSystem => exclusive(l.pathToFile(lockFile))
        case r: org.apache.hadoop.fs.RawLocalFileSystem => exclusive(r.pathToFile(lockFile))
        case _ => fs.create(lockFile, false)
      } catch { case _: java.io.IOException => return false }
    val data = new java.io.DataOutputStream(out)
    try {
      data.writeUTF(owner)
      data.writeLong(System.currentTimeMillis())
    } finally data.close()
    true
  }

  private def exclusive(f: java.io.File): java.io.OutputStream = {
    java.nio.file.Files.createDirectories(f.toPath.getParent)
    java.nio.file.Files.newOutputStream(f.toPath, java.nio.file.StandardOpenOption.CREATE_NEW,
      java.nio.file.StandardOpenOption.WRITE)
  }

  private def readLeaseOwner(): Option[String] =
    if (!fs.exists(lockFile)) None
    else {
      val in = fs.open(lockFile)
      try Some(in.readUTF()) finally in.close()
    }

  private[kv] def releaseLease(): Unit =
    try if (readLeaseOwner().contains(owner)) fs.delete(lockFile, false)
    catch { case _: java.io.IOException => () }

  /** mutateMany: batch mutation across stores, each store's deletions
    * strictly before its additions (ref ClickhouseStoreManager.java:89):
    * one delta part per store, stamped with its log sequence as its
    * write time, then the store's size-tiered compaction. In
    * transactional mode the whole batch runs under the warehouse lease.
    */
  def mutateMany(mutations: Map[String, (DataFrame, DataFrame)]): Unit = {
    if (transactional) acquireLease()
    try mutations.foreach { case (name, (additions, deletions)) =>
      val seq = log.nextSeq(name)
      log.appendMutationAt(name, seq, additions, deletions, wts = seq)
      log.maybeCompact(name)
    } finally if (transactional) releaseLease()
  }

  /** clearStorage: drop every store under the warehouse. */
  def clearStorage(): Unit = {
    val root = new Path(warehouseDir)
    if (fs.exists(root))
      fs.listStatus(root).foreach(st => fs.delete(st.getPath, true))
  }
}
