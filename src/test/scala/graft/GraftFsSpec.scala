package graft

import java.net.URI

import org.apache.spark.sql.{functions => F}

/** A distinct-scheme FileSystem (registered as `graftfs://`, backed by
  * RawLocalFileSystem) proving the sink/manifest coordination really
  * resolves the warehouse path's OWN FileSystem: `java.nio` on these
  * paths sees nothing (Paths.get("graftfs:///x") is a relative file
  * named "graftfs:"), so any lingering local-FS assumption in the
  * snapshot/manifest plumbing fails these tests outright. */
class GraftFsSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: URI = URI.create("graftfs:///")
}

class GraftFsSpec extends SparkSpec {

  private def freshDir(tag: String): String = {
    val local = java.nio.file.Files.createTempDirectory(s"graftfs_$tag")
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftFsSchemeFs].getName)
    s"graftfs://$local"
  }

  private val conf = spark.sparkContext.hadoopConfiguration

  test("text + versioned-snapshot helpers work on a non-default scheme") {
    val dir = freshDir("helpers")
    assert(!GraftFs.exists(conf, GraftFs.child(dir, "hwm")))
    GraftFs.writeTextAtomic(conf, GraftFs.child(dir, "hwm"), "41")
    assert(GraftFs.readText(conf, GraftFs.child(dir, "hwm")) === Some("41"))
    GraftFs.writeTextAtomic(conf, GraftFs.child(dir, "hwm"), "42") // replace
    assert(GraftFs.readText(conf, GraftFs.child(dir, "hwm")) === Some("42"))
    // versioned listing honors _SUCCESS gating and ordering
    val state = VersionedState(dir, "snap")
    for (v <- Seq(0L, 2L, 1L)) {
      GraftFs.mkdirs(conf, state.path(v))
      if (v != 1L)
        GraftFs.writeTextAtomic(conf, GraftFs.child(state.path(v), "_SUCCESS"), "")
    }
    assert(state.complete(conf, Long.MaxValue).map(_.id) === Seq(0L, 2L))
    assert(state.complete(conf, 1L).last.path.endsWith("snap_v0"))
    assert(state.latest(spark).get.path.endsWith("snap_v2"))
  }

  test("readText serves the .old backup's content after a crash mid-replace") {
    val dir = freshDir("bak")
    val p = GraftFs.child(dir, "manifest")
    GraftFs.writeTextAtomic(conf, p, "v1")
    // simulate the non-atomic fallback crashing between moving the old
    // file aside and swinging the new one in: only `.manifest.old` left
    val fs = GraftFs.fs(dir, conf)
    val path = new org.apache.hadoop.fs.Path(p)
    val bak = new org.apache.hadoop.fs.Path(path.getParent, ".manifest.old")
    assert(fs.rename(path, bak))
    assert(!fs.exists(path) && fs.exists(bak))
    // recovery is automatic for READERS (content served), but the read
    // path must NOT rename the backup back — that would race a
    // concurrent fallback-scheme writer mid-replace
    assert(GraftFs.readText(conf, p) === Some("v1"))
    assert(!fs.exists(path) && fs.exists(bak), "read path must not mutate")
    assert(GraftFs.readText(conf, p) === Some("v1"))
    // the next write replaces the file and drops the stale backup
    GraftFs.writeTextAtomic(conf, p, "v2")
    assert(GraftFs.readText(conf, p) === Some("v2"))
  }

  test("RollupSink maintains state on a non-default scheme end-to-end") {
    import spark.implicits._
    val dir = freshDir("rollup")
    val b0 = Seq(("click", 1.5), ("view", 2.0), ("click", 0.5))
      .toDF("event_type", "value")
    val b1 = Seq(("click", 1.0), ("purchase", 9.0)).toDF("event_type", "value")
    graft.streaming.RollupSink.applyBatch(b0, dir, 0L)
    graft.streaming.RollupSink.applyBatch(b1, dir, 1L)
    graft.streaming.RollupSink.applyBatch(b1, dir, 1L) // replay: no-op
    val got = graft.streaming.RollupSink.read(spark, dir)
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq(("click", 3L, 300L), ("purchase", 1L, 900L),
      ("view", 1L, 200L)))
  }

  test("KVStreamSink snapshots fold on a non-default scheme") {
    import spark.implicits._
    val dir = freshDir("kvsnap")
    def mut(rows: (String, String, String, Boolean)*) =
      rows.toDF("ks", "cs", "vs", "is_delete")
        .select(F.col("ks").cast("binary").as("k"),
          F.col("cs").cast("binary").as("c"),
          F.col("vs").cast("binary").as("v"), F.col("is_delete"))
    graft.kv.KVStreamSink.applyBatch(
      mut(("k1", "c1", "v1", false), ("k1", "c2", "v2", false)), dir, "s", 0L)
    graft.kv.KVStreamSink.applyBatch(
      mut(("k1", "c1", "", true), ("k2", "c1", "v3", false)), dir, "s", 1L)
    val got = graft.kv.KVStreamSink.read(spark, dir, "s")
      .select(F.col("k").cast("string"), F.col("c").cast("string"),
        F.col("v").cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet
    assert(got === Set(("k1", "c2", "v2"), ("k2", "c1", "v3")))
  }
}
