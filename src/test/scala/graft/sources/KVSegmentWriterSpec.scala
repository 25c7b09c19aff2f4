package graft.sources.kvconnector

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.{functions => F}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.operators.KeyBloom

/** The one segment writer (`format("graft-kv")`) under generated stores:
  * unique (k, c) cells whose byte strings lean on the unsigned-order
  * edges (0x00, 0x7f, 0x80, 0xff) and include empty keys, qualifiers
  * and values, written under every layout at random segment counts.
  * Everything the manifest and the sidecars claim is checked against
  * the written files themselves. */
class KVSegmentWriterSpec extends SparkSpec {

  type Cell = (Array[Byte], Array[Byte], Array[Byte])

  private val Layouts = Seq("linear", "familyranged", "bucket", "zorder")

  private val byteGen: Gen[Byte] = Gen.frequency(
    3 -> Gen.oneOf(0x00, 0x7f, 0x80, 0xff).map(_.toByte),
    2 -> Gen.choose(Byte.MinValue, Byte.MaxValue))
  private def bytesGen(maxLen: Int): Gen[Array[Byte]] =
    Gen.choose(0, maxLen).flatMap(Gen.listOfN(_, byteGen)).map(_.toArray)
  private val cellGen: Gen[Cell] =
    for (k <- bytesGen(3); c <- bytesGen(2); v <- bytesGen(2)) yield (k, c, v)
  // few distinct short keys, so segments share keys and bound edges
  private val storeGen: Gen[Seq[Cell]] =
    Gen.choose(0, 400).flatMap(Gen.listOfN(_, cellGen)).map(cells =>
      cells.groupBy { case (k, c, _) => (hex(k), hex(c)) }.values.map(_.head).toSeq)
  // segments per layout; 0 (writer-sized) where the layout allows it
  private val caseGen: Gen[(Seq[Cell], Map[String, Int])] =
    for {
      cells <- storeGen
      linear <- Gen.choose(0, 8)
      familyRanged <- Gen.choose(0, 8)
      buckets <- Gen.choose(1, 8)
      zorder <- Gen.choose(1, 8)
    } yield (cells, Map("linear" -> linear, "familyranged" -> familyRanged,
      "bucket" -> buckets, "zorder" -> zorder))

  // a manifest line that lost its zone map reads back null bounds
  private def hex(b: Array[Byte]): String = if (b == null) "null" else KVSegmentStore.hex(b)

  private def ucmp(a: Array[Byte], b: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(a, b)

  private def frame(cells: Seq[Cell]): DataFrame =
    spark.createDataFrame(cells.map { case (k, c, v) => Row(k, c, v) }.asJava,
      KVDataSource.Schema)

  private def write(df: DataFrame, dir: String, layout: String, segments: Int): Unit =
    if (layout == "zorder")
      // the zorder layout keeps the caller's arrangement
      df.repartition(segments).write.format("graft-kv")
        .option("layout", "zorder").option("segments", segments)
        .mode("overwrite").save(dir)
    else KVSegmentStore.write(df, dir, segments, layout)

  /** Store-relative name of a written file: `part-…` or `__b=3/part-…`. */
  private def relName(file: String): String = {
    val comps = file.split('/')
    if (comps.length >= 2 && comps(comps.length - 2).startsWith(KVSegmentStore.BucketDirPrefix))
      comps.takeRight(2).mkString("/")
    else comps.last
  }

  /** The reference manifest: bounds, counts and c zone maps from ONE
    * aggregate over the written files. */
  private def readBack(dir: String): Map[String, Seq[String]] =
    spark.read.parquet(dir)
      .groupBy(F.input_file_name().as("f"))
      .agg(F.min("k"), F.max("k"), F.count(F.lit(1)), F.min("c"), F.max("c"))
      .collect().map { r =>
        relName(r.getString(0)) -> Seq(hex(r.getAs[Array[Byte]](1)),
          hex(r.getAs[Array[Byte]](2)), r.getLong(3).toString,
          hex(r.getAs[Array[Byte]](4)), hex(r.getAs[Array[Byte]](5)))
      }.toMap

  private def checkStore(cells: Seq[Cell], layout: String, segments: Int): Unit = {
    val dir = Files.createTempDirectory(s"graft_kvprop_$layout").toString
    write(frame(cells), dir, layout, segments)
    val ctx = s"layout=$layout segments=$segments cells=${cells.size}"
    val manifest = KVSegmentStore.readManifest(dir)
    val byName = manifest.map(s => s.file.stripPrefix(dir + "/") -> s).toMap
    assert(manifest.map(_.rows).sum == cells.size, ctx)
    assert(KVSegmentStore.readSortedKC(dir), ctx)
    assert(KVSegmentStore.readBuckets(dir) ==
      (if (layout == "bucket") Some(segments) else None), ctx)
    if (cells.nonEmpty) {
      assert(byName.map { case (n, s) =>
        n -> Seq(hex(s.lo), hex(s.hi), s.rows.toString, hex(s.cLo), hex(s.cHi))
      } == readBack(dir), s"manifest differs from the files' read-back: $ctx")
      val files = spark.read.parquet(dir)
        .select(F.input_file_name(), F.col("k"), F.col("c")).collect()
        .groupBy(r => relName(r.getString(0)))
      assert(files.keySet == byName.keySet, ctx)
      files.foreach { case (name, rows) =>
        val keys = rows.map(_.getAs[Array[Byte]](1))
        val quals = rows.map(_.getAs[Array[Byte]](2))
        val (bits, hashes) = KVSegmentStore.readBloom(byName(name).file)
          .getOrElse(fail(s"no sidecar for $name: $ctx"))
        assert(keys.forall(KeyBloom.mightContain(bits, hashes, _)),
          s"sidecar of $name misses a key: $ctx")
        keys.indices.drop(1).foreach { i =>
          val kc = ucmp(keys(i - 1), keys(i))
          assert(kc < 0 || (kc == 0 && ucmp(quals(i - 1), quals(i)) < 0),
            s"$name not (k, c)-sorted at row $i: $ctx")
        }
        if (layout == "bucket") {
          val b = KVSegmentStore.bucketId(name)
          assert(keys.forall(KVBucketFunction.bucketOf(_, segments) == b),
            s"$name holds a row of another bucket: $ctx")
        }
      }
    }
    def multiset(rows: Seq[Cell]): Seq[String] =
      rows.map { case (k, c, v) => s"${hex(k)}/${hex(c)}/${hex(v)}" }.sorted
    val back = spark.read.format("graft-kv").load(dir).collect().toSeq.map(r =>
      (r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2)))
    assert(multiset(back) == multiset(cells), s"read-back differs: $ctx")
  }

  test("property: manifest, sidecars, sort order and buckets hold for every layout") {
    // seeded cases, so a failure names a case that reproduces
    val params = Gen.Parameters.default.withSize(100)
    (0 until 6).foreach { i =>
      val (cells, counts) = caseGen.pureApply(params, Seed(20261019L + i))
      Layouts.foreach(l => withClue(s"case $i: ")(checkStore(cells, l, counts(l))))
    }
  }

  private def cellsDf(n: Long): DataFrame =
    spark.range(0, n).select(
      graft.kv.KVStore.encLong(F.col("id") % 97).as("k"),
      graft.kv.KVStore.encLong(F.col("id")).as("c"),
      F.col("id").cast("string").cast("binary").as("v"))

  test("a linear write with explicit segments runs at most 4 Spark jobs") {
    val dir = Files.createTempDirectory("graft_kvjobs").toString
    val jobs = jobsOf(KVSegmentStore.write(cellsDf(20000), dir, segments = 8))
    // sample + shuffle + write; a read-back of the written files would
    // add at least one more
    assert(jobs <= 4, s"$jobs jobs for one write")
    assert(KVSegmentStore.readManifest(dir).map(_.rows).sum == 20000)
  }

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)

  test("job abort sweeps committed bucketed segments and their sidecars") {
    val dir = Files.createTempDirectory("graft_kvabort").toString
    KVSegmentStore.write(cellsDf(2000), dir, 8, "bucket")
    val segs = KVSegmentStore.readManifest(dir)
    val written = segs.flatMap { s =>
      val name = s.file.stripPrefix(dir + "/")
      Seq(new java.io.File(s.file),
        new java.io.File(KVSegmentStore.sidecarPath(dir, name)))
    }
    assert(segs.size == 8 && written.forall(_.exists()))
    // what the committed tasks of a failed job would have reported
    val commits = segs.map(s =>
      KVCommit(Seq((s.copy(file = s.file.stripPrefix(dir + "/")), Array.emptyByteArray))))
    new KVBatchWrite(dir, truncate = false, "bucket", 8, "q").abort(commits.toArray)
    assert(written.forall(!_.exists()),
      s"left behind: ${written.filter(_.exists()).mkString(", ")}")
  }

  test("job abort sweeps every segment named with its queryId, reported or not") {
    val dir = Files.createTempDirectory("graft_kvsweep").toString
    def plant(name: String): Seq[java.io.File] = {
      val files = Seq(new java.io.File(dir, name),
        new java.io.File(KVSegmentStore.sidecarPath(dir, name)))
      files.foreach { f => f.getParentFile.mkdirs(); Files.write(f.toPath, Array[Byte](1)) }
      files
    }
    // what the tasks of write "q" left: one at the root, one in a bucket;
    // their commit messages never reached the driver
    val orphans = plant("part-00000-7-q.parquet") ++ plant("__b=3/part-00001-8-q.parquet")
    // another write's committed segment, and a name that only contains "q"
    val others = plant("__b=3/part-00002-9-q2.parquet") ++ plant("part-00003-4-qq.parquet")
    new KVBatchWrite(dir, truncate = false, "bucket", 8, "q").abort(Array.empty)
    assert(orphans.forall(!_.exists()), s"left behind: ${orphans.filter(_.exists())}")
    assert(others.forall(_.exists()), s"swept: ${others.filterNot(_.exists())}")
  }

  test("a bucketed write whose input throws in one task leaves no sidecar behind") {
    val dir = Files.createTempDirectory("graft_kvfail").toString
    // one cell with a null c: the write task that receives it fails
    val bad = cellsDf(2000).withColumn("c",
      F.when(F.col("v") === F.lit("1946").cast("binary"), F.lit(null).cast("binary"))
        .otherwise(F.col("c")))
    intercept[Exception](KVSegmentStore.write(bad, dir, 8, "bucket"))
    val sidecars = walk(new java.io.File(dir))
      .filter(_.getParentFile.getName == KVSegmentStore.BloomDir)
    assert(sidecars.isEmpty, s"left behind: ${sidecars.mkString(", ")}")
    assert(!new java.io.File(dir, KVSegmentStore.ManifestFile).exists())
  }
}
