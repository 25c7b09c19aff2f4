package graft.sources.kvconnector

import org.apache.hadoop.conf.Configuration

import org.apache.spark.sql.DataFrame

import graft.GraftFs

/** Segment layout for the graft-kv connector: the KV `(k, c, v)` table
  * persisted as key-range parquet segments plus a manifest of per-segment
  * key bounds — the Spark analogue of a MergeTree part directory, where
  * each part knows its primary-key range and a point/slice read opens
  * only the parts whose range can match.
  *
  * The manifest is driver-sized metadata (one line per segment, like a
  * parts list), NOT data: reads of it never scale with rows. Segment
  * bounds are tracked by the task that writes each file — whatever the
  * range partitioner sampled, the manifest states what each file actually
  * holds, so pruning is correct by construction.
  */
object KVSegmentStore {
  val ManifestFile = "_graft_manifest.txt"
  val BloomDir = "_graft_bloom"
  val LayoutFile = "_graft_layout"

  /** Per-segment bounds. `cLo`/`cHi` (qualifier zone map, the MergeTree
    * minmax-index analog for the SPI's column-slice predicates) are null
    * on manifests written before the field existed — null prunes
    * nothing, so old stores stay readable. */
  final case class Segment(file: String, lo: Array[Byte], hi: Array[Byte], rows: Long,
                           cLo: Array[Byte] = null, cHi: Array[Byte] = null)

  def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
  def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** The hash-bucket directory prefix of the `bucket` layout. */
  val BucketDirPrefix = "__b="

  /** Persist `store` as a segment store at `path`, replacing whatever
    * the store held, through the connector's writer
    * (`format("graft-kv")`, see [[KVWriteBuilder]]): each task writes its
    * segments and reports key bounds, row count, c zone map and key Bloom
    * in its commit message, and the driver's commit writes the manifest
    * and Bloom sidecars from those messages — no second scan of the
    * data.
    *
    * `layout` is one of the writer's layouts:
    *  - `linear`: segments range-partitioned on k;
    *  - `familyranged`: QUALIFIER-major segments range-partitioned on
    *    (c, k) — the per-family store layout (JanusGraph keeps each
    *    column family in its own backend store, ClickhouseStoreManager
    *    .java:79), whose narrow c zone maps let a family/property slice
    *    drop whole segments at plan time; key bounds overlap, so key
    *    point reads prune less, which is the right trade for the
    *    property-majority reads such a store serves;
    *  - `bucket`: `segments` hash buckets, `__b=<i>/` holding exactly the
    *    rows with pmod(murmur3_42(k), n) = i, which the scan reports as
    *    KeyGroupedPartitioning (storage-partitioned joins).
    *
    * Rows inside every segment are (k, c)-sorted under every layout.
    * `segments = 0` leaves the segment count to the writer's
    * AQE-coalesced range shuffle (not valid for `bucket`).
    *
    * A range-distributed write samples its input before it shuffles, so
    * the store is persisted across the two passes: merge-on-read views
    * and multi-family unions are computed once. The unpersist blocks so
    * the next entry does not compete with this cache's lingering blocks
    * (r15 RSS doubling). A hash-bucketed write reads its input once and
    * needs no cache. */
  def write(store: DataFrame, path: String, segments: Int,
            layout: String = "linear"): Unit = {
    val ranged = layout != "bucket"
    if (ranged) store.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try store.select("k", "c", "v").write.format("graft-kv")
      .option("segments", segments).option("layout", layout)
      .mode("overwrite").save(path)
    finally if (ranged) store.unpersist(true)
  }

  /** The Bloom sidecar of the segment `name` (store-relative, e.g.
    * `part-…` or `__b=3/part-…`): it sits in a `_graft_bloom/` directory
    * BESIDE its file, so a bucketed segment's sidecar is
    * `<store>/__b=3/_graft_bloom/part-…`. */
  def sidecarPath(store: String, name: String): String = {
    val full = GraftFs.child(store, name)
    val slash = full.lastIndexOf('/')
    GraftFs.child(GraftFs.child(full.substring(0, slash), BloomDir),
      full.substring(slash + 1))
  }

  /** One manifest line: name, key bounds, rows, c zone map. */
  private[kvconnector] def manifestLine(s: Segment): String =
    s"${s.file}\t${hex(s.lo)}\t${hex(s.hi)}\t${s.rows}\t${hex(s.cLo)}\t${hex(s.cHi)}"

  /** The bucket count of a `bucket`-layout store, None for every
    * other layout (range/zorder/legacy) — the gate for reporting
    * KeyGroupedPartitioning from the scan. */
  def readBuckets(path: String): Option[Int] =
    GraftFs.readText(activeConf, GraftFs.child(path, LayoutFile)).flatMap { txt =>
      val lines = txt.linesIterator.map(_.trim).toList
      if (lines.headOption.contains("bucket"))
        lines.collectFirst {
          case a if a.startsWith("buckets=") => a.stripPrefix("buckets=").toInt
        }
      else None
    }

  /** The bucket id of a bucketed segment file — its `__b=<i>` directory
    * component, i.e. the rows' own pmod(murmur3_42(k), n), independent
    * of which task happened to write the file. None for a file outside
    * any bucket directory (e.g. a linear segment appended while the
    * marker demotion raced a concurrent scan's manifest read): callers
    * DEGRADE — withdraw the partitioning/ordering claim — rather than
    * fail the query (r12 review #2). */
  def bucketIdOpt(file: String): Option[Int] =
    file.split('/').reverseIterator
      .find(_.startsWith(BucketDirPrefix))
      .flatMap(_.stripPrefix(BucketDirPrefix).toIntOption)

  def bucketId(file: String): Int =
    bucketIdOpt(file).getOrElse(
      throw new IllegalArgumentException(s"no $BucketDirPrefix directory in: $file"))

  /** The segment's key Bloom, if its sidecar exists (absent on stores
    * written before the index — absent prunes nothing). */
  def readBloom(segFile: String): Option[(Array[Long], Int)] = {
    val slash = segFile.lastIndexOf('/')
    GraftFs.readText(activeConf,
        sidecarPath(segFile.substring(0, slash), segFile.substring(slash + 1)))
      .map(t => graft.operators.KeyBloom.deserialize(unhex(t.trim)))
  }

  /** Driver-side manifest reads resolve the warehouse path's FileSystem
    * through the active session's Hadoop conf (scan planning always runs
    * with one); bare Configuration() covers non-Spark callers. */
  private[kvconnector] def activeConf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  /** The store's declared layout: the marker's first line
    * (zorder/familyranged/bucket), "linear" when there is no marker
    * (linear and legacy stores carry none). Later marker lines carry
    * layout attributes (see [[readSortedKC]]). */
  def readLayout(path: String): String =
    GraftFs.readText(activeConf, GraftFs.child(path, LayoutFile))
      // an empty-but-present marker degrades to linear, like no marker
      // (r11 advice #2: linesIterator on "" is empty — next() would throw)
      .flatMap(_.linesIterator.nextOption()).map(_.trim)
      .filter(_.nonEmpty).getOrElse("linear")

  /** Whether rows inside every segment are (k, c)-sorted — the TopN
    * read-in-order prerequisite. Linear stores always are (the original
    * write contract); zorder stores only since the marker carries
    * `order=kc` (earlier zorder writers sorted segments along the
    * Morton curve, so a store persisted across that version boundary
    * must DECLINE the push rather than serve wrong prefixes). */
  def readSortedKC(path: String): Boolean =
    GraftFs.readText(activeConf, GraftFs.child(path, LayoutFile)) match {
      case None => true // no marker = linear = (k, c)-sorted
      case Some(txt) => txt.linesIterator.map(_.trim).contains("order=kc")
    }

  def readManifest(path: String): Seq[Segment] = {
    val raw = GraftFs.readText(activeConf, GraftFs.child(path, ManifestFile))
      .getOrElse(throw new java.io.FileNotFoundException(
        s"$path/$ManifestFile"))
    raw.split('\n').toSeq.filter(_.nonEmpty).map { line =>
      // -1 keeps trailing empty fields: a segment whose cells all have an
      // empty c has an empty zone map, not a missing one
      line.split("\t", -1) match {
        case Array(f, lo, hi, n) => // pre-zone-map manifest line
          Segment(s"$path/$f", unhex(lo), unhex(hi), n.toLong)
        case Array(f, lo, hi, n, clo, chi) =>
          Segment(s"$path/$f", unhex(lo), unhex(hi), n.toLong, unhex(clo), unhex(chi))
        case other => throw new IllegalStateException(
          s"malformed manifest line (${other.length} fields): $line")
      }
    }
  }
}
