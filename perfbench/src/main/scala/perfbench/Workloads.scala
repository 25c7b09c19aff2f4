package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}

import graft.graph.{GraphAlgs, PropertyGraph, Traversal}
import graft.kv.{KVDeltaStore, KVStore, KVStoreManager}
import graft.operators.{FreqItems, ThetaSketch}
import graft.pipeline.DedupQueries

/** One workload: a store build from the generated inputs, and a pass — a
  * fixed, seed-determined cycle of calls into graft. `gen.py` writes the
  * inputs and the op stream under `input`; stores go under `store`. */
abstract class Workload(val spark: SparkSession, val input: Path, val store: Path) {
  val meta: Map[String, String] =
    Files.readAllLines(input.resolve("meta.txt")).asScala
      .filter(_.contains('=')).map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
      .toMap

  def metaInt(k: String): Int = meta(k).toInt

  /** Build the stores the passes read, from the generated inputs. */
  def build(rec: Recorder): Unit

  /** Untimed preparation of pass p (loading its mutation batches). */
  def prepare(p: Int): Unit = ()

  def pass(p: Int, rec: Recorder): Unit

  /** Checks after the last pass. */
  def finish(rec: Recorder): Unit = ()

  protected def hex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
  protected def tsv(name: String): Seq[Array[String]] =
    Files.readAllLines(input.resolve(name)).asScala.filter(_.nonEmpty).map(_.split('\t')).toSeq

  private val keySchema = StructType(Seq(StructField("k", BinaryType)))

  /** getSlice over a key list, in the form graft's kv_dsv2_multi entry
    * uses: the key list joins the store as a broadcast side, and the same
    * keys also filter the store, which carries the key predicate down to
    * the scan (connector segment pruning; through merge-on-read's window,
    * whose partition key is k). */
  protected def getSlice(db: DataFrame, keys: Seq[Array[Byte]], cs: Array[Byte],
                         ce: Array[Byte], limit: Int): DataFrame =
    KVStore.slice(db.filter(F.col("k").isin(keys: _*)),
      F.broadcast(spark.createDataFrame(keys.map(Row(_)).asJava, keySchema)),
      F.lit(cs), F.lit(ce), limit)

  protected def dirBytes(p: Path): Long = {
    val files = Files.walk(p)
    try files.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally files.close()
  }
}

object Workload {
  def apply(name: String, spark: SparkSession, input: Path, store: Path): Workload = name match {
    case "kcv" => new Both(new KcvRead(spark, input, store), new KcvMutate(spark, input, store))
    case "analytics" =>
      new Both(new GraphOlap(spark, input, store), new CorpusDedup(spark, input, store))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Two workloads run as one: builds, then passes, back to back. */
final class Both(a: Workload, b: Workload) extends Workload(a.spark, a.input, a.store) {
  def build(rec: Recorder): Unit = { a.build(rec); b.build(rec) }
  override def prepare(p: Int): Unit = { a.prepare(p); b.prepare(p) }
  def pass(p: Int, rec: Recorder): Unit = { a.pass(p, rec); b.pass(p, rec) }
  override def finish(rec: Recorder): Unit = { a.finish(rec); b.finish(rec) }
}

/** Read-only SPI requests against a graft-kv segment store: single-key
  * and 64-key getSlice over Zipf-skewed keys, and a getKeys key-range
  * scan with its column slice. */
final class KcvRead(spark: SparkSession, input: Path, store: Path)
    extends Workload(spark, input, store) {
  private val mgr = new KVStoreManager(spark, store.toString)
  private val name = "segments"
  private val ops = tsv("ops.tsv")

  def build(rec: Recorder): Unit = rec.op("kvconnector.segment_write", 0) {
    mgr.writeSegmentStore(name,
      spark.read.parquet(input.resolve("segment_cells.parquet").toString), metaInt("segments"))
    Result(0, 0)
  }

  def pass(p: Int, rec: Recorder): Unit = {
    val db = mgr.openSegmentStore(name)
    ops.zipWithIndex.foreach { case (f, i) =>
      val Array(kind, keys, ks, ke, cs, ce, lim) = f
      kind match {
        case "slice" => rec.op("kv.slice", i) {
          Digest.cells(getSlice(db, Seq(hex(keys)), hex(cs), hex(ce), lim.toInt))
        }
        case "multislice" => rec.op("kv.multislice", i) {
          Digest.cells(getSlice(db, keys.split(',').toSeq.map(hex), hex(cs), hex(ce), lim.toInt))
        }
        case "keyslices" => rec.op("kv.keyslices", i) {
          Digest.cells(KVStore.keySlices(db, F.lit(hex(ks)), F.lit(hex(ke)),
            F.lit(hex(cs)), F.lit(hex(ce)), lim.toInt))
        }
      }
    }
  }
}

/** One whole compaction cycle of a merge-on-read KVDeltaStore per pass:
  * `batches` mutation batches (deletions, fresh additions, upserts, and
  * cells deleted and re-added in one batch), each followed by a
  * read-your-writes getSlice, with maybeCompact firing on the last. */
final class KcvMutate(spark: SparkSession, input: Path, store: Path)
    extends Workload(spark, input, store) {
  private val name = "delta"
  private val batches = metaInt("batches")
  private val cellSchema = StructType(Seq("k", "c", "v").map(StructField(_, BinaryType)))
  private def ds = new KVDeltaStore(spark, store.toString)
  // the read-your-writes read after each batch, by (pass, batch)
  private val reads = tsv("reads.tsv").map(f => (f(0).toInt, f(1).toInt) -> f).toMap
  // (additions, deletions) per batch of the prepared pass, held on the driver
  private var prepared: IndexedSeq[(DataFrame, DataFrame)] = IndexedSeq.empty

  def build(rec: Recorder): Unit = rec.op("kv.base_build", 0) {
    val base = spark.read.parquet(input.resolve("base.parquet").toString)
    val d = ds
    d.appendMutation(name, base, base.filter(F.lit(false)).select("k", "c"), 1L)
    d.compact(name)
    Result(0, 0)
  }

  override def prepare(p: Int): Unit = {
    prepared = (0 until batches).map { b =>
      // rows: op (1 = addition, 0 = deletion), k, c, v
      val rows = tsv(f"batches/p$p%03d_b$b.tsv")
      def local(op: String, cols: Int) = spark.createDataFrame(
        rows.filter(_(0) == op).map(f => Row(f.slice(1, 1 + cols).map(hex).toSeq: _*))
          .asJava, StructType(cellSchema.take(cols)))
      (local("1", 3), local("0", 2))
    }
  }

  def pass(p: Int, rec: Recorder): Unit = {
    val d = ds
    prepared.zipWithIndex.foreach { case ((adds, dels), b) =>
      rec.op("kv.append", b) {
        d.appendMutation(name, adds, dels, 2L + p * batches + b)
        Result(0, 0)
      }
      rec.sample("kv.store_bytes", b, dirBytes(store.resolve(name)).toDouble)
      rec.sample("kv.log_depth", b, d.logDepth(name).toDouble)
      val f = reads((p, b))
      rec.op("kv.merge_read", b) {
        Digest.cells(getSlice(d.openDatabase(name), Seq(hex(f(2))), hex(f(3)), hex(f(4)),
          f(5).toInt))
      }
      val last = b == batches - 1
      rec.op(if (last) "kv.compact" else "kv.compact_check", b) {
        val fired = d.maybeCompact(name, batches)
        require(fired == last, s"maybeCompact fired=$fired after batch $b of $batches")
        Result(0, 0)
      }
    }
  }

  /** Re-open the store from disk in a fresh KVDeltaStore. */
  override def finish(rec: Recorder): Unit =
    rec.op("kv.reopen_check", 0)(Digest.cellsDistributed(ds.openDatabase(name)))
}

/** Graph analytics over a kv-backed adjacency store (KVGraphQueries'
  * layout: k = be(src), c = be(label) ++ be(dst), v = be(w); vertex
  * existence cells in label family 0). One scan decodes the store into a
  * PropertyGraph.G; the algorithms then run on that graph. */
final class GraphOlap(spark: SparkSession, input: Path, store: Path)
    extends Workload(spark, input, store) {
  private val mgr = new KVStoreManager(spark, store.toString)
  private val name = "adjacency"
  private val seeds = meta("seeds").split(',').toSeq.map(_.toLong)

  def build(rec: Recorder): Unit = rec.op("kvconnector.segment_write", 1) {
    mgr.writeSegmentStore(name, spark.read.parquet(input.resolve("adj.parquet").toString),
      metaInt("graph_segments"))
    Result(0, 0)
  }

  def pass(p: Int, rec: Recorder): Unit = {
    var cells: DataFrame = null
    rec.op("graph.adjacency_load", 0) {
      cells = mgr.openSegmentStore(name).select(
        KVStore.decLong(F.col("k"), 1).as("src"), KVStore.decLong(F.col("c"), 1).as("fam"),
        KVStore.decLong(F.col("c"), 9).as("dst"), KVStore.decLong(F.col("v"), 1).as("w"))
        .localCheckpoint()
      Result(cells.count(), 0)
    }
    if (cells == null) return
    val g = PropertyGraph.G(
      cells.filter(F.col("fam") === 0).select(F.col("src").as("vid"), F.lit("v").as("vlabel")),
      cells.filter(F.col("fam") > 0)
        .select(F.col("src"), F.col("dst"), F.lit("peer").as("elabel"), F.col("w")))
    rec.op("graph.traversal", 0) {
      val df = Traversal.V(g, seeds: _*).out().out().df
      Digest.longs(df, df.columns.take(3).toSeq: _*)
    }
    rec.op("graph.pagerank", 0)(Digest.longs(
      GraphAlgs.pagerank(g.vertices, g.edges, metaInt("pagerank_iters")), "vid", "pr"))
    rec.op("graph.cc", 0)(
      Digest.longs(GraphAlgs.connectedComponents(g.vertices, g.undirected), "vid", "comp"))
    rec.op("graph.labelprop", 0)(
      Digest.longs(GraphAlgs.labelPropagation(g.vertices, g.undirected,
        metaInt("labelprop_iters")), "vid", "lbl"))
    rec.op("graph.scc", 0)(Digest.longs(GraphAlgs.scc(g.vertices, g.edges), "vid", "scc"))
    cells.unpersist(true)
  }
}

/** Near-duplicate detection over a generated corpus, plus sketch
  * aggregates over its shingles. */
final class CorpusDedup(spark: SparkSession, input: Path, store: Path)
    extends Workload(spark, input, store) {
  private val dir = store.resolve("corpus").toString
  private val planted: Set[(Long, Long)] = tsv("planted_pairs.tsv")
    .map(f => (f(0).toLong, f(1).toLong)).toSet
  private val thetaK = metaInt("theta_k")
  private val groups = metaInt("theta_groups")
  private val fiCapacity = metaInt("freq_capacity")
  private val fiK = metaInt("freq_k")

  /** Ingest: the generated corpus becomes the `documents` table graft reads. */
  def build(rec: Recorder): Unit = rec.op("pipeline.ingest", 0) {
    spark.read.parquet(input.resolve("corpus.parquet").toString)
      .repartition(metaInt("files")).write.parquet(s"$dir/documents.parquet")
    Result(0, 0)
  }

  def pass(p: Int, rec: Recorder): Unit = {
    rec.op("pipeline.exact_dup", 0)(
      Digest.longs(DedupQueries.dExactDup(spark, dir), "keep_id", "n_copies"))
    rec.op("pipeline.minhash_lsh", 0) {
      val pairs = DedupQueries.dMinhashLsh(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val found = pairs.count(planted.contains)
      Result(pairs.length, 0, s"""{"planted_found":$found,"planted":${planted.size}}""")
    }
    rec.op("pipeline.containment", 0)(
      Digest.longs(DedupQueries.dContainment(spark, dir), "a_id", "b_id", "na", "cont6"))
    rec.op("pipeline.dup_groups", 0)(
      Digest.longs(DedupQueries.dDupGroups(spark, dir), "doc_id", "keep_id"))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    rec.op("operators.theta", 0) {
      val est = DedupQueries.wordShingles(docs)
        .groupBy(F.pmod(F.col("doc_id"), F.lit(groups.toLong)).as("g"))
        .agg(ThetaSketch.estimateCol(ThetaSketch.agg(F.xxhash64(F.col("s")), thetaK), thetaK)
          .as("est"))
        .orderBy("g").collect().map(r => s"[${r.getLong(0)},${r.getLong(1)}]")
      Result(est.length, 0, est.mkString("[", ",", "]"))
    }
    rec.op("operators.freqitems", 0) {
      val top = FreqItems.perGroup(DedupQueries.wordShingles(docs), Seq.empty, F.col("s"),
        fiCapacity, fiK).orderBy("rnk").collect().map(r => Json.str(r.getAs[String]("term")))
      Result(top.length, 0, top.mkString("[", ",", "]"))
    }
  }
}
