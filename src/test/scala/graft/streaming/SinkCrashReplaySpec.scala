package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.BinaryType
import org.apache.spark.sql.{functions => F}

import graft.{GraftFs, SparkSpec}
import graft.kv.KVStore

/** The crash/replay contract every maintained view owes, checked on all
  * ten snapshot sinks over one synthetic five-batch stream:
  *
  *   (a) after 5 batches at most two complete versions remain (retention);
  *   (b) a version whose tables landed but whose `_SUCCESS` marker did not
  *       is invisible to `read` and to lineage: replaying its batch reads
  *       back exactly like an uncrashed run;
  *   (c) redelivering batch 0 after batch 4 is a no-op.
  *
  * The checks read the filesystem directly, so they hold any snapshot
  * layout of `<family>_v<batchId>` directories to the same contract. */
class SinkCrashReplaySpec extends SparkSpec {
  import SinkCrashReplaySpec._

  private val Day0 = 1704067200000L // 2024-01-01T00:00Z, a Monday
  private val Types = Seq("click", "view", "purchase", "browse")

  /** Batch `i`: six events on day i, 5 minutes apart, over four users,
    * with every column some sink consumes derived from them. */
  private def events(i: Int): DataFrame = {
    import spark.implicits._
    (0 until 6).map { j =>
      val id = i * 6L + j
      (id, id % 4 + 1, new java.sql.Timestamp(Day0 + i * 86400000L + j * 300000L),
        Types(j % 4), 1.25 * (id % 7 + 1))
    }.toDF("event_id", "user_id", "ts", "event_type", "value")
      .withColumn("src", F.col("user_id"))
      .withColumn("dst", F.col("event_id") + 100L)
      .withColumn("o_custkey", F.col("user_id"))
      .withColumn("o_totalprice", F.col("value"))
      .withColumn("k", KVStore.encLong(F.col("user_id")))
      .withColumn("c", KVStore.encLong(F.col("event_id") % 5L))
      .withColumn("v", F.col("event_id").cast("string").cast("binary"))
      .withColumn("is_delete", F.col("event_id") % 4L === 3L)
  }

  /** A frame's rows as sorted strings (binary cells hex-encoded). */
  private def rows(df: DataFrame): Seq[String] =
    df.select(df.schema.fields.toSeq.map(f =>
        if (f.dataType == BinaryType) F.hex(F.col(f.name)) else F.col(f.name)): _*)
      .collect().map(_.toString).toSeq.sorted

  private def own(prefix: String) = Seq("" -> prefix)

  private val sinks = Seq(
    Sink("RollupSink", own("rollup_v"), RollupSink.applyBatch,
      d => rows(RollupSink.read(spark, d))),
    Sink("ParetoSink", own("pareto_v"), ParetoSink.applyBatch,
      d => rows(ParetoSink.read(spark, d))),
    Sink("TopKSink", own("topk_v"), TopKSink.applyBatch(_, _, _, 64),
      d => rows(TopKSink.read(spark, d))),
    Sink("GraphSink", own("cc_v"), GraphSink.applyBatch,
      d => rows(GraphSink.read(spark, d))),
    Sink("CusumSink", own("daily_v"), CusumSink.applyBatch,
      d => rows(CusumSink.monitor(spark, d))),
    Sink("RankSink", own("pr_v"), RankSink.applyBatch,
      d => rows(RankSink.read(spark, d))),
    Sink("ActiveUsersSink", own("days_v"), ActiveUsersSink.applyBatch,
      d => rows(ActiveUsersSink.read(spark, d)) ++
        rows(ActiveUsersSink.cohortRead(spark, d))),
    Sink("MarkovSink", own("markov_v"), MarkovSink.applyBatch(_, _, _),
      d => rows(MarkovSink.read(spark, d))),
    Sink("JourneyStream", Seq("journey" -> "journey_v", "topk" -> "topk_v"),
      (b, d, id) => JourneyStream.applyBatch(b, s"$d/journey", id, s"$d/topk"),
      d => rows(JourneyStream.readTop(spark, s"$d/journey", s"$d/topk"))),
    Sink("SessionFunnelStream", own("funnel_v"), SessionFunnelStream.applyBatch(_, _, _),
      d => rows(SessionFunnelStream.readLevels(spark, d))))

  /** Entry names of one version family, complete or not. */
  private def versions(dir: String, family: (String, String)): Seq[String] = {
    val d = Paths.get(dir, family._1)
    if (!Files.isDirectory(d)) Nil
    else Files.list(d).iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith(family._2) &&
        n.drop(family._2.length).forall(_.isDigit))
      .toSeq.sorted
  }

  private def complete(dir: String, family: (String, String)): Seq[String] =
    versions(dir, family)
      .filter(n => Files.exists(Paths.get(dir, family._1, n, "_SUCCESS")))

  private def copyTree(from: String, to: Path): Unit =
    Files.walk(Paths.get(from)).iterator().asScala.foreach { p =>
      val q = to.resolve(Paths.get(from).relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }

  private val runs = scala.collection.mutable.Map.empty[String, Run]
  private def run(s: Sink): Run = runs.getOrElseUpdate(s.name, {
    val dir = Files.createTempDirectory(s"crash_${s.name}").toString
    (0 to 3).foreach(i => s.applyBatch(events(i), dir, i.toLong))
    val after3 = s.read(dir)
    s.applyBatch(events(4), dir, 4L)
    Run(dir, after3, s.read(dir))
  })

  for (s <- sinks) {
    test(s"${s.name}: at most two complete versions remain after five batches") {
      val r = run(s)
      assert(r.after3 != r.after4, "batch 4 must change the view")
      for (f <- s.families)
        assert(complete(r.dir, f).size <= 2 &&
          complete(r.dir, f).contains(s"${f._2}4"), s"$f: ${complete(r.dir, f)}")
    }

    test(s"${s.name}: a version missing its marker is invisible; its replay is exact") {
      val r = run(s)
      val crashed = Files.createTempDirectory(s"crashed_${s.name}")
      copyTree(r.dir, crashed)
      val conf = spark.sparkContext.hadoopConfiguration
      for ((sub, prefix) <- s.families)
        GraftFs.delete(conf, Paths.get(crashed.toString, sub, s"${prefix}4", "_SUCCESS").toString)
      assert(s.read(crashed.toString) == r.after3)
      s.applyBatch(events(4), crashed.toString, 4L)
      assert(s.read(crashed.toString) == r.after4)
    }

    test(s"${s.name}: redelivering batch 0 after batch 4 is a no-op") {
      val r = run(s)
      val before = s.families.map(versions(r.dir, _))
      s.applyBatch(events(0), r.dir, 0L)
      assert(s.families.map(versions(r.dir, _)) == before)
      assert(s.read(r.dir) == r.after4)
    }
  }

  test("JourneyStream: a reader between batch 4's top-k fold and its journey marker reads batch 3") {
    val s = sinks.find(_.name == "JourneyStream").get
    val r = run(s)
    val torn = Files.createTempDirectory("torn_JourneyStream")
    copyTree(r.dir, torn)
    // topk_v4 landed, journey_v4's marker did not
    GraftFs.delete(spark.sparkContext.hadoopConfiguration,
      Paths.get(torn.toString, "journey", "journey_v4", "_SUCCESS").toString)
    assert(s.read(torn.toString) == r.after3)
  }
}

object SinkCrashReplaySpec {

  /** One sink: `families` are its snapshot version families as
    * (subdirectory, version prefix) — composite views own several. */
  final case class Sink(name: String, families: Seq[(String, String)],
                        applyBatch: (DataFrame, String, Long) => Unit,
                        read: String => Seq[String])

  /** An uncrashed five-batch run: its dir and the reads after batches
    * 3 and 4. Built once per sink, shared by the three checks. */
  final case class Run(dir: String, after3: Seq[String], after4: Seq[String])
}
