package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.{functions => F}

import graft.SparkSpec
import JourneyStreamSpec.{JEv, SessionPath}

object JourneyStreamSpec {
  final case class JEv(user_id: Long, ts: Timestamp, event_id: Long,
                       event_type: String)
  final case class SessionPath(user_id: Long, start_us: Long, end_us: Long,
                               n_events: Long, path: String)
}

/** The live journey fold ([[JourneyStream.start]]) and its applyBatch /
  * readTop composition (journey buffer fold → TopKSink) must maintain
  * the exact journey counts of the batch sessionize+path replica —
  * through the cross-batch out-of-order gap-boundary case, empty
  * batches, in-delay late arrivals and batch replays. */
class JourneyStreamSpec extends SparkSpec {

  private def ts(ms: Long) = new Timestamp(ms)

  /** Timestamp → epoch µs (getTime is ms-rounded; the µs live in
    * getNanos). */
  private def usOf(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Drive the live form over MemoryStream batches (arrival order ≠ time
    * order allowed); returns (journey dir, top-k dir). */
  private def runLive(batches: Seq[Seq[JEv]]): (String, String) = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val snap = Files.createTempDirectory("jlive")
    val (jDir, tDir) = (snap.resolve("j").toString, snap.resolve("t").toString)
    val in = MemoryStream[JEv]
    val q = JourneyStream.start(in.toDF(), jDir, tDir)
    try batches.foreach { g => in.addData(g: _*); q.processAllAvailable() }
    finally q.stop()
    (jDir, tDir)
  }

  /** A far-future event: its batch's watermark closes every session of
    * `evs`, so their paths must reach the durable top-k. */
  private def sentinel(evs: Seq[JEv]): JEv =
    JEv(-1, ts(evs.map(_.ts.getTime).max + 7_200_000L), -1, "click")

  /** The durable top-k: closed sessions only. */
  private def closedCounts(tDir: String): Map[String, Long] =
    TopKSink.read(spark, tDir).collect()
      .map(r => (r.getString(1), r.getLong(2))).toMap

  /** Batch replica: µs-exact (t, id) sort per user, gap fold, 3-prefix
    * path — q_journey's contract. */
  private def expected(evs: Seq[JEv]): Seq[SessionPath] =
    evs.groupBy(_.user_id).toSeq.flatMap { case (u, es) =>
      val sorted = es.sortBy(e => (usOf(e.ts), e.event_id))
      val sessions = sorted.foldLeft(Vector.empty[Vector[JEv]]) { (acc, e) =>
        if (acc.nonEmpty &&
            usOf(e.ts) - usOf(acc.last.last.ts) <= SessionFold.GapUs)
          acc.init :+ (acc.last :+ e)
        else acc :+ Vector(e)
      }
      sessions.map { s =>
        SessionPath(u, usOf(s.head.ts), usOf(s.last.ts), s.size.toLong,
          s.take(3).map(_.event_type).mkString(">"))
      }
    }

  /** Exact path histogram of the batch replica. */
  private def expectedCounts(evs: Seq[JEv]): Map[String, Long] =
    expected(evs).groupBy(_.path).view.mapValues(_.size.toLong).toMap

  test("cross-batch out-of-order event near a gap boundary keeps one path") {
    val base = 1_700_000_000_000L
    val G = SessionFold.GapMs
    val b1 = Seq(JEv(1, ts(base), 1, "view"), JEv(1, ts(base + 60_000), 2, "click"))
    val b2 = Seq(JEv(1, ts(base + 60_000 + G + 120_000), 3, "purchase"))
    val b3 = Seq(JEv(1, ts(base + 200_000), 4, "signup")) // admissible, merges all
    val all = b1 ++ b2 ++ b3
    val exp = expected(all)
    assert(exp.size == 1 && exp.head.path == "view>click>signup", exp)
    val (jDir, tDir) = runLive(Seq(b1, b2, b3, Seq(sentinel(all))))
    assert(readCounts(jDir, tDir) == expectedCounts(all :+ sentinel(all)))
    // the merged session closed once, through the top-k
    assert(closedCounts(tDir) == Map("view>click>signup" -> 1L))
  }

  test("replayed sf0.001 history matches the batch paths; TopKSink maintains exact journey counts") {
    val evs = graft.Tables(spark, SF, "events")
      .select("user_id", "ts", "event_id", "event_type")
      .limit(800).collect()
      .map(r => JEv(r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
      .toSeq
    val sorted = evs.sortBy(e => (usOf(e.ts), e.event_id))
    val chunks = sorted.grouped(math.max(1, sorted.size / 5)).toSeq
    val exp = expectedCounts(evs)
    // distinct paths ≤ capacity → Misra-Gries is exact
    assert(exp.size <= 512)
    val (jDir, tDir) = runLive(chunks :+ Seq(sentinel(evs)))
    assert(readCounts(jDir, tDir) == expectedCounts(evs :+ sentinel(evs)))
    assert(closedCounts(tDir) == exp)
  }

  // ── applyBatch (foreachBatch DataFrame fold) ──────────────────────────

  private def toDf(evs: Seq[JEv]): DataFrame = {
    import spark.implicits._
    evs.toDF()
  }

  private def readCounts(jDir: String, tDir: String): Map[String, Long] =
    JourneyStream.readTop(spark, jDir, tDir, k = 1000).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap

  test("applyBatch: empty first batch keeps the watermark unsealed (no underflow)") {
    val snap = Files.createTempDirectory("jinc_empty")
    val (jDir, tDir) = (snap.resolve("j").toString, snap.resolve("t").toString)
    val base = 1_700_000_000_000L
    JourneyStream.applyBatch(toDf(Nil), jDir, 0L, tDir)
    val b1 = Seq(JEv(1, ts(base), 1, "view"), JEv(1, ts(base + 60_000), 2, "click"))
    JourneyStream.applyBatch(toDf(b1), jDir, 1L, tDir)
    // an underflowed watermark would have dropped ALL of b1 forever
    assert(readCounts(jDir, tDir) == expectedCounts(b1))
  }

  test("applyBatch: cross-batch out-of-order within delay, replay, and empty mid-batch stay exact") {
    val snap = Files.createTempDirectory("jinc_ooo")
    val (jDir, tDir) = (snap.resolve("j").toString, snap.resolve("t").toString)
    val base = 1_700_000_000_000L
    val G = SessionFold.GapMs
    // b0: user 1 session start; user 2 lone event
    val b0 = Seq(JEv(1, ts(base), 1, "view"), JEv(2, ts(base + 10_000), 2, "cart"))
    // b1: advances time far enough to CLOSE b0's sessions (> gap + delay)
    val b1 = Seq(JEv(1, ts(base + 2 * G + 3_600_000L), 3, "purchase"))
    // b2: in-delay out-of-order arrival — merges into b1's still-open session
    val b2 = Seq(JEv(1, ts(base + 2 * G + 3_660_000L), 4, "click"),
                 JEv(1, ts(base + 2 * G + 3_500_000L), 5, "signup"))
    JourneyStream.applyBatch(toDf(b0), jDir, 0L, tDir)
    JourneyStream.applyBatch(toDf(b1), jDir, 1L, tDir)
    JourneyStream.applyBatch(toDf(b1), jDir, 1L, tDir) // replayed batchId: no-op
    JourneyStream.applyBatch(toDf(Nil), jDir, 2L, tDir) // empty mid-batch
    JourneyStream.applyBatch(toDf(b2), jDir, 3L, tDir)
    val all = b0 ++ b1 ++ b2
    // the late signup must have been sorted BEFORE purchase/click
    assert(expectedCounts(all).contains("purchase>signup>click") == false)
    assert(readCounts(jDir, tDir) == expectedCounts(all))
  }

  test("applyBatch over sf0.001 slices equals the batch q_journey histogram") {
    val ev = graft.Tables(spark, SF, "events")
      .select("user_id", "ts", "event_id", "event_type")
    val us = F.unix_micros(F.col("ts"))
    val Array(lo, hi) = ev.select(us.as("tu"))
      .stat.approxQuantile("tu", Array(0.33, 0.66), 0.0)
    val snap = Files.createTempDirectory("jinc_sf")
    val (jDir, tDir) = (snap.resolve("j").toString, snap.resolve("t").toString)
    JourneyStream.applyBatch(ev.filter(us <= lo), jDir, 0L, tDir)
    JourneyStream.applyBatch(ev.filter(us > lo && us <= hi), jDir, 1L, tDir)
    JourneyStream.applyBatch(ev.filter(us > hi), jDir, 2L, tDir)
    val got = readCounts(jDir, tDir)
    val evs = ev.collect().map(r =>
      JEv(r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3))).toSeq
    assert(got == expectedCounts(evs))
  }
}
