package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.{functions => F}

import graft.{SparkSpec, VersionedState}
import SessionFunnelStreamSpec.{SessionLevel, SfEv}

object SessionFunnelStreamSpec {
  final case class SfEv(user_id: Long, ts: Timestamp, event_id: Long,
                        event_type: String)
  final case class SessionLevel(user_id: Long, start_us: Long, end_us: Long,
                                n_events: Long, level: Long)
}

/** The live funnel fold ([[SessionFunnelStream.start]]) and applyBatch /
  * readLevels must maintain the exact per-level session histogram of the
  * batch sessionize+funnel replica (µs-exact, q_session_funnel's rule). */
class SessionFunnelStreamSpec extends SparkSpec {

  private def ts(ms: Long) = new Timestamp(ms)

  /** Timestamp → epoch µs (getTime is ms-rounded; the µs live in
    * getNanos). */
  private def usOf(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Epoch µs → Timestamp. */
  private def tsUs(us: Long): Timestamp = {
    val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Feed `evs` in (t, id) order as `chunks` live batches. */
  private def run(evs: Seq[SfEv], chunks: Int, tail: Seq[SfEv]*): String = {
    val sorted = evs.sortBy(e => (usOf(e.ts), e.event_id))
    runLive(sorted.grouped(math.max(1, sorted.size / chunks)).toSeq ++ tail)
  }

  /** Drive the live form over MemoryStream batches (arrival order ≠ time
    * order allowed); returns the funnel dir. */
  private def runLive(batches: Seq[Seq[SfEv]]): String = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("sflive").toString
    val in = MemoryStream[SfEv]
    val q = SessionFunnelStream.start(in.toDF(), dir)
    try batches.foreach { g => in.addData(g: _*); q.processAllAvailable() }
    finally q.stop()
    dir
  }

  /** A far-future click: its batch's watermark closes every session of
    * `evs`, so their levels must reach the durable counts. */
  private def sentinel(evs: Seq[SfEv]): SfEv =
    SfEv(-1, ts(evs.map(_.ts.getTime).max + 7_200_000L), -1, "click")

  /** Batch replica: µs-exact (t, id) sort per user, gap fold, cvp probe. */
  private def expected(evs: Seq[SfEv]): Seq[SessionLevel] =
    evs.groupBy(_.user_id).toSeq.flatMap { case (u, es) =>
      val sorted = es.sortBy(e => (usOf(e.ts), e.event_id))
      val sessions = sorted.foldLeft(Vector.empty[Vector[SfEv]]) { (acc, e) =>
        if (acc.nonEmpty &&
            usOf(e.ts) - usOf(acc.last.last.ts) <= SessionFold.GapUs)
          acc.init :+ (acc.last :+ e)
        else acc :+ Vector(e)
      }
      sessions.map { ses =>
        val seq = ses.map(e => e.event_type match {
          case "click" => "c"; case "view" => "v"; case _ => "p"
        }).mkString
        val lvl = if (seq.contains("cvp")) 3L else if (seq.contains("cv")) 2L
          else if (seq.contains("c")) 1L else 0L
        SessionLevel(u, usOf(ses.head.ts), usOf(ses.last.ts),
          ses.size.toLong, lvl)
      }
    }

  private def histOf(evs: Seq[SfEv]): Map[Long, Long] =
    expected(evs).groupBy(_.level).view.mapValues(_.size.toLong).toMap

  /** Served histogram: durable counts + the open tail. */
  private def readHist(dir: String): Map[Long, Long] =
    SessionFunnelStream.readLevels(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap

  /** The durable counts of the latest version: closed sessions only. */
  private def closedHist(dir: String): Map[Long, Long] =
    spark.read.parquet(VersionedState(dir, "funnel").latest(spark).get
      .table("counts")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap

  test("unit scenario: levels, gap splits, timeout close") {
    val base = 1_700_000_000_000L
    val G = SessionFold.GapMs
    val evs = Seq(
      SfEv(1, ts(base), 1, "click"), SfEv(1, ts(base + 60_000), 2, "view"),
      SfEv(1, ts(base + 120_000), 3, "purchase"),        // session 1 → level 3
      SfEv(1, ts(base + 120_000 + G + 1), 4, "view"),    // session 2 → level 0
      SfEv(2, ts(base), 5, "click"), SfEv(2, ts(base + 1_000), 6, "view")) // level 2
    assert(histOf(evs) == Map(3L -> 1L, 0L -> 1L, 2L -> 1L))
    val dir = run(evs, chunks = 2, Seq(sentinel(evs)))
    assert(readHist(dir) == histOf(evs :+ sentinel(evs)))
    // the watermark past end + gap closed every session (the timeout rule)
    assert(closedHist(dir) == histOf(evs))
  }

  test("cross-batch out-of-order event near a gap boundary still merges") {
    val base = 1_700_000_000_000L
    val G = SessionFold.GapMs
    // batch 2's event sits past the gap from batch 1's session; batch 3
    // then delivers an ADMISSIBLE out-of-order event (t > watermark,
    // within the gap of both) that bridges everything into ONE session.
    // A close-on-live-arrival rule would have already emitted batch 1's
    // session and wrongly produced two (or three) sessions.
    val b1 = Seq(SfEv(1, ts(base), 1, "click"), SfEv(1, ts(base + 60_000), 2, "view"))
    val b2 = Seq(SfEv(1, ts(base + 60_000 + G + 120_000), 3, "purchase"))
    // watermark after b2 = (base+60_000+G+120_000) - 30min = base+180_000
    val b3 = Seq(SfEv(1, ts(base + 200_000), 4, "view"))
    val all = b1 ++ b2 ++ b3
    val exp = expected(all)
    assert(exp.size == 1 && exp.head.n_events == 4L, exp)
    val dir = runLive(Seq(b1, b2, b3, Seq(sentinel(all))))
    assert(readHist(dir) == histOf(all :+ sentinel(all)))
    assert(closedHist(dir) == Map(exp.head.level -> 1L))
  }

  test("sub-millisecond gap boundary: 30 min + 500 µs apart is two sessions") {
    val base = 1_700_000_000_000_000L // µs
    val evs = Seq(
      SfEv(1, tsUs(base), 1, "click"),
      SfEv(1, tsUs(base + SessionFold.GapUs + 500), 2, "view"), // two: 1, 0
      SfEv(2, tsUs(base), 3, "click"),
      SfEv(2, tsUs(base + SessionFold.GapUs), 4, "view"))       // one: 2
    assert(usOf(evs(1).ts) - usOf(evs(0).ts) == SessionFold.GapUs + 500)
    assert(histOf(evs) == Map(1L -> 1L, 0L -> 1L, 2L -> 1L))
    val dir = runLive(Seq(evs, Seq(sentinel(evs))))
    assert(readHist(dir) == histOf(evs :+ sentinel(evs)))
    assert(closedHist(dir) == histOf(evs))
  }

  // ── applyBatch (foreachBatch DataFrame fold) ──────────────────────────

  test("applyBatch: empty first batch, unit levels, replay stay exact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("sfinc").toString
    val base = 1_700_000_000_000L
    val G = SessionFold.GapMs
    val b1 = Seq(
      SfEv(1, ts(base), 1, "click"), SfEv(1, ts(base + 60_000), 2, "view"),
      SfEv(1, ts(base + 120_000), 3, "purchase"),
      SfEv(2, ts(base), 5, "click"), SfEv(2, ts(base + 1_000), 6, "view"))
    // far-future sentinel CLOSES b1's sessions; also its own level-1 row
    val b2 = Seq(SfEv(3, ts(base + 3 * G), 7, "click"))
    SessionFunnelStream.applyBatch(Seq.empty[SfEv].toDF(), dir, 0L)
    SessionFunnelStream.applyBatch(b1.toDF(), dir, 1L)
    SessionFunnelStream.applyBatch(b1.toDF(), dir, 1L) // replayed: no-op
    SessionFunnelStream.applyBatch(b2.toDF(), dir, 2L)
    assert(readHist(dir) == histOf(b1 ++ b2))
  }

  private def sfEvents(limit: Int): Seq[SfEv] =
    graft.Tables(spark, SF, "events")
      .filter(F.col("event_type").isin("click", "view", "purchase"))
      .select("user_id", "ts", "event_id", "event_type")
      .limit(limit).collect()
      .map(r => SfEv(r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
      .toSeq

  test("applyBatch over sf0.001 slices (replay + delayed slice) equals the batch q_session_funnel") {
    val ev = graft.Tables(spark, SF, "events")
      .select("user_id", "ts", "event_id", "event_type")
    val us = F.unix_micros(F.col("ts"))
    val Array(lo, hi) = ev.select(us.as("tu"))
      .stat.approxQuantile("tu", Array(0.33, 0.66), 0.0)
    val lateLo = math.max(lo, hi - 900e6)
    val dir = Files.createTempDirectory("sfinc_sf").toString
    SessionFunnelStream.applyBatch(ev.filter(us <= lo), dir, 0L)
    SessionFunnelStream.applyBatch(ev.filter(us > lo && us <= lateLo), dir, 1L)
    SessionFunnelStream.applyBatch(ev.filter(us > lo && us <= lateLo), dir, 1L)
    SessionFunnelStream.applyBatch(
      ev.filter(us > hi || (us > lateLo && us <= hi)), dir, 2L)
    val expect = histOf(sfEvents(Int.MaxValue))
    assert(readHist(dir) == expect)
    val batch = graft.olap.OlapExtraQueries.qSessionFunnel(spark, SF)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(batch == expect)
  }

  test("replayed sf0.001 history matches the batch sessionize+funnel replica") {
    val evs = sfEvents(800)
    val dir = run(evs, chunks = 5)
    assert(readHist(dir) == histOf(evs))
  }
}
