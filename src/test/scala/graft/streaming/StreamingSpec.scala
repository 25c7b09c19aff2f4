package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import EventStream.{Ev, Session}

/** Structured Streaming specs: watermarked tumbling windows + stateful
  * sessionization, driven through MemoryStream (SURVEY §2E). */
class StreamingSpec extends SparkSpec {

  // offset from epoch: ts==0 collides with the initial watermark (0) and
  // is dropped as late data.
  private val Base = 24 * 60L // one day, in minutes
  private def ts(minutes: Long): Timestamp = new Timestamp((Base + minutes) * 60 * 1000L)
  private def mins(t: Timestamp): Long = t.getTime / 60000 - Base

  test("tumbling-window agg emits closed windows once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = EventStream.tumblingCounts(in.toDF())
      .writeStream.format("memory").queryName("tumble_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        Ev(1, ts(5), "click", 1.0), Ev(1, ts(20), "click", 2.0),
        Ev(2, ts(61), "view", 5.0))
      q.processAllAvailable()
      // watermark after batch1 = 61min - 30min = 31min: hour-0 window not
      // yet closed. Push watermark past 60min with a later event.
      in.addData(Ev(2, ts(200), "view", 1.0))
      q.processAllAvailable()
      in.addData(Ev(2, ts(300), "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("tumble_out")
        .collect().map(r => (mins(r.getTimestamp(0)), r.getString(1),
          r.getLong(2), r.getDouble(3))).toSet
      assert(rows.contains((0L, "click", 2L, 3.0)), s"got $rows")
      assert(rows.contains((60L, "view", 1L, 5.0)), s"got $rows")
    } finally q.stop()
  }

  test("sessionize closes a session on gap and on timeout") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = EventStream.sessionize(in.toDS())
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: two events 10min apart (one session), then a batch with an
      // out-of-order event 15min BEFORE the open session (within gap →
      // extends its start) plus an event 2h later (gap-close → new session).
      in.addData(Ev(1, ts(0), "click", 1.0), Ev(1, ts(10), "click", 2.0))
      q.processAllAvailable()
      in.addData(Ev(1, ts(-15), "click", 9.0), Ev(1, ts(130), "click", 4.0))
      q.processAllAvailable()
      // advance the watermark far enough to time out the open session
      in.addData(Ev(2, ts(600), "click", 1.0))
      q.processAllAvailable()
      in.addData(Ev(2, ts(1200), "click", 1.0))
      q.processAllAvailable()
      val sessions = spark.table("sess_out").as[Session].collect()
        .filter(_.user_id == 1L)
        .map(s => (mins(s.start), mins(s.end), s.n_events, s.total_value))
        .toSet
      assert(sessions.contains((-15L, 10L, 3L, 12.0)), s"got $sessions")
      assert(sessions.contains((130L, 130L, 1L, 4.0)), s"got $sessions")
    } finally q.stop()
  }

  test("sessionize keeps one session when an admissible late event bridges the gap") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = EventStream.sessionize(in.toDS())
      .writeStream.format("memory").queryName("sess_bridge")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1 at minutes 0 and 40 (past the gap: two candidate sessions),
      // then 20 — admissible (the watermark is 40 - 30 = 10) and within the
      // gap of both, so q_sessionize's rule makes ONE 3-event session
      in.addData(Ev(1, ts(0), "click", 1.0)); q.processAllAvailable()
      in.addData(Ev(1, ts(40), "click", 2.0)); q.processAllAvailable()
      in.addData(Ev(1, ts(20), "click", 4.0)); q.processAllAvailable()
      in.addData(Ev(2, ts(600), "click", 1.0)); q.processAllAvailable()
      in.addData(Ev(2, ts(1200), "click", 1.0)); q.processAllAvailable()
      val sessions = spark.table("sess_bridge").as[Session].collect()
        .filter(_.user_id == 1L)
        .map(s => (mins(s.start), mins(s.end), s.n_events, s.total_value))
        .toSet
      assert(sessions == Set((0L, 40L, 3L, 7.0)), s"got $sessions")
    } finally q.stop()
  }

  /** `ts(minutes)` plus `us` microseconds. */
  private def tsUs(minutes: Long, us: Int): Timestamp = {
    val t = ts(minutes)
    t.setNanos(us * 1000)
    t
  }

  test("sessionize gaps in µs: events 30 min + 500 µs apart are two sessions") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = EventStream.sessionize(in.toDS())
      .writeStream.format("memory").queryName("sess_us")
      .outputMode(OutputMode.Append).start()
    try {
      // 30 min + 500 µs is past q_sessionize's gap, but the same ms
      // distance as exactly 30 min
      val (a, b) = (ts(0), tsUs(30, 500))
      in.addData(Ev(1, a, "click", 1.0), Ev(1, b, "click", 2.0))
      q.processAllAvailable()
      in.addData(Ev(2, ts(600), "click", 1.0)); q.processAllAvailable()
      in.addData(Ev(2, ts(1200), "click", 1.0)); q.processAllAvailable()
      val sessions = spark.table("sess_us").as[Session].collect()
        .filter(_.user_id == 1L)
        .map(s => (s.start, s.end, s.n_events)).toSet
      assert(sessions == Set((a, a, 1L), (b, b, 1L)), s"got $sessions")
    } finally q.stop()
  }

  test("streaming dedup drops repeated event_ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, Timestamp, Double)]
    val q = EventStream.dedupEvents(
        in.toDF().toDF("event_id", "ts", "value"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((1L, ts(1), 1.0), (1L, ts(2), 1.0), (2L, ts(3), 2.0))
      q.processAllAvailable()
      in.addData((1L, ts(4), 1.0), (3L, ts(5), 3.0)) // dup of 1 across batches
      q.processAllAvailable()
      val ids = spark.table("dedup_out").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L), s"got ${ids.toSeq}")
    } finally q.stop()
  }

  test("streaming funnel emits deepening levels within the window only") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = EventStream.funnel(in.toDS())
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(Ev(1, ts(0), "click", 0), Ev(1, ts(5), "view", 0))
      q.processAllAvailable()
      // purchase within the 1h window deepens user 1 to level 3;
      // user 2's view without a click emits nothing
      in.addData(Ev(1, ts(20), "purchase", 0), Ev(2, ts(21), "view", 0))
      q.processAllAvailable()
      // user 2 clicks, then a view AFTER the 1h window: stuck at level 1
      in.addData(Ev(2, ts(30), "click", 0))
      q.processAllAvailable()
      in.addData(Ev(2, ts(100), "view", 0))
      q.processAllAvailable()
      val out = spark.table("funnel_out").as[EventStream.FunnelLevel].collect()
        .groupBy(_.user_id).view.mapValues(_.map(_.level).toSet).toMap
      assert(out(1L) == Set(2, 3), s"got $out")
      assert(out(2L) == Set(1), s"got $out")
    } finally q.stop()
  }

  test("streaming funnel orders in µs: a view 0.5 ms after a click in its ms deepens it") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = EventStream.funnel(in.toDS())
      .writeStream.format("memory").queryName("funnel_us")
      .outputMode(OutputMode.Update).start()
    try {
      // both in the same millisecond: q_funnel's `tu > t1` holds in µs
      in.addData(Ev(1, tsUs(0, 100), "click", 0), Ev(1, tsUs(0, 600), "view", 0))
      q.processAllAvailable()
      val out = spark.table("funnel_us").as[EventStream.FunnelLevel].collect()
        .map(_.level).toSet
      assert(out == Set(2), s"got $out")
    } finally q.stop()
  }

  test("funnel state is bounded: clickless users store nothing, clicks evict on timeout") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = EventStream.funnel(in.toDS())
      .writeStream.format("memory").queryName("funnel_state_out")
      .outputMode(OutputMode.Update).start()
    try {
      // 3 clickless users + 1 click: only the click may occupy state
      in.addData(Ev(10, ts(0), "view", 0), Ev(11, ts(1), "view", 0),
        Ev(12, ts(2), "purchase", 0), Ev(13, ts(3), "click", 0))
      q.processAllAvailable()
      val afterBatch1 = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(afterBatch1 == 1L,
        s"clickless users must not be stored: state rows = $afterBatch1")
      // push the watermark past click+1h+30min slack → timeout evicts it
      in.addData(Ev(99, ts(200), "view", 0))
      q.processAllAvailable()
      in.addData(Ev(99, ts(400), "view", 0))
      q.processAllAvailable()
      val afterTimeout = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(afterTimeout == 0L,
        s"timed-out funnel state must be evicted: state rows = $afterTimeout")
    } finally q.stop()
  }

  test("hopping windows count each event in both overlapping windows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = EventStream.hoppingCounts(in.toDF())
      .writeStream.format("memory").queryName("hop_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Ev(1, ts(40), "click", 0)) // minute 40 → windows starting at 0 and 30
      q.processAllAvailable()
      in.addData(Ev(9, ts(300), "view", 0)) // close both windows
      q.processAllAvailable()
      in.addData(Ev(9, ts(600), "view", 0))
      q.processAllAvailable()
      val starts = spark.table("hop_out")
        .filter(org.apache.spark.sql.functions.col("event_type") === "click")
        .collect().map(r => (mins(r.getTimestamp(0)), r.getLong(2))).toSet
      assert(starts == Set((0L, 1L), (30L, 1L)), s"got $starts")
    } finally q.stop()
  }

  test("windowed top-users sketch ranks by count with deterministic ties") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = EventStream.tumblingTopUsers(in.toDF(), capacity = 8, k = 3)
      .writeStream.format("memory").queryName("topusers_out")
      .outputMode(OutputMode.Append).start()
    try {
      // window [0, 60): user 7 ×3, user 2 ×2, user 5 ×1
      in.addData(
        Ev(7, ts(1), "click", 0), Ev(7, ts(2), "click", 0), Ev(7, ts(3), "click", 0),
        Ev(2, ts(4), "view", 0), Ev(2, ts(5), "view", 0), Ev(5, ts(6), "view", 0))
      q.processAllAvailable()
      in.addData(Ev(9, ts(300), "view", 0)) // close the window
      q.processAllAvailable()
      in.addData(Ev(9, ts(600), "view", 0))
      q.processAllAvailable()
      val rows = spark.table("topusers_out")
        .filter(org.apache.spark.sql.functions.col("window_start") === ts(0))
        .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toSet
      assert(rows == Set((1, 7L, 3L), (2, 2L, 2L), (3, 5L, 1L)), s"got $rows")
    } finally q.stop()
  }

  test("windowed approx-distinct users emits once the window closes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = EventStream.tumblingApproxUsers(in.toDF())
      .writeStream.format("memory").queryName("appx_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Ev(1, ts(5), "click", 0), Ev(2, ts(10), "view", 0),
        Ev(1, ts(20), "view", 0))
      q.processAllAvailable()
      in.addData(Ev(9, ts(200), "view", 0)) // watermark past hour 0
      q.processAllAvailable()
      in.addData(Ev(9, ts(400), "view", 0))
      q.processAllAvailable()
      val rows = spark.table("appx_out").collect()
        .map(r => (mins(r.getTimestamp(0)), r.getLong(1), r.getLong(2))).toSet
      // 2 distinct users, 3 events in hour 0; HLL is exact at this scale
      assert(rows.contains((0L, 2L, 3L)), s"got $rows")
    } finally q.stop()
  }

  test("windowed exact-distinct users via bitmap state matches the true count") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = EventStream.tumblingExactUsers(in.toDF())
      .writeStream.format("memory").queryName("exact_out")
      .outputMode(OutputMode.Append).start()
    try {
      // 3 distinct users (1 repeated), 5 events in hour 0
      in.addData(Ev(1, ts(5), "click", 0), Ev(2, ts(10), "view", 0),
        Ev(1, ts(20), "view", 0), Ev(8, ts(30), "view", 0), Ev(8, ts(31), "view", 0))
      q.processAllAvailable()
      in.addData(Ev(9, ts(200), "view", 0)) // watermark past hour 0
      q.processAllAvailable()
      in.addData(Ev(9, ts(400), "view", 0))
      q.processAllAvailable()
      val rows = spark.table("exact_out").collect()
        .map(r => (mins(r.getTimestamp(0)), r.getLong(1), r.getLong(2))).toSet
      assert(rows.contains((0L, 3L, 5L)), s"got $rows")
    } finally q.stop()
  }

  test("windowed theta-sketch users: exact below capacity, sketches emitted") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = EventStream.tumblingThetaUsers(in.toDF())
      .writeStream.format("memory").queryName("theta_out")
      .outputMode(OutputMode.Append).start()
    try {
      // 3 distinct users (1 repeated), 5 events in hour 0 — below k=256,
      // so the sketch IS the user set and the estimate is exact
      in.addData(Ev(1, ts(5), "click", 0), Ev(2, ts(10), "view", 0),
        Ev(1, ts(20), "view", 0), Ev(8, ts(30), "view", 0), Ev(8, ts(31), "view", 0))
      q.processAllAvailable()
      in.addData(Ev(9, ts(200), "view", 0)) // watermark past hour 0
      q.processAllAvailable()
      in.addData(Ev(9, ts(400), "view", 0))
      q.processAllAvailable()
      val rows = spark.table("theta_out").collect()
        .map(r => (mins(r.getTimestamp(0)), r.getLong(1), r.getLong(3))).toSet
      assert(rows.contains((0L, 3L, 5L)), s"got $rows")
      // the emitted sketch supports downstream set algebra: hour-0 ∩ hour-3
      // audiences share exactly user 9's absence → intersect of hour-0 with
      // itself returns its own cardinality
      val selfOverlap = spark.table("theta_out")
        .selectExpr("window_start", "theta_sketch_estimate(theta_intersection(sk, sk))")
        .collect().find(r => mins(r.getTimestamp(0)) == 0L).get.getLong(1)
      assert(selfOverlap == 3L)
    } finally q.stop()
  }

  test("stream-stream interval join pairs clicks with in-window purchases only") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = EventStream.clickPurchaseJoin(in.toDF())
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        Ev(1, ts(0), "click", 0), Ev(1, ts(30), "purchase", 9.5),
        Ev(2, ts(10), "click", 0), Ev(2, ts(90), "purchase", 1.0), // outside 1h
        Ev(3, ts(40), "purchase", 2.0)) // no click
      q.processAllAvailable()
      in.addData(Ev(9, ts(500), "view", 0)) // advance both watermarks
      q.processAllAvailable()
      val rows = spark.table("ssj_out").collect()
        .map(r => (r.getLong(0), mins(r.getTimestamp(1)), mins(r.getTimestamp(2)), r.getDouble(3)))
        .toSet
      assert(rows == Set((1L, 0L, 30L, 9.5)), s"got $rows")
    } finally q.stop()
  }

  test("interval LEFT join emits null rows for non-converting clicks after close") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = EventStream.clickPurchaseLeftJoin(in.toDF())
      .writeStream.format("memory").queryName("sslj_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        Ev(1, ts(0), "click", 0), Ev(1, ts(30), "purchase", 9.5), // converts
        Ev(2, ts(10), "click", 0)) // never converts
      q.processAllAvailable()
      // Advance BOTH sides' watermarks far past click 2's interval end
      // (70 min) + delay (30 min): "view" rows would be filtered out
      // before the watermark nodes and advance nothing, so the probes
      // are a click/purchase pair too far apart to ever match (the
      // watermark updates at batch end, eviction emits on the NEXT
      // batch — hence two rounds).
      in.addData(Ev(8, ts(600), "click", 0), Ev(9, ts(600), "purchase", 1.0))
      q.processAllAvailable()
      in.addData(Ev(8, ts(900), "click", 0), Ev(9, ts(900), "purchase", 1.0))
      q.processAllAvailable()
      // the ts(600)/ts(900) probe clicks eventually emit their own null
      // rows as their windows close — assert on the users under test
      val rows = spark.table("sslj_out").collect()
        .map(r => (r.getLong(0), mins(r.getTimestamp(1)),
          Option(r.getTimestamp(2)).map(mins), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
        .filter(_._1 <= 2L).toSet
      assert(rows == Set(
        (1L, 0L, Some(30L), Some(9.5)),
        (2L, 10L, None, None)), s"got $rows")
    } finally q.stop()
  }

  test("file readStream plans an unbounded source over events") {
    val df = EventStream.readEvents(spark, SF)
    assert(df.isStreaming)
    assert(df.schema.fieldNames.contains("ts"))
  }
}
