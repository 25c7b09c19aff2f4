package graft.streaming

import java.sql.Timestamp
import java.time.Instant
import java.time.temporal.ChronoUnit.MICROS

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming versions of the event analytics (SURVEY §2E).
  *
  * Same logical shapes as the batch q_tumble / q_sessionize, expressed as
  * unbounded plans: watermark + tumbling-window aggregation (state store
  * evicts closed windows), and sessionization as typed state on
  * `flatMapGroupsWithState` with event-time timeout (state per user is
  * one aggregate row per session the watermark has not closed, never
  * buffered events). At scale both
  * partition by the grouping key; state store size is bounded by
  * |active users| + |open windows|, independent of stream length.
  */
object EventStream {

  final case class Ev(user_id: Long, ts: Timestamp, event_type: String, value: Double)
  final case class Session(user_id: Long, start: Timestamp, end: Timestamp,
                           n_events: Long, total_value: Double)
  // not private: the state encoder's generated code must construct them
  final case class SessState(start: Long, end: Long, n: Long, total: Double)
  final case class OpenSessions(open: Seq[SessState])

  /** Streaming tumbling-window counts per event type, 1-hour windows,
    * 30-minute watermark. Append mode emits a window once the watermark
    * passes its end — exactly-once per closed window. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(F.window(F.col("ts"), "1 hour").as("w"), F.col("event_type"))
      .agg(F.count(F.lit(1)).as("n_events"), F.sum("value").as("total_value"))
      .select(F.col("w.start").as("window_start"), F.col("event_type"),
        F.col("n_events"), F.col("total_value"))

  /** Streaming hopping-window counts: 1-hour windows every 30 minutes —
    * each event feeds window/slide open windows; state per open window
    * is one aggregate row, evicted when the watermark passes its end. */
  def hoppingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(F.window(F.col("ts"), "1 hour", "30 minutes").as("w"), F.col("event_type"))
      .agg(F.count(F.lit(1)).as("n_events"))
      .select(F.col("w.start").as("window_start"), F.col("event_type"), F.col("n_events"))

  /** Streaming sessionization (30-min inactivity gap), watermark-gated:
    * a session is emitted only once the watermark passes end + gap —
    * every admissible later event has t > watermark, so nothing can
    * extend it or bridge it to another. Until then the user's pending
    * sessions stay in state (bounded by the watermark delay + gap of
    * activity); an arrival merges every pending session within the gap
    * of it, so an admissible late event that bridges two sessions makes
    * them one, as the batch q_sessionize does. The timeout is the
    * earliest pending end + gap. Event times are compared in µs, as the
    * batch rule does; the watermark and the timeout are the only ms
    * values. */
  def sessionize(events: Dataset[Ev]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "30 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSessions, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[OpenSessions]) =>
          val pending = evs.foldLeft(state.getOption.fold(Seq.empty[SessState])(_.open)) {
            (open, e) =>
              val t = usOf(e.ts)
              val (near, far) = open.partition(st =>
                t >= st.start - SessionFold.GapUs && t <= st.end + SessionFold.GapUs)
              far :+ near.foldLeft(SessState(t, t, 1L, e.value)) { (a, b) =>
                SessState(math.min(a.start, b.start), math.max(a.end, b.end),
                  a.n + b.n, a.total + b.total)
              }
          }
          val wmMs = state.getCurrentWatermarkMs()
          val (done, open) = pending.partition(wmMs * 1000 > _.end + SessionFold.GapUs)
          if (open.nonEmpty) {
            state.update(OpenSessions(open))
            state.setTimeoutTimestamp(
              Math.floorDiv(open.map(_.end).min + SessionFold.GapUs, 1000L))
          } else if (state.exists) state.remove()
          done.sortBy(_.start).iterator.map(st => Session(user,
            tsOf(st.start), tsOf(st.end), st.n, st.total))
      }
  }

  /** Stream-static enrichment: join the unbounded event stream against a
    * static dimension table (broadcast — dimensions are small by
    * definition; Spark re-plans the static side per micro-batch, so a
    * refreshed dim snapshot is picked up without restarting the query). */
  def enrichWithDim(events: DataFrame, dim: DataFrame, joinCols: Seq[String]): DataFrame =
    events.join(F.broadcast(dim), joinCols)

  /** Stream-static AS-OF enrichment — the streaming face of the as-of
    * join (batch: q_asof / graft.plans.AsOfJoinExec): each streaming
    * event picks the LAST static reference row of its key with
    * ref_time ≤ event time (ties → largest ref id). The static side is
    * reduced to ONE sorted (time, id) array per key and broadcast-joined
    * (the dictGet discipline: the reference must be dimension-sized —
    * at 100 TB you pre-filter it to the relevant horizon); the pick is a
    * codegen'd fold over that bounded array per event. STATELESS — no
    * watermark, no state store: enrichment needs no cross-batch memory,
    * which is what makes it deployable on an unbounded stream. The spec
    * proves ≡ the batch as-of semantics on the delivered events. */
  def asofEnrich(events: DataFrame, ref: DataFrame): DataFrame = {
    // ref: (k, rt, rid) → per-key time-sorted struct array
    val packed = ref
      .select(F.col("k"), F.struct(F.col("rt"), F.col("rid")).as("e"))
      .groupBy("k").agg(F.sort_array(F.collect_list("e")).as("arr"))
    events
      .join(F.broadcast(packed), events("user_id") === packed("k"), "left")
      .withColumn("asof", F.expr(
        """aggregate(arr,
          |  struct(cast(null as bigint) AS rt, cast(null as bigint) AS rid),
          |  (acc, x) -> IF(x.rt <= unix_micros(ts), struct(x.rt, x.rid), acc),
          |  acc -> acc)""".stripMargin))
      .select(F.col("user_id"), F.col("ts"), F.col("event_type"),
        F.col("asof.rt").as("ref_time"), F.col("asof.rid").as("ref_id"))
  }

  /** Streaming exact dedup by event_id: state keeps one entry per id and
    * evicts it once the watermark passes — bounded state, unlike a plain
    * dropDuplicates on an unbounded stream. */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  final case class FunnelLevel(user_id: Long, level: Int)
  // not private: encoders (see SessState)
  final case class FunnelState(t1: Long, t2: Long, t3: Long)

  val FunnelWindowUs: Long = 60 * 60 * 1000L * 1000L

  private def usOf(t: Timestamp): Long = MICROS.between(Instant.EPOCH, t.toInstant)
  private def tsOf(us: Long): Timestamp = Timestamp.from(Instant.EPOCH.plus(us, MICROS))

  /** Streaming funnel (the streaming form of q_funnel): per user, track
    * the earliest click → view → purchase progression completed within
    * 1 hour of the first click, emitting the user's funnel depth every
    * time it deepens (update-mode output). State is three µs times per
    * user — O(1), watermark-evicted via event-time timeout. */
  def funnel(events: Dataset[Ev]): Dataset[FunnelLevel] = {
    import events.sparkSession.implicits._
    val NoT = Long.MaxValue
    events
      .withWatermark("ts", "30 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelLevel](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var st = state.getOption.getOrElse(FunnelState(NoT, NoT, NoT))
            val before = Seq(st.t1, st.t2, st.t3).count(_ != NoT)
            evs.map(e => (usOf(e.ts), e.event_type)).toSeq.sortBy(_._1).foreach { case (t, et) =>
              et match {
                case "click" if t < st.t1 => st = FunnelState(t, st.t2, st.t3)
                case "view" if st.t1 != NoT && t > st.t1 &&
                  t <= st.t1 + FunnelWindowUs && t < st.t2 =>
                  st = FunnelState(st.t1, t, st.t3)
                case "purchase" if st.t2 != NoT && t > st.t2 &&
                  t <= st.t1 + FunnelWindowUs && t < st.t3 =>
                  st = FunnelState(st.t1, st.t2, t)
                case _ => ()
              }
            }
            val after = Seq(st.t1, st.t2, st.t3).count(_ != NoT)
            // Only store state once a click anchors the funnel: an all-NoT
            // state has no timeout to evict it, so storing it would grow
            // the state store by one entry per clickless user, forever.
            if (st.t1 != NoT) {
              state.update(st)
              state.setTimeoutTimestamp(Math.floorDiv(st.t1 + FunnelWindowUs, 1000L))
            } else if (state.exists) state.remove()
            if (after > before) Iterator.single(FunnelLevel(user, after))
            else Iterator.empty
          }
      }
  }

  /** Streaming windowed approximate-distinct users (HLL sketch per
    * tumbling window): sketches are mergeable, so the partial aggregation
    * is map-side and state per open window is one sketch, not a user set
    * — the only formulation that survives unbounded cardinality. */
  def tumblingApproxUsers(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(F.window(F.col("ts"), "1 hour").as("w"))
      .agg(F.approx_count_distinct("user_id").as("approx_users"),
        F.count(F.lit(1)).as("n_events"))
      .select(F.col("w.start").as("window_start"),
        F.col("approx_users"), F.col("n_events"))

  /** Streaming windowed EXACT distinct users via the Roaring bitmap
    * aggregate (graft.operators.BitmapDistinct) — the exact counterpart
    * of tumblingApproxUsers: state per open window is one compressed
    * bitmap (merged by container OR, map-side partials included), not a
    * row per (window, user) as dropDuplicates+count would keep. The
    * middle ground between HLL (tiny state, ~2% error) and exact
    * per-user rows (unbounded state): exact counts with state
    * proportional to the compressed id set. */
  def tumblingExactUsers(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(F.window(F.col("ts"), "1 hour").as("w"))
      .agg(graft.operators.BitmapDistinct.buildAgg(F.col("user_id")).as("bm"),
        F.count(F.lit(1)).as("n_events"))
      .select(F.col("w.start").as("window_start"),
        graft.operators.BitmapDistinct.cardinality(F.col("bm")).as("n_users"),
        F.col("n_events"))

  /** Streaming windowed frequent items (the streaming form of
    * q_topk_freq): per tumbling window, the top users by event count via
    * the mergeable Misra-Gries sketch (graft.operators.FreqItemsSketch).
    * State per open window is `capacity` counters — bounded regardless of
    * user cardinality, where an exact per-(window, user) count grows with
    * the key domain; the sketch's merge rule makes the partial
    * aggregation path (map-side partials into the state store) exact in
    * the bounded-vocabulary regime and error-bounded beyond it. */
  def tumblingTopUsers(events: DataFrame, capacity: Int = 64, k: Int = 3): DataFrame = {
    val agg = org.apache.spark.sql.graftbridge.GraftSqlBridge.column(
      graft.operators.FreqItemsSketch(
        org.apache.spark.sql.graftbridge.GraftSqlBridge.expression(
          F.col("user_id").cast("string")), capacity).toAggregateExpression())
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(F.window(F.col("ts"), "1 hour").as("w"))
      .agg(agg.as("fi"))
      .select(F.col("w.start").as("window_start"),
        F.posexplode(F.slice(F.col("fi"), 1, k)).as(Seq("i", "p")))
      .select(F.col("window_start"), (F.col("i") + 1).as("rnk"),
        F.col("p.term").cast("long").as("user_id"), F.col("p.cnt").as("n_events"))
  }

  /** Streaming windowed distinct users via the theta sketch
    * (graft.operators.ThetaSketch) — the third point on the streaming
    * distinct-count curve: HLL (tumblingApproxUsers — cardinality only),
    * Roaring (tumblingExactUsers — exact, state ∝ compressed id set),
    * theta (THIS — O(k) state per window AND downstream set algebra
    * over the emitted sketches: window-over-window overlap is one
    * `theta_intersection` on the sink table). Exact below k distinct
    * per window. */
  def tumblingThetaUsers(events: DataFrame, k: Int = 256): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(F.window(F.col("ts"), "1 hour").as("w"))
      .agg(graft.operators.ThetaSketch.agg(F.col("user_id"), k).as("sk"),
        F.count(F.lit(1)).as("n_events"))
      .select(F.col("w.start").as("window_start"),
        graft.operators.ThetaSketch.estimateCol(F.col("sk"), k).as("theta_users"),
        F.col("sk"), F.col("n_events"))

  /** Stream-stream interval join: each click joined to that user's
    * purchases within the following hour. Both sides are watermarked and
    * the join condition bounds purchase_ts relative to click_ts, so the
    * state store can evict rows once the watermark passes the interval —
    * bounded state on two unbounded streams. */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(F.col("event_type") === "click")
      .select(F.col("user_id"), F.col("ts").as("click_ts"))
      .withWatermark("click_ts", "30 minutes")
    val purchases = events.filter(F.col("event_type") === "purchase")
      .select(F.col("user_id").as("p_user"), F.col("ts").as("purchase_ts"),
        F.col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "30 minutes")
    clicks.join(purchases, F.expr(
      """user_id = p_user AND
        |purchase_ts > click_ts AND
        |purchase_ts <= click_ts + interval 1 hour""".stripMargin))
      .select(F.col("user_id"), F.col("click_ts"), F.col("purchase_ts"),
        F.col("purchase_value"))
  }

  /** Stream-stream interval LEFT OUTER join — the conversion-attribution
    * shape that also SURFACES the non-converting clicks: matched rows
    * emit like the inner join, while a click with no in-window purchase
    * is emitted with NULL purchase columns only once the watermark
    * passes its interval end (before that a match could still arrive —
    * the null row is a statement about a CLOSED window, which is why the
    * outer side needs the same watermark-bounded state as the inner).
    * Same bounded-state eviction as clickPurchaseJoin. */
  def clickPurchaseLeftJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(F.col("event_type") === "click")
      .select(F.col("user_id"), F.col("ts").as("click_ts"))
      .withWatermark("click_ts", "30 minutes")
    val purchases = events.filter(F.col("event_type") === "purchase")
      .select(F.col("user_id").as("p_user"), F.col("ts").as("purchase_ts"),
        F.col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "30 minutes")
    clicks.join(purchases, F.expr(
      """user_id = p_user AND
        |purchase_ts > click_ts AND
        |purchase_ts <= click_ts + interval 1 hour""".stripMargin), "leftOuter")
      .select(F.col("user_id"), F.col("click_ts"), F.col("purchase_ts"),
        F.col("purchase_value"))
  }

  /** File-stream source over a directory of event parquet — the
    * production entry point (readStream → transforms → writeStream). */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    // normalize ts across testdata generations (nanos-as-long /
    // TIMESTAMP_NTZ / TIMESTAMP), same as the batch path (graft.Tables.events).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val raw = spark.readStream.schema(schema).parquet(s"$dir/events.parquet")
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => raw
      case _ => raw.withColumn("ts", F.col("ts").cast("timestamp"))
    }
  }
}
