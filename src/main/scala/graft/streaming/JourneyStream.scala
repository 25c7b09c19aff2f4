package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{functions => F}

import graft.{Version, VersionedState}

/** STREAMING session journeys — q_journey live: sessionize each user's
  * event stream by the 30-minute inactivity gap and emit the session's
  * journey path (its first three event types in final (t, id) order,
  * joined 'a>b>c') when the session closes.
  *
  * All ordering and gap arithmetic is in MICROSECONDS — the exact
  * contract of the batch q_journey (this corpus's event timestamps are
  * sub-millisecond almost everywhere, so a millisecond-rounded sort or
  * gap test can split or merge sessions differently than the oracle).
  *
  * Emission follows SessionFunnelStream's watermark-gated rule: a
  * session is final ONLY once the watermark passes `end + GapUs` —
  * a close-on-live-arrival rule would let an admissible out-of-order
  * event near a gap boundary split one true session in two (and corrupt
  * its path prefix). Candidate sessions buffer in state bounded by the
  * watermark delay + gap of activity, never stream length.
  *
  * Composition: piping the emitted paths through TopKSink (termCol =
  * "path") maintains the stream-lifetime top journeys — the live
  * version of the q_journey top-20 — exact whenever lifetime distinct
  * paths ≤ the sketch capacity (journey alphabets are tiny: ≤ |types|³
  * distinct paths), Misra-Gries-bounded otherwise. [[applyBatch]] is
  * the foreachBatch-driven DataFrame fold of the same close rule
  * (buffer + derived watermark snapshots, the MarkovSink shape) that
  * [[start]] wires to feed TopKSink per micro-batch; q_journey_inc
  * gates the whole composition under q_journey's batch oracle.
  */
object JourneyStream {

  final case class JEv(user_id: Long, ts: Timestamp, event_id: Long,
                       event_type: String)
  final case class SessionPath(user_id: Long, start_us: Long, end_us: Long,
                               n_events: Long, path: String)
  final case class JState(evs: Seq[(Long, Long, String)])

  val GapMs: Long = SessionFold.GapMs
  val GapUs: Long = SessionFold.GapUs

  /** Watermark delay for the applyBatch fold (the readStream variant
    * inherits Spark's own `withWatermark` 30 minutes). */
  val DefaultDelayMs: Long = SessionFold.DefaultDelayMs

  /** Timestamp → epoch micros (getTime is ms-rounded; the µs live in
    * getNanos). */
  private def usOf(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  def paths(events: DataFrame): Dataset[SessionPath] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "30 minutes")
      .select(F.col("user_id"), F.col("ts"), F.col("event_id"),
        F.col("event_type"))
      .as[JEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[JState, SessionPath](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[JEv], state: GroupState[JState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val arrivals = it.map(e => (usOf(e.ts), e.event_id, e.event_type)).toSeq
          val buf = (state.getOption.map(_.evs).getOrElse(Nil) ++ arrivals).sorted
          val sessions =
            buf.foldLeft(Vector.empty[Vector[(Long, Long, String)]]) {
              (acc, ev) =>
                if (acc.nonEmpty && ev._1 - acc.last.last._1 <= GapUs)
                  acc.init :+ (acc.last :+ ev)
                else acc :+ Vector(ev)
            }
          // final iff the watermark cleared end+gap (see scaladoc)
          val (done, pending) =
            sessions.partition(s => wmUs > s.last._1 + GapUs)
          if (pending.isEmpty) { if (state.exists) state.remove() }
          else {
            state.update(JState(pending.flatten))
            // timeout is in ms; round UP so it never fires before wmUs
            // actually clears the earliest pending close
            state.setTimeoutTimestamp(
              math.floorDiv(pending.head.last._1 + GapUs, 1000L) + 2L)
          }
          done.iterator.map { s =>
            SessionPath(user, s.head._1, s.last._1, s.size.toLong,
              s.take(3).map(_._3).mkString(">"))
          }
      }
  }

  private val bufSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("us", LongType),
    StructField("event_id", LongType), StructField("event_type", StringType)))

  /** Start the composed maintenance: per micro-batch, fold sessions
    * (journey state under `dir`) and feed the batch's closed paths to
    * TopKSink under `topkDir`. */
  def start(events: DataFrame, dir: String, topkDir: String,
            capacity: Int = 512,
            delayMs: Long = DefaultDelayMs): StreamingQuery =
    VersionedState.start(events)(
      applyBatch(_, dir, _, topkDir, capacity, delayMs))

  /** One 'a>b>c' path row per session of a [[SessionFold.sessionized]]
    * frame. */
  private def pathsOf(sess: DataFrame): DataFrame = {
    val bySess = Window.partitionBy("user_id", "sess_idx")
      .orderBy(F.col("us").asc, F.col("event_id").asc)
    sess.withColumn("rn", F.row_number().over(bySess))
      .filter(F.col("rn") <= 3)
      .groupBy("user_id", "sess_idx")
      .agg(
        F.min(F.when(F.col("rn") === 1, F.col("event_type"))).as("s1"),
        F.min(F.when(F.col("rn") === 2, F.col("event_type"))).as("s2"),
        F.min(F.when(F.col("rn") === 3, F.col("event_type"))).as("s3"))
      .select(F.concat_ws(">", F.col("s1"), F.col("s2"), F.col("s3")).as("path"))
  }

  /** Fold one micro-batch into journey_v{batchId} and feed the closed
    * paths to TopKSink. Idempotent (both folds skip replayed ids).
    *
    * State per snapshot: the still-open event buffer plus the
    * high-watermark (the version marker's text — the buffer's max µs can
    * shrink when sessions close, so the watermark needs its own carry).
    * A session closes once `wm > end + GapUs` with
    * wm = max(µs seen) − delay: any admissible
    * future event has t ≥ wm > end + gap, so nothing can extend or
    * merge into it — the same rule as the flatMapGroupsWithState
    * variant, so both paths share the oracle by construction. Arrivals
    * behind the PREVIOUS watermark are dropped (they may belong to an
    * already-emitted session); in-order replays drop nothing. An EMPTY
    * pool keeps wm = prevWm (the watermark only moves when a max
    * exists — deriving it from a defaulted Long.MinValue max would
    * underflow to ~+2⁶³ and seal the stream forever). */
  def applyBatch(batch: DataFrame, dir: String, batchId: Long,
                 topkDir: String, capacity: Int = 512,
                 delayMs: Long = DefaultDelayMs): Unit =
    VersionedState(dir, "journey").foldTables(batch, batchId)(
      fold(batch, batchId, topkDir, capacity, delayMs))

  private def fold(batch: DataFrame, batchId: Long, topkDir: String,
                   capacity: Int, delayMs: Long)(
      prev: Option[Version], target: Version): String = {
    val s = batch.sparkSession
    val arrivals = batch.select(F.col("user_id").cast("long"),
      F.unix_micros(F.col("ts")).as("us"), F.col("event_id").cast("long"),
      F.col("event_type"))
    val (prevBuf, prevWm) = prev match {
      case Some(p) => (
        s.read.schema(bufSchema).parquet(p.table("buf")),
        p.marker(s).trim.toLongOption.getOrElse(Long.MinValue))
      case None => (
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          bufSchema), Long.MinValue)
    }
    val (pool, wm) =
      SessionFold.poolAndWatermark(arrivals, prevBuf, prevWm, delayMs)
    val sess = SessionFold.sessionized(pool).localCheckpoint()
    val closed = sess.filter(F.col("end_us") + GapUs < wm)
    val open = sess.filter(F.col("end_us") + GapUs >= wm)
    // the top-k fold and the buffer flush are independent plans over the
    // checkpointed sessions — overlap them (guide §2.6); the marker
    // still gates on both, and carries the watermark
    graft.Par.jobs(
      () => TopKSink.applyBatch(pathsOf(closed), topkDir, batchId, capacity,
        "path"),
      () => open.select("user_id", "us", "event_id", "event_type")
        .write.mode("overwrite").parquet(target.table("buf")))
    wm.toString
  }

  /** The maintained top journeys in q_journey's output shape: TopKSink's
    * closed-session counts merged with an on-the-fly session fold of the
    * still-open buffer (MarkovSink.read's residual-tail rule), so the
    * served answer equals the batch q_journey over everything received
    * while the durable top-k only ever holds seal-finalized sessions.
    * Exact whenever lifetime distinct paths ≤ the TopKSink capacity
    * (journey alphabets are ≤ |types|+|types|²+|types|³). */
  def readTop(spark: SparkSession, dir: String, topkDir: String,
              k: Int = 20): DataFrame = {
    val journey = VersionedState(dir, "journey").latest(spark)
    // batch b's top-k fold lands before journey_v<b>'s marker: read the
    // top-k at the journey's version, never past it (retention keeps it)
    val closed = TopKSink.read(spark, topkDir, journey.fold(-1L)(_.id))
      .select(F.col("term").as("path"), F.col("w").as("n_sess"))
    val tail = journey match {
      case Some(p) =>
        val buf = spark.read.schema(bufSchema).parquet(p.table("buf"))
        pathsOf(SessionFold.sessionized(buf))
          .groupBy("path").agg(F.count(F.lit(1)).as("n_sess"))
      case None => closed.limit(0)
    }
    closed.unionByName(tail)
      .groupBy("path").agg(F.sum("n_sess").as("n_sess"))
      .orderBy(F.col("n_sess").desc, F.col("path").asc)
      .limit(k)
  }
}
