package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.{Version, VersionedState}

/** STREAMING session funnel — q_session_funnel live: sessionize each
  * user's click/view/purchase stream by a 30-minute inactivity gap and
  * emit the session's strict-contiguous funnel depth when it closes
  * (a later event past the gap, or the event-time timeout).
  *
  * Unlike plain sessionization (O(1) open-session state), the funnel
  * depends on the session's events in FINAL (t, id) order, and events
  * inside one session may arrive out of order within the watermark
  * delay — so the state buffers (t, id, step) triples and sorts at
  * close. A session is emitted ONLY once the watermark passes
  * `end + GapMs`: any still-admissible event has t > watermark, so
  * nothing can merge into (or extend) a session the watermark has
  * cleared, while an earlier "close on the first live event past the
  * gap" rule would let an admissible out-of-order event near a gap
  * boundary split one true session into two. Until then candidate
  * sessions stay buffered (state is bounded by the watermark delay +
  * gap of activity, never stream length); the step string is scored by
  * the same cvp-substring probe as the batch query, so both paths
  * share the contract by construction.
  */
object SessionFunnelStream {

  final case class SfEv(user_id: Long, ts: Timestamp, event_id: Long,
                        event_type: String)
  final case class SessionLevel(user_id: Long, start_ms: Long, end_ms: Long,
                                n_events: Long, level: Long)
  final case class SfState(evs: Seq[(Long, Long, String)])

  val GapMs: Long = 30 * 60 * 1000L

  private def level(evs: Seq[(Long, Long, String)]): SessionLevel = {
    val sorted = evs.sorted
    val seq = sorted.map(_._3).mkString
    val lvl =
      if (seq.contains("cvp")) 3L
      else if (seq.contains("cv")) 2L
      else if (seq.contains("c")) 1L
      else 0L
    SessionLevel(0L, sorted.head._1, sorted.last._1, sorted.size.toLong, lvl)
  }

  def levels(events: DataFrame): Dataset[SessionLevel] = {
    import events.sparkSession.implicits._
    events
      .filter(F.col("event_type").isin("click", "view", "purchase"))
      .withWatermark("ts", "30 minutes")
      .select(F.col("user_id"), F.col("ts"), F.col("event_id"),
        F.col("event_type"))
      .as[SfEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SfState, SessionLevel](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[SfEv], state: GroupState[SfState]) =>
          val wm = state.getCurrentWatermarkMs()
          val arrivals = it.map { e =>
            val st = e.event_type match {
              case "click" => "c"; case "view" => "v"; case _ => "p"
            }
            (e.ts.getTime, e.event_id, st)
          }.toSeq
          val buf = (state.getOption.map(_.evs).getOrElse(Nil) ++ arrivals)
            .sorted
          val sessions =
            buf.foldLeft(Vector.empty[Vector[(Long, Long, String)]]) {
              (acc, ev) =>
                if (acc.nonEmpty && ev._1 - acc.last.last._1 <= GapMs)
                  acc.init :+ (acc.last :+ ev)
                else acc :+ Vector(ev)
            }
          // Final iff the watermark cleared end+gap: every admissible
          // future event has t > wm > end+gap, so it cannot merge here,
          // and anything before the session start is already below wm.
          val (done, pending) =
            sessions.partition(s => wm > s.last._1 + GapMs)
          if (pending.isEmpty) { if (state.exists) state.remove() }
          else {
            state.update(SfState(pending.flatten))
            // earliest pending close; > wm holds since wm <= end+gap
            state.setTimeoutTimestamp(pending.head.last._1 + GapMs + 1)
          }
          done.iterator.map(s => level(s).copy(user_id = user))
      }
  }

  // ── foreachBatch fold (q_session_funnel_inc) ─────────────────────────
  //
  // The DataFrame sibling of [[levels]], maintained through
  // graft.VersionedState: snapshot = the durable per-level session
  // histogram + the still-open event buffer + the marker-carried
  // watermark (JourneyStream's scheme exactly — the buffer's max µs can
  // shrink when sessions close, and an empty pool must keep wm rather
  // than underflow it). Works in MICROSECONDS like the batch
  // q_session_funnel (the streaming variant above keeps ms for its own
  // spec lineage).

  val GapUs: Long = SessionFold.GapUs
  val DefaultDelayMs: Long = SessionFold.DefaultDelayMs

  private val bufSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("us", LongType),
    StructField("event_id", LongType), StructField("st", StringType)))
  private val cntSchema = StructType(Seq(
    StructField("level", LongType), StructField("n_sessions", LongType)))

  /** Per-session funnel level histogram of a
    * [[SessionFold.sessionized]] frame — the identical cvp-substring
    * probe as the batch query. */
  private def levelCounts(sess: DataFrame): DataFrame =
    sess.groupBy("user_id", "sess_idx")
      .agg(F.concat_ws("", F.expr(
        "transform(sort_array(collect_list(struct(us, event_id, st))), x -> x.st)"))
        .as("seq"))
      .select(
        F.when(F.instr(F.col("seq"), "cvp") > 0, 3L)
          .when(F.instr(F.col("seq"), "cv") > 0, 2L)
          .when(F.instr(F.col("seq"), "c") > 0, 1L)
          .otherwise(0L).as("level"))
      .groupBy("level").agg(F.count(F.lit(1)).as("n_sessions"))

  /** Fold one micro-batch into funnel_v{batchId}. Idempotent; arrivals
    * behind the previous watermark drop (they may belong to an
    * already-counted session); an empty pool keeps wm = prevWm. */
  def applyBatch(batch: DataFrame, dir: String, batchId: Long,
                 delayMs: Long = DefaultDelayMs): Unit =
    VersionedState(dir, "funnel").foldTables(batch, batchId)(fold(batch, delayMs))

  private def fold(batch: DataFrame, delayMs: Long)(
      prev: Option[Version], target: Version): String = {
    val s = batch.sparkSession
    val arrivals = batch
      .filter(F.col("event_type").isin("click", "view", "purchase"))
      .select(F.col("user_id").cast("long"),
        F.unix_micros(F.col("ts")).as("us"), F.col("event_id").cast("long"),
        F.when(F.col("event_type") === "click", "c")
          .when(F.col("event_type") === "view", "v")
          .otherwise("p").as("st"))
    def empty(schema: StructType) = s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val (prevCnt, prevBuf, prevWm) = prev match {
      case Some(p) => (
        s.read.schema(cntSchema).parquet(p.table("counts")),
        s.read.schema(bufSchema).parquet(p.table("buf")),
        p.marker(s).trim.toLongOption.getOrElse(Long.MinValue))
      case None => (empty(cntSchema), empty(bufSchema), Long.MinValue)
    }
    val (pool, wm) =
      SessionFold.poolAndWatermark(arrivals, prevBuf, prevWm, delayMs)
    val sess = SessionFold.sessionized(pool).localCheckpoint()
    val closed = sess.filter(F.col("end_us") + GapUs < wm)
    val open = sess.filter(F.col("end_us") + GapUs >= wm)
    val counts = prevCnt.unionByName(levelCounts(closed))
      .groupBy("level").agg(F.sum("n_sessions").as("n_sessions"))
    // the histogram has at most 4 rows (levels 0..3) at ANY scale: one
    // output file, not shuffle.partitions near-empty ones — the fold's
    // snapshot I/O is task-count-bound, not byte-bound (r13 verdict #5)
    // the two state tables are independent plans over the checkpointed
    // sessions — write them concurrently (guide §2.6); the marker still
    // gates on both having landed, and carries the watermark
    graft.Par.jobs(
      () => counts.coalesce(1)
        .write.mode("overwrite").parquet(target.table("counts")),
      () => open.select("user_id", "us", "event_id", "st")
        .write.mode("overwrite").parquet(target.table("buf")))
    wm.toString
  }

  /** The maintained funnel histogram in q_session_funnel's output shape:
    * durable counts + an on-the-fly fold of the still-open buffer
    * (MarkovSink.read's residual-tail rule), so the served answer equals
    * the batch query over everything received. */
  def readLevels(spark: SparkSession, dir: String): DataFrame =
    VersionedState(dir, "funnel").latest(spark) match {
      case Some(p) =>
        val durable = spark.read.schema(cntSchema).parquet(p.table("counts"))
        val buf = spark.read.schema(bufSchema).parquet(p.table("buf"))
        durable.unionByName(levelCounts(SessionFold.sessionized(buf)))
          .groupBy("level").agg(F.sum("n_sessions").as("n_sessions"))
      case None => // keep the (level, n_sessions) schema even pre-snapshot
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], cntSchema)
    }
}
