package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{functions => F}

import graft.VersionedState

/** STREAMING session funnel — q_session_funnel live: sessionize each
  * user's click/view/purchase stream by a 30-minute inactivity gap and
  * count each closed session's strict-contiguous funnel depth.
  *
  * The live form is [[start]]: a foreachBatch query whose micro-batches
  * fold through [[SessionFold.fold]] (µs-exact, the batch
  * q_session_funnel's rule). The funnel depends on the session's events
  * in FINAL (t, id) order, and events inside one session may arrive out
  * of order within the watermark delay — so a session is counted ONLY
  * once the watermark passes `end + GapUs`: any still-admissible event
  * has t > watermark, so nothing can merge into (or extend) a session the
  * watermark has cleared, while a "close on the first live event past
  * the gap" rule would let an admissible out-of-order event near a gap
  * boundary split one true session into two. Until then the session's
  * events stay in the open buffer (bounded by the watermark delay + gap
  * of activity, never stream length).
  *
  * Snapshot = the durable per-level session histogram ("counts") + the
  * open buffer + the marker-carried watermark; [[readLevels]] folds the
  * open tail on the fly, so the served answer equals the batch query
  * over everything received.
  */
object SessionFunnelStream {

  private val bufSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("us", LongType),
    StructField("event_id", LongType), StructField("st", StringType)))
  private val cntSchema = StructType(Seq(
    StructField("level", LongType), StructField("n_sessions", LongType)))

  /** Start maintenance: events must carry (user_id, ts, event_id,
    * event_type). */
  def start(events: DataFrame, dir: String): StreamingQuery =
    VersionedState.start(events)(applyBatch(_, dir, _))

  /** The funnel's steps: click/view/purchase events as (user_id, us,
    * event_id, st) with st ∈ {c, v, p}. */
  private[graft] def steps(events: DataFrame): DataFrame =
    events
      .filter(F.col("event_type").isin("click", "view", "purchase"))
      .select(F.col("user_id").cast("long"),
        F.unix_micros(F.col("ts")).as("us"), F.col("event_id").cast("long"),
        F.when(F.col("event_type") === "click", "c")
          .when(F.col("event_type") === "view", "v")
          .otherwise("p").as("st"))

  /** Per-session funnel level histogram (level, n_sessions) of a
    * [[SessionFold.sessionized]] frame of [[steps]]: each session's
    * (us, event_id)-ordered step string probed for cvp / cv / c. */
  private[graft] def levelCounts(sess: DataFrame): DataFrame =
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
    * already-counted session). */
  def applyBatch(batch: DataFrame, dir: String, batchId: Long): Unit =
    VersionedState(dir, "funnel").foldTables(batch, batchId) { (prev, target) =>
      SessionFold.fold(steps(batch), bufSchema, prev, target) { closed =>
        val s = batch.sparkSession
        val prevCnt = prev.fold(SessionFold.empty(s, cntSchema))(p =>
          s.read.schema(cntSchema).parquet(p.table("counts")))
        // the histogram has at most 4 rows (levels 0..3) at ANY scale: one
        // output file, not shuffle.partitions near-empty ones — the fold's
        // snapshot I/O is task-count-bound, not byte-bound
        prevCnt.unionByName(levelCounts(closed))
          .groupBy("level").agg(F.sum("n_sessions").as("n_sessions"))
          .coalesce(1).write.mode("overwrite").parquet(target.table("counts"))
      }
    }

  /** The maintained funnel histogram in q_session_funnel's output shape:
    * durable counts + the open tail's levels. */
  def readLevels(spark: SparkSession, dir: String): DataFrame =
    VersionedState(dir, "funnel").latest(spark) match {
      case Some(p) =>
        spark.read.schema(cntSchema).parquet(p.table("counts"))
          .unionByName(levelCounts(SessionFold.openSessions(spark, p, bufSchema)))
          .groupBy("level").agg(F.sum("n_sessions").as("n_sessions"))
      case None => // keep the (level, n_sessions) schema even pre-snapshot
        SessionFold.empty(spark, cntSchema)
    }
}
