package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{functions => F}

import graft.Version

/** The 30-minute session rule and the open-buffer fold, once: the batch
  * session entries (q_sessionize, q_journey, q_bounce_rate,
  * q_session_funnel) sessionize through [[sessionized]], and the two
  * maintained session surfaces (JourneyStream, SessionFunnelStream)
  * fold each micro-batch through [[fold]] and serve their open tail
  * through [[openSessions]]. A surface keeps only its arrivals
  * projection and what it does with closed sessions. */
private[graft] object SessionFold {

  val GapMs: Long = 30 * 60 * 1000L
  val GapUs: Long = GapMs * 1000L
  /** The watermark delay: wm = max(µs seen) − DelayMs. */
  val DelayMs: Long = GapMs

  /** q_sessionize's exact spelling over a (user_id, us, event_id, ...)
    * frame: per-user µs-exact (us, event_id) order, 30-min gap fold,
    * per-row sess_idx + the session's constant end_us (so a closed/open
    * split keeps sessions atomic; a plan that never reads end_us prunes
    * its window). Payload columns pass through untouched. */
  def sessionized(pool: DataFrame): DataFrame = {
    val byU = Window.partitionBy("user_id")
      .orderBy(F.col("us").asc, F.col("event_id").asc)
    pool
      .withColumn("prev_us", F.lag("us", 1).over(byU))
      .withColumn("new_sess",
        F.when(F.col("prev_us").isNull ||
          F.col("us") - F.col("prev_us") > GapUs, 1L).otherwise(0L))
      .withColumn("sess_idx", F.sum("new_sess").over(
        byU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("end_us", F.max("us").over(
        Window.partitionBy("user_id", "sess_idx")))
  }

  def empty(s: SparkSession, schema: StructType): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)

  /** Fold one micro-batch's `arrivals` (rows of `bufSchema`) onto `prev`
    * into version `target`; returns the marker text (the watermark).
    *
    * State per version: the still-open event buffer (table "buf") plus
    * the watermark carried in the marker — the buffer's max µs can
    * shrink when sessions close, so the watermark needs its own carry.
    * A session closes once `wm > end + GapUs` with wm = max(µs seen) −
    * DelayMs: any admissible future event has t ≥ wm > end + gap, so
    * nothing can extend or merge into it. `closedFold` gets the closed
    * sessions (a [[sessionized]] frame) and writes the surface's own
    * tables of `target`, concurrently with the buffer; the
    * marker still gates on both. */
  def fold(arrivals: DataFrame, bufSchema: StructType,
           prev: Option[Version], target: Version)(
      closedFold: DataFrame => Unit): String = {
    val s = arrivals.sparkSession
    val (prevBuf, prevWm) = prev match {
      case Some(p) => (
        s.read.schema(bufSchema).parquet(p.table("buf")),
        p.marker(s).trim.toLongOption.getOrElse(Long.MinValue))
      case None => (empty(s, bufSchema), Long.MinValue)
    }
    val (pool, wm) = poolAndWatermark(arrivals, prevBuf, prevWm)
    val sess = sessionized(pool).localCheckpoint()
    graft.Par.jobs(
      () => closedFold(sess.filter(F.col("end_us") + GapUs < wm)),
      () => sess.filter(F.col("end_us") + GapUs >= wm)
        .select(bufSchema.fieldNames.map(F.col).toSeq: _*)
        .write.mode("overwrite").parquet(target.table("buf")))
    wm.toString
  }

  /** The open tail of version `v`: its buffer, sessionized — what a read
    * folds on the fly beside the surface's durable closed-session state
    * (MarkovSink.read's residual-tail rule). */
  def openSessions(s: SparkSession, v: Version, bufSchema: StructType): DataFrame =
    sessionized(s.read.schema(bufSchema).parquet(v.table("buf")))

  /** Pool the batch's fresh arrivals (at or ahead of the PREVIOUS
    * watermark — older ones may belong to already-emitted sessions)
    * with the carried buffer, and derive the new watermark
    * wm = max(prevWm, max(us) − DelayMs). An EMPTY pool KEEPS prevWm:
    * deriving from a defaulted Long.MinValue max would underflow to
    * ~+2⁶³ and seal the stream forever. One bounded MAX row reaches
    * the driver. */
  private def poolAndWatermark(arrivals: DataFrame, prevBuf: DataFrame,
                               prevWm: Long): (DataFrame, Long) = {
    // lazy checkpoint: the max aggregate right below materializes the
    // cache — one job per micro-batch instead of two
    val pool = arrivals.filter(F.col("us") >= prevWm)
      .unionByName(prevBuf).localCheckpoint(false)
    val maxUsOpt = Option(pool.agg(F.max("us")).collect()(0).get(0))
      .map(_.asInstanceOf[Long])
    val wm = maxUsOpt.map(m => math.max(prevWm, m - DelayMs * 1000L))
      .getOrElse(prevWm)
    (pool, wm)
  }
}
