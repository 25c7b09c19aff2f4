package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{functions => F}

import graft.VersionedState

/** STREAMING session journeys — q_journey live: sessionize each user's
  * event stream by the 30-minute inactivity gap and count each closed
  * session's journey path (its first three event types in final (t, id)
  * order, joined 'a>b>c').
  *
  * All ordering and gap arithmetic is in MICROSECONDS — the exact
  * contract of the batch q_journey (this corpus's event timestamps are
  * sub-millisecond almost everywhere, so a millisecond-rounded sort or
  * gap test can split or merge sessions differently than the oracle).
  *
  * The live form is [[start]]: a foreachBatch query whose micro-batches
  * fold through [[SessionFold.fold]] — a session is final ONLY once the
  * watermark passes `end + GapUs` (a close-on-live-arrival rule would let
  * an admissible out-of-order event near a gap boundary split one true
  * session in two and corrupt its path prefix), and the closed sessions'
  * paths feed TopKSink (termCol = "path"), which maintains the
  * stream-lifetime top journeys — exact whenever lifetime distinct paths
  * ≤ the sketch capacity (journey alphabets are tiny: ≤ |types|³
  * distinct paths), Misra-Gries-bounded otherwise. q_journey_inc gates
  * the whole composition under q_journey's batch oracle.
  */
object JourneyStream {

  private val bufSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("us", LongType),
    StructField("event_id", LongType), StructField("event_type", StringType)))

  /** Start the composed maintenance: per micro-batch, fold sessions
    * (journey state under `dir`) and feed the batch's closed paths to
    * TopKSink under `topkDir`. */
  def start(events: DataFrame, dir: String, topkDir: String,
            capacity: Int = 512): StreamingQuery =
    VersionedState.start(events)(applyBatch(_, dir, _, topkDir, capacity))

  /** One 'a>b>c' path row per session of a [[SessionFold.sessionized]]
    * frame. */
  private[graft] def pathsOf(sess: DataFrame): DataFrame = {
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
    * paths to TopKSink. Idempotent (both folds skip replayed ids). */
  def applyBatch(batch: DataFrame, dir: String, batchId: Long,
                 topkDir: String, capacity: Int = 512): Unit = {
    val arrivals = batch.select(F.col("user_id").cast("long"),
      F.unix_micros(F.col("ts")).as("us"), F.col("event_id").cast("long"),
      F.col("event_type"))
    VersionedState(dir, "journey").foldTables(batch, batchId) { (prev, target) =>
      SessionFold.fold(arrivals, bufSchema, prev, target) { closed =>
        TopKSink.applyBatch(pathsOf(closed), topkDir, batchId, capacity, "path")
      }
    }
  }

  /** The maintained top journeys in q_journey's output shape: TopKSink's
    * closed-session counts merged with the open tail's paths, so the
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
        pathsOf(SessionFold.openSessions(spark, p, bufSchema))
          .groupBy("path").agg(F.count(F.lit(1)).as("n_sess"))
      case None => closed.limit(0)
    }
    closed.unionByName(tail)
      .groupBy("path").agg(F.sum("n_sess").as("n_sess"))
      .orderBy(F.col("n_sess").desc, F.col("path").asc)
      .limit(k)
  }
}
