package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{functions => F}

import graft.{Version, VersionedState}

/** Incrementally-maintained event-type TRANSITION MATRIX — q_markov
  * live: an unbounded event stream keeps the per-(event_type,
  * next_type) consecutive-pair counts current without re-reading
  * history.
  *
  * State per snapshot = THREE mergeable tables: the pair counts
  * (|types|² rows), each user's last SEALED event (one row per user —
  * the carry that stitches a pair across the seal frontier), and a
  * WATERMARK BUFFER of events the stream-derived watermark has not yet
  * sealed (bounded by the delay window of activity, never stream
  * length). A micro-batch folds as: drop arrivals at or behind the
  * user's sealed frontier (beyond-watermark late — counted nowhere
  * rather than miscounted), pool the rest with the buffer, seal
  * everything older than `max(tu) − delay`, window-lead over
  * (stored last ∪ sealed) per user and add pairs whose successor is
  * newly sealed, advance the per-user last rows, persist the still-open
  * remainder as the next buffer.
  *
  * Sealing is what makes cross-batch OUT-OF-ORDER arrivals safe (the
  * pre-r8 gap): an event disordered by ≤ delay arrives while its true
  * neighbors are still buffered, so the sort places it correctly before
  * any pair involving it is counted — the same buffered-watermark
  * pattern as SessionFunnelStream. The GLOBAL max never seals
  * (tu_max < tu_max − delay is false), so the pooled buffer is never
  * empty once non-empty and the watermark derived from it is monotone
  * with no extra state; a USER's max event does seal whenever another
  * user advances the watermark past it — per-user correctness then
  * rests on the sealed-frontier drop, not on any per-user buffering.
  * [[read]] folds
  * the residual buffer on the fly, so the served matrix equals the
  * batch q_markov answer over everything received, while the durable
  * pair counts only ever contain seal-finalized history.
  *
  * Exactly-once and retention are [[graft.VersionedState]]'s: a
  * version's marker lands only after all three state tables.
  */
object MarkovSink {

  /** Watermark delay: arrivals disordered by at most this are exact. */
  val DefaultDelayMs: Long = 30 * 60 * 1000L

  private val pairSchema = StructType(Seq(
    StructField("event_type", StringType), StructField("next_type", StringType),
    StructField("n", LongType)))
  private val evSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("tu", LongType),
    StructField("event_id", LongType), StructField("event_type", StringType)))

  /** Start maintenance: events must carry (user_id, ts, event_id,
    * event_type). */
  def start(events: DataFrame, dir: String,
            delayMs: Long = DefaultDelayMs): StreamingQuery =
    VersionedState.start(events)(applyBatch(_, dir, _, delayMs))

  private def empty(s: SparkSession, schema: StructType): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Pairs whose SUCCESSOR is in the `is_new` stratum of `union`:
    * within-stratum consecutive pairs plus the per-user boundary pair
    * off the is_new=false carry row. */
  private def foldPairs(union: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(F.col("tu").asc, F.col("event_id").asc)
    union
      .withColumn("next_type", F.lead("event_type", 1).over(w))
      .withColumn("next_new", F.lead("is_new", 1).over(w))
      .filter(F.col("next_type").isNotNull && F.col("next_new"))
      .groupBy("event_type", "next_type").agg(F.count(F.lit(1)).as("n"))
  }

  /** Fold one micro-batch into markov_v{batchId}. Idempotent. */
  def applyBatch(batch: DataFrame, dir: String, batchId: Long,
                 delayMs: Long = DefaultDelayMs): Unit =
    VersionedState(dir, "markov").foldTables(batch, batchId)(fold(batch, delayMs))

  private def fold(batch: DataFrame, delayMs: Long)(
      prev: Option[Version], target: Version): String = {
    val s = batch.sparkSession
    val arrivals = batch.select(F.col("user_id").cast("long"),
      F.unix_micros(F.col("ts")).as("tu"), F.col("event_id").cast("long"),
      F.col("event_type"))
    val (prevPairs, prevLast, prevBuf) = prev match {
      case Some(p) => (
        s.read.schema(pairSchema).parquet(p.table("pairs")),
        s.read.schema(evSchema).parquet(p.table("last")),
        s.read.schema(evSchema).parquet(p.table("buf")))
      case None =>
        (empty(s, pairSchema), empty(s, evSchema), empty(s, evSchema))
    }
    // beyond-watermark late: at or behind the user's sealed frontier —
    // dropping (standard watermark semantics) beats folding it BEFORE
    // the carry row, which would both lose its boundary pair and
    // miscount the carry's true successor
    val frontier = prevLast.select(F.col("user_id"),
      F.col("tu").as("f_tu"), F.col("event_id").as("f_id"))
    val fresh = arrivals.join(frontier, Seq("user_id"), "left")
      .filter(F.col("f_tu").isNull || F.col("tu") > F.col("f_tu") ||
        (F.col("tu") === F.col("f_tu") && F.col("event_id") > F.col("f_id")))
      .drop("f_tu", "f_id")
    // lazy checkpoint: the max aggregate right below materializes the
    // cache — one job per micro-batch instead of two
    val pool = fresh.unionByName(prevBuf).localCheckpoint(false)
    // bounded reduction: one MAX row to the driver
    val maxTu = Option(pool.agg(F.max("tu")).collect()(0).get(0))
      .map(_.asInstanceOf[Long])
    val wm = maxTu.map(_ - delayMs * 1000L).getOrElse(Long.MinValue)
    val sealedEv = pool.filter(F.col("tu") < wm)
    val buf = pool.filter(F.col("tu") >= wm)
    val union = sealedEv.withColumn("is_new", F.lit(true))
      .unionByName(prevLast.withColumn("is_new", F.lit(false)))
    val pairs = prevPairs.unionByName(foldPairs(union))
      .groupBy("event_type", "next_type").agg(F.sum("n").as("n"))
    // per-user newest event via max-over-struct: (tu, event_id) is unique
    // per user, so max(struct(tu, event_id, event_type)) picks exactly the
    // row the desc row_number window picked — as a partial-aggregatable
    // groupBy (map-side combine, no window SORT; guide §2.3)
    val last = union
      .groupBy("user_id")
      .agg(F.max(F.struct(F.col("tu"), F.col("event_id"),
        F.col("event_type"))).as("m"))
      .select(F.col("user_id"), F.col("m.tu").as("tu"),
        F.col("m.event_id").as("event_id"),
        F.col("m.event_type").as("event_type"))
    // the three state tables are independent plans over the checkpointed
    // pool — write them concurrently (guide §2.6); the completeness
    // marker still gates on ALL three having landed
    graft.Par.jobs(
      () => pairs.write.mode("overwrite").parquet(target.table("pairs")),
      () => last.write.mode("overwrite").parquet(target.table("last")),
      () => buf.write.mode("overwrite").parquet(target.table("buf")))
    ""
  }

  /** The maintained matrix, row-normalized exactly like q_markov. The
    * still-buffered (unsealed) tail is folded on the fly — the durable
    * counts never include it, but the served answer does, so reads are
    * exact over everything received, not everything sealed. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val pairs = VersionedState(dir, "markov").latest(spark) match {
      case Some(p) =>
        val durable = spark.read.schema(pairSchema).parquet(p.table("pairs"))
        val last = spark.read.schema(evSchema).parquet(p.table("last"))
        val buf = spark.read.schema(evSchema).parquet(p.table("buf"))
        val tail = foldPairs(buf.withColumn("is_new", F.lit(true))
          .unionByName(last.withColumn("is_new", F.lit(false))))
        durable.unionByName(tail)
          .groupBy("event_type", "next_type").agg(F.sum("n").as("n"))
      case None => return spark.emptyDataFrame
    }
    val rowTot = pairs.groupBy("event_type").agg(F.sum("n").as("rt"))
    pairs.join(F.broadcast(rowTot), "event_type")
      .select(F.col("event_type"), F.col("next_type"), F.col("n"),
        F.expr("(1000000 * n) div rt").as("p_ppm"))
  }
}
