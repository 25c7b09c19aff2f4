package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{functions => F}

import graft.VersionedState
import graft.operators.BitmapDistinct

/** Incrementally-maintained DAU/WAU/MAU — q_active_users' documented
  * scale path made live: the maintained state is ONE Roaring bitmap of
  * user ids PER DAY (exact distinct sets, compressed), each micro-batch
  * folds as bitmap-build of the batch OR-merged with the previous
  * snapshot per day, and the read derives every rolling window by
  * OR-merging 7/28 daily bitmaps — no raw history is ever re-read, and
  * a day's state size is the compressed user set, independent of event
  * volume. Exactly-once and retention are [[graft.VersionedState]]'s.
  */
object ActiveUsersSink {

  /** Start maintenance: events must carry (user_id, ts). */
  def start(events: DataFrame, dir: String): StreamingQuery =
    VersionedState.start(events)(applyBatch(_, dir, _))

  /** Fold one micro-batch into days_v{batchId}. Idempotent. */
  def applyBatch(batch: DataFrame, dir: String, batchId: Long): Unit =
    VersionedState(dir, "days").fold(batch, batchId) { prev =>
      val partial = batch
        .select(F.expr("unix_micros(ts) div 86400000000").as("day"),
          F.col("user_id"))
        .groupBy("day")
        .agg(BitmapDistinct.buildAgg(F.col("user_id")).as("bm"))
      prev.fold(partial)(p => batch.sparkSession.read.parquet(p.path)
        .unionByName(partial)
        .groupBy("day").agg(BitmapDistinct.orAgg(F.col("bm")).as("bm")))
    }

  /** The maintained rolling counts: per day present in the state,
    * DAU / WAU (7-day) / MAU (28-day) — each window an OR-merge of the
    * daily bitmaps, bitmap algebra only. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val days = VersionedState(dir, "days").latest(spark) match {
      case Some(p) => spark.read.parquet(p.path)
      case None => return spark.emptyDataFrame
    }
    val present = days.select(F.col("day").as("d")).distinct()
    def rolling(win: Int, name: String) = days
      .withColumn("d", F.explode(F.expr(s"sequence(day, day + ${win - 1})")))
      .join(present, "d")
      .groupBy("d")
      .agg(BitmapDistinct.cardinality(
        BitmapDistinct.orAgg(F.col("bm"))).as(name))
    val dau = days.select(F.col("day").as("d"),
      BitmapDistinct.cardinality(F.col("bm")).as("dau"))
    dau.join(rolling(7, "wau"), "d").join(rolling(28, "mau"), "d")
  }

  /** The maintained COHORT-RETENTION matrix (q_cohort_matrix live) from
    * the same per-day bitmap state — no second maintenance query:
    * weekly bitmaps OR-fold the 7 member days (epoch-week = day div 7
    * exactly), "first seen in week w" = w's bitmap AND NOT the OR of all
    * earlier weeks (bitmap_andnot keeps it set algebra), and every cell
    * (cohort, offset) is one AND-cardinality of two weekly bitmaps. All
    * joins/fan-outs are |weeks|² — calendar-bounded, never user- or
    * event-bounded; per-week state is one compressed user set. */
  def cohortRead(spark: SparkSession, dir: String): DataFrame = {
    val days = VersionedState(dir, "days").latest(spark) match {
      case Some(p) => spark.read.parquet(p.path)
      case None => return spark.emptyDataFrame
    }
    val wk = days.withColumn("wk", F.expr("day div 7"))
      .groupBy("wk").agg(BitmapDistinct.orAgg(F.col("bm")).as("wbm"))
      .localCheckpoint()
    val prior = wk.select(F.col("wk").as("pw"), F.col("wbm").as("pbm"))
    // left join: the earliest week has no priors — orAgg skips the null
    // and yields the EMPTY bitmap, so andNot passes wbm through unchanged
    val newbm = wk.join(prior, F.col("pw") < F.col("wk"), "left")
      .groupBy(F.col("wk").as("cw"), F.col("wbm"))
      .agg(BitmapDistinct.orAgg(F.col("pbm")).as("pall"))
      .select(F.col("cw"),
        BitmapDistinct.andNot(F.col("wbm"), F.col("pall")).as("nbm"))
    val cells = newbm.join(wk, F.col("wk") >= F.col("cw"))
      .select(F.col("cw"), (F.col("wk") - F.col("cw")).as("off"),
        BitmapDistinct.andCardinality(F.col("nbm"), F.col("wbm")).as("n_users"))
      .filter(F.col("n_users") > 0L)
    val base = cells.filter(F.col("off") === 0L)
      .select(F.col("cw"), F.col("n_users").as("cohort_size"))
    cells.join(base, "cw")
      .select(F.col("cw").as("cohort_week"), F.col("off"), F.col("n_users"),
        F.col("cohort_size"),
        F.expr("n_users * 1000000 div cohort_size").as("ret_ppm"))
  }
}
