package graft.olap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}

import graft.{ScenarioDirs, Tables}
import graft.streaming.{JourneyStream, SessionFold}

/** Business-analytics staples of the ClickHouse deployment surface that
  * were still missing from §2C: revenue concentration (Pareto/ABC),
  * time-to-convert distribution, top session journeys, and the Theil–Sen
  * robust trend slope. Every query is exact BIGINT end to end (cents /
  * epoch seconds / ppm floor-divs) so the DuckDB oracle compares
  * bit-for-bit, and every heavy window is partitioned by a key whose
  * per-partition row count is bounded by something other than data volume
  * (value-range buckets, the calendar, or a per-user stream).
  */
object OlapBizQueries {
  type Q = (SparkSession, String) => DataFrame

  private def cents(c: org.apache.spark.sql.Column) =
    (Tables.dec2(c) * 100).cast("long")

  /** q_pareto: revenue concentration over customers — how many customers
    * produce 50/80/90% of revenue, and what share the top 1%/10% hold
    * (the ABC / 80-20 dashboard ClickHouse analysts build from
    * `sum() OVER (ORDER BY rev DESC)`). The naive spelling is ONE global
    * ordered window over all customers — a single-task sort at scale —
    * so this uses the q_concurrency two-level exact prefix sum instead:
    * customers bucket by a $10k revenue range (bucket order refines
    * revenue order, ties never cross buckets), each bucket computes its
    * local prefix in parallel, and a bucket-level carry (|value range| /
    * $10k rows — bounded by the price domain, NOT by customer count) is
    * broadcast back. cum(c) = carry(bucket) + local(c) by associativity.
    * The ppm terms run in DECIMAL(38,0) (cum×1e6 would overflow BIGINT
    * past ~sf40's ~9.2e12 total cents); everything else stays BIGINT —
    * the percent-threshold products cum×100 hold to ~sf400k. Output
    * columns remain BIGINT (the div). Per-product headroom: SURVEY §5. */
  def qPareto(s: SparkSession, dir: String): DataFrame =
    concentrate(Tables(s, dir, "orders")
      .groupBy(F.col("o_custkey"))
      .agg(F.sum(cents(F.col("o_totalprice"))).as("rc")))

  /** The concentration fold over a (o_custkey, rc) per-customer revenue
    * frame — shared by the batch entry and the ParetoSink-maintained
    * q_pareto_inc read. */
  def concentrate(perCust: DataFrame): DataFrame = {
    val rc = perCust.withColumn("bkt", F.expr("rc div 1000000"))
    // bucket-level exclusive prefix (carry): tiny (price-domain bounded)
    val carryW = Window.partitionBy(F.pmod(F.col("bkt"), F.lit(1)))
      .orderBy(F.col("bkt").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = rc.groupBy("bkt")
      .agg(F.sum("rc").as("bsum"), F.count(F.lit(1)).as("bn"))
      .withColumn("csum", F.coalesce(F.sum("bsum").over(carryW), F.lit(0L)))
      .withColumn("cn", F.coalesce(F.sum("bn").over(carryW), F.lit(0L)))
      .select("bkt", "csum", "cn")
    val localW = Window.partitionBy("bkt")
      .orderBy(F.col("rc").desc, F.col("o_custkey").asc)
    val tot = rc.agg(F.sum("rc").as("total_c"), F.count(F.lit(1)).as("nc"))
    rc.withColumn("lcum", F.sum("rc").over(
        localW.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("lrn", F.row_number().over(localW).cast("long"))
      .join(F.broadcast(carry), Seq("bkt"))
      .withColumn("cum", F.col("csum") + F.col("lcum"))
      .withColumn("rn", F.col("cn") + F.col("lrn"))
      .crossJoin(F.broadcast(tot))
      .agg(
        F.max("nc").as("n_cust"),
        F.max("total_c").as("total_c"),
        F.min(F.when(F.col("cum") * 100 >= F.col("total_c") * 50, F.col("rn"))).as("c50"),
        F.min(F.when(F.col("cum") * 100 >= F.col("total_c") * 80, F.col("rn"))).as("c80"),
        F.min(F.when(F.col("cum") * 100 >= F.col("total_c") * 90, F.col("rn"))).as("c90"),
        // ppm terms in DECIMAL(38,0): cum×1e6 overflows BIGINT once total
        // revenue passes ~9.2e12 cents (≈ sf40); div still emits BIGINT,
        // and ppm ≤ 1e6 always fits. Oracle mirrors with HUGEINT — NOT
        // decimal: DuckDB's decimal `//` rounds where div truncates.
        F.max(F.when(F.col("rn") === F.expr("(nc + 99) div 100"),
          F.expr("(cast(cum as decimal(38,0)) * 1000000) div total_c"))).as("top1_ppm"),
        F.max(F.when(F.col("rn") === F.expr("(nc + 9) div 10"),
          F.expr("(cast(cum as decimal(38,0)) * 1000000) div total_c"))).as("top10_ppm"))
  }

  /** q_pareto_inc: the SAME concentration answer, but the per-customer
    * revenue state is MAINTAINED incrementally (ParetoSink) instead of
    * recomputed — orders arrive as three micro-batches (one replayed to
    * prove exactly-once), each folding mergeable per-customer partials
    * onto graft.VersionedState snapshots; the read runs the shared
    * two-level concentrate over the snapshot. Gated under q_pareto's own
    * batch oracle: maintained state must equal the batch groupBy. */
  def qParetoInc(s: SparkSession, dir: String): DataFrame =
    ScenarioDirs.run("graft_pareto") { snap =>
      val o = Tables(s, dir, "orders").select("o_custkey", "o_totalprice")
      val b0 = o.filter(F.pmod(F.col("o_custkey"), F.lit(3L)) === 0L)
      val b1 = o.filter(F.pmod(F.col("o_custkey"), F.lit(3L)) === 1L)
      val b2 = o.filter(F.pmod(F.col("o_custkey"), F.lit(3L)) === 2L)
      graft.streaming.ParetoSink.applyBatch(b0, snap.toString, 0L)
      graft.streaming.ParetoSink.applyBatch(b1, snap.toString, 1L)
      graft.streaming.ParetoSink.applyBatch(b1, snap.toString, 1L) // replay
      graft.streaming.ParetoSink.applyBatch(b2, snap.toString, 2L)
      concentrate(graft.streaming.ParetoSink.read(s, snap.toString))
    }

  val qParetoSql: String =
    """WITH rc AS (
      |  SELECT o_custkey,
      |   CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT)) AS BIGINT) AS rc
      |  FROM orders GROUP BY 1),
      |r AS (
      |  SELECT rc,
      |   SUM(rc) OVER (ORDER BY rc DESC, o_custkey ASC ROWS UNBOUNDED PRECEDING) AS cum,
      |   ROW_NUMBER() OVER (ORDER BY rc DESC, o_custkey ASC) AS rn
      |  FROM rc),
      |t AS (SELECT CAST(SUM(rc) AS BIGINT) AS total_c, COUNT(*) AS nc FROM rc)
      |SELECT MAX(nc) AS n_cust, MAX(total_c) AS total_c,
      | CAST(MIN(CASE WHEN cum*100 >= total_c*50 THEN rn END) AS BIGINT) AS c50,
      | CAST(MIN(CASE WHEN cum*100 >= total_c*80 THEN rn END) AS BIGINT) AS c80,
      | CAST(MIN(CASE WHEN cum*100 >= total_c*90 THEN rn END) AS BIGINT) AS c90,
      | CAST(MAX(CASE WHEN rn = (nc+99)//100 THEN (CAST(cum AS HUGEINT)*1000000)//total_c END) AS BIGINT) AS top1_ppm,
      | CAST(MAX(CASE WHEN rn = (nc+9)//10 THEN (CAST(cum AS HUGEINT)*1000000)//total_c END) AS BIGINT) AS top10_ppm
      |FROM r, t""".stripMargin

  /** q_funnel_time: the time-to-convert distribution (first 'view' →
    * first subsequent 'purchase') per first-view-day cohort — min / max /
    * sum / avg×100 / discrete median seconds. The median avoids any
    * per-row global sort: it folds the per-(day, sec) COUNT histogram
    * cumulatively, so the window's partition rows are bounded by the
    * number of DISTINCT second values (the calendar / gap range), never
    * by converter count — the same histogram-not-rows shape as the
    * equi-depth scale tier. Lower median: smallest sec with
    * cum ≥ (n+1) div 2. */
  def qFunnelTime(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(F.col("user_id"), F.col("event_type"),
        F.unix_micros(F.col("ts")).as("us"))
    val fv = ev.filter(F.col("event_type") === "view")
      .groupBy("user_id").agg(F.min("us").as("fv"))
    val conv = ev.filter(F.col("event_type") === "purchase")
      .join(fv, Seq("user_id"))
      .filter(F.col("us") >= F.col("fv"))
      .groupBy("user_id", "fv").agg(F.min("us").as("fp"))
      .select(F.expr("fv div 86400000000").as("day"),
        F.expr("(fp - fv) div 1000000").as("sec"))
    val agg = conv.groupBy("day").agg(
      F.count(F.lit(1)).as("n_conv"),
      F.min("sec").as("min_sec"), F.max("sec").as("max_sec"),
      F.sum("sec").as("sum_sec"))
    val cw = Window.partitionBy("day").orderBy(F.col("sec").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = conv.groupBy("day", "sec").agg(F.count(F.lit(1)).as("c"))
      .withColumn("cum", F.sum("c").over(cw))
      .join(agg.select("day", "n_conv"), Seq("day"))
      .groupBy("day")
      .agg(F.min(F.when(F.col("cum") >= F.expr("(n_conv + 1) div 2"), F.col("sec"))).as("med_sec"))
    agg.join(med, Seq("day"))
      .select(F.col("day"), F.col("n_conv"), F.col("min_sec"), F.col("max_sec"),
        F.col("sum_sec"),
        F.expr("(100 * sum_sec) div n_conv").as("avg_sec_x100"),
        F.col("med_sec"))
  }

  val qFunnelTimeSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |fv AS (
      |  SELECT user_id, MIN(us) AS fv FROM ev WHERE event_type='view' GROUP BY 1),
      |conv AS (
      |  SELECT fv // 86400000000 AS day, (MIN(e.us) - fv) // 1000000 AS sec
      |  FROM ev e JOIN fv ON e.user_id = fv.user_id
      |  WHERE e.event_type='purchase' AND e.us >= fv.fv
      |  GROUP BY e.user_id, fv.fv),
      |agg AS (
      |  SELECT day, COUNT(*) AS n_conv, MIN(sec) AS min_sec, MAX(sec) AS max_sec,
      |   CAST(SUM(sec) AS BIGINT) AS sum_sec
      |  FROM conv GROUP BY 1),
      |hist AS (SELECT day, sec, COUNT(*) AS c FROM conv GROUP BY 1, 2),
      |cum AS (
      |  SELECT day, sec, SUM(c) OVER (PARTITION BY day ORDER BY sec ASC
      |    ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM hist),
      |med AS (
      |  SELECT c.day, MIN(c.sec) AS med_sec
      |  FROM cum c JOIN agg a ON c.day = a.day
      |  WHERE c.cum >= (a.n_conv + 1) // 2 GROUP BY 1)
      |SELECT a.day, a.n_conv, CAST(a.min_sec AS BIGINT) AS min_sec,
      | CAST(a.max_sec AS BIGINT) AS max_sec, a.sum_sec,
      | CAST((100 * a.sum_sec) // a.n_conv AS BIGINT) AS avg_sec_x100,
      | CAST(m.med_sec AS BIGINT) AS med_sec
      |FROM agg a JOIN med m ON a.day = m.day""".stripMargin

  /** q_journey: the top-20 session journeys — the first three event
    * types of each 30-min-gap session joined as 'a>b>c' (ClickHouse's
    * sequence / path analysis reporting). Sessionization and the path
    * are the maintained JourneyStream's own rules (SessionFold's
    * sessionize windows and the path window all key on user_id: one
    * shuffle); the final top-20 is orderBy+limit, which Spark plans as
    * TakeOrderedAndProject — per-partition heaps, no global sort. */
  def qJourney(s: SparkSession, dir: String): DataFrame =
    JourneyStream.pathsOf(SessionFold.sessionized(Tables(s, dir, "events")
      .select(F.col("user_id"), F.col("event_id"), F.col("event_type"),
        F.unix_micros(F.col("ts")).as("us"))))
      .groupBy("path").agg(F.count(F.lit(1)).as("n_sess"))
      .orderBy(F.col("n_sess").desc, F.col("path").asc)
      .limit(20)

  val qJourneySql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800 * 1000000
      |    THEN 1 ELSE 0 END AS new_sess
      |  FROM (SELECT *, LAG(us) OVER (PARTITION BY user_id
      |          ORDER BY us ASC, event_id ASC) AS prev_us FROM ev) x),
      |sess AS (
      |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
      |    ORDER BY us ASC, event_id ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_idx
      |  FROM flagged),
      |rn AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, sess_idx
      |    ORDER BY us ASC, event_id ASC) AS rn
      |  FROM sess),
      |paths AS (
      |  SELECT user_id, sess_idx,
      |   CONCAT_WS('>',
      |     MIN(CASE WHEN rn = 1 THEN event_type END),
      |     MIN(CASE WHEN rn = 2 THEN event_type END),
      |     MIN(CASE WHEN rn = 3 THEN event_type END)) AS path
      |  FROM rn WHERE rn <= 3 GROUP BY 1, 2)
      |SELECT path, COUNT(*) AS n_sess
      |FROM paths GROUP BY 1
      |ORDER BY n_sess DESC, path ASC LIMIT 20""".stripMargin

  /** q_journey_inc: the SAME top-20 journeys, but MAINTAINED by the
    * JourneyStream.applyBatch → TopKSink composition instead of
    * recomputed — events replayed as three TIME-SPLIT batches (so
    * sessions span batch boundaries and the watermark-buffered close
    * rule is exercised), with one batch replayed to prove idempotence
    * and the last 15 minutes of the middle slice DELAYED into the final
    * batch (an in-delay out-of-order arrival that must re-pool with its
    * still-open session, not split it). Gated under q_journey's own
    * batch oracle: closed top-k counts + the open-buffer tail fold must
    * equal the batch sessionization exactly (5-type journey alphabet
    * ≤ 155 distinct paths ≪ the 512 sketch capacity, so Misra-Gries is
    * in its exact regime). */
  def qJourneyInc(s: SparkSession, dir: String): DataFrame =
    ScenarioDirs.run("graft_journey") { snap =>
      val jDir = snap.resolve("journey").toString
      val tDir = snap.resolve("topk").toString
      val ev = Tables(s, dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
      val us = F.unix_micros(F.col("ts"))
      val Array(lo, hi) = ev.select(us.as("tu"))
        .stat.approxQuantile("tu", Array(0.33, 0.66), 0.0)
      // the (hi−15min, hi] slice arrives one batch late: behind b1's max
      // but ahead of its derived watermark (delay 30min), so nothing
      // drops (max(lo,·) keeps the three slices disjoint on a corpus
      // whose 33rd–66th percentile span is under 15 minutes)
      val lateLo = math.max(lo, hi - 900e6)
      val b0 = ev.filter(us <= lo)
      val b1 = ev.filter(us > lo && us <= lateLo)
      val b2 = ev.filter(us > hi || (us > lateLo && us <= hi))
      graft.streaming.JourneyStream.applyBatch(b0, jDir, 0L, tDir)
      graft.streaming.JourneyStream.applyBatch(b1, jDir, 1L, tDir)
      graft.streaming.JourneyStream.applyBatch(b1, jDir, 1L, tDir) // replay
      graft.streaming.JourneyStream.applyBatch(b2, jDir, 2L, tDir)
      graft.streaming.JourneyStream.readTop(s, jDir, tDir, 20)
    }

  /** q_theil_sen: the Theil–Sen robust trend estimator over each event
    * type's daily cents-sum series — the discrete median of all pairwise
    * slopes (the robust cousin of q_linreg's OLS slope and the
    * estimator usually reported next to the q_trend_mk Mann-Kendall
    * test). Slopes are BIGINT ppm floor-divs (num×1e6 div Δdays; both
    * engines truncate toward zero). The |days|² pair join is bounded by
    * the CALENDAR per type, never by event volume — the daily rollup is
    * the only pass over the fact table, same contract as q_trend_mk. */
  def qTheilSen(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "events")
      .groupBy(F.col("event_type"),
        F.expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(F.sum(cents(F.col("value"))).as("vc"))
    // b-side columns RENAMED before the self-join: the .as("a")/.as("b")
    // alias form resolves both sides of `a.event_type === b.event_type`
    // to the SAME attribute id (Spark logs a "trivially true predicate"
    // WARN and drops the equality from the join condition's hash keys)
    val bSide = daily.select(F.col("event_type").as("event_type_b"),
      F.col("day").as("day_b"), F.col("vc").as("vc_b"))
    val pairs = daily.join(bSide,
        F.col("event_type") === F.col("event_type_b") &&
          F.col("day") < F.col("day_b"))
      .select(F.col("event_type"),
        F.expr("((vc_b - vc) * 1000000) div (day_b - day)").as("slope_ppm"),
        F.col("day").as("d1"), F.col("day_b").as("d2"))
    val w = Window.partitionBy("event_type")
      .orderBy(F.col("slope_ppm").asc, F.col("d1").asc, F.col("d2").asc)
    val nd = daily.groupBy("event_type").agg(F.count(F.lit(1)).as("n_days"))
    pairs
      .withColumn("rn", F.row_number().over(w).cast("long"))
      .withColumn("cnt", F.count(F.lit(1)).over(Window.partitionBy("event_type")))
      .join(nd, Seq("event_type"))
      .groupBy("event_type", "n_days")
      .agg(F.max("cnt").as("n_pairs"),
        F.min(F.when(F.col("rn") === F.expr("(cnt + 1) div 2"), F.col("slope_ppm"))).as("slope_med_ppm"))
  }

  val qTheilSenSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |   CAST(SUM(CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT)) AS BIGINT) AS vc
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT a.event_type, ((b.vc - a.vc) * 1000000) // (b.day - a.day) AS slope_ppm,
      |   a.day AS d1, b.day AS d2
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND a.day < b.day),
      |r AS (
      |  SELECT event_type, slope_ppm,
      |   ROW_NUMBER() OVER (PARTITION BY event_type
      |     ORDER BY slope_ppm ASC, d1 ASC, d2 ASC) AS rn,
      |   COUNT(*) OVER (PARTITION BY event_type) AS cnt
      |  FROM p),
      |nd AS (SELECT event_type, COUNT(*) AS n_days FROM daily GROUP BY 1)
      |SELECT r.event_type, nd.n_days, CAST(MAX(r.cnt) AS BIGINT) AS n_pairs,
      | CAST(MIN(CASE WHEN rn = (cnt+1)//2 THEN slope_ppm END) AS BIGINT) AS slope_med_ppm
      |FROM r JOIN nd ON r.event_type = nd.event_type
      |GROUP BY 1, 2""".stripMargin

  /** q_prop_ztest: ClickHouse `proportionsZTest` — two-sample z-test on
    * the share of above-global-mean purchasers between the even and odd
    * user-id cohorts. Counts are exact BIGINT; the z statistic is the
    * one double expression both engines evaluate from those integers
    * (identical expression text → identical float64 bits), floor-scaled
    * ×1e6 — the q_ttest discipline. One user rollup + one 2-group
    * aggregate: no shuffles beyond the user groupBy at any scale. */
  def qPropZtest(s: SparkSession, dir: String): DataFrame = {
    // success = "above-global-mean purchaser" (np·n_users > Σnp): interior
    // proportions by construction — every-user-converts would zero the
    // pooled variance and the z denominator (ANSI divide-by-zero)
    val np = Tables(s, dir, "events")
      .groupBy(F.col("user_id"))
      .agg(F.sum(F.when(F.col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
    val tot = np.agg(F.sum("np").as("tot_np"), F.count(F.lit(1)).as("n_users"))
    val u = np.crossJoin(F.broadcast(tot))
      .select(F.pmod(F.col("user_id"), F.lit(2L)).as("g"),
        F.when(F.col("np") * F.col("n_users") > F.col("tot_np"), 1L).otherwise(0L).as("conv"))
    val agg = u.agg(
      F.count(F.when(F.col("g") === 0, 1)).as("n1"),
      F.sum(F.when(F.col("g") === 0, F.col("conv")).otherwise(0L)).as("x1"),
      F.count(F.when(F.col("g") === 1, 1)).as("n2"),
      F.sum(F.when(F.col("g") === 1, F.col("conv")).otherwise(0L)).as("x2"))
    def d(c: String) = F.col(c).cast("double")
    val p1 = d("x1") / d("n1"); val p2 = d("x2") / d("n2")
    val p = (d("x1") + d("x2")) / (d("n1") + d("n2"))
    agg.filter(F.col("n1") > 0L && F.col("n2") > 0L)
      .select(F.col("n1"), F.col("x1"), F.col("n2"), F.col("x2"),
        F.expr("(1000000 * x1) div n1").as("p1_ppm"),
        F.expr("(1000000 * x2) div n2").as("p2_ppm"),
        F.floor((p1 - p2) /
          F.sqrt(p * (F.lit(1.0) - p) * (F.lit(1.0) / d("n1") + F.lit(1.0) / d("n2"))) * 1e6)
          .as("z6"))
  }

  val qPropZtestSql: String =
    """WITH np AS (
      |  SELECT user_id,
      |   CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS np
      |  FROM events GROUP BY user_id),
      |t AS (SELECT CAST(SUM(np) AS BIGINT) AS tot_np, COUNT(*) AS n_users FROM np),
      |u AS (
      |  SELECT user_id % 2 AS g,
      |   CASE WHEN np * n_users > tot_np THEN 1 ELSE 0 END AS conv
      |  FROM np, t),
      |m AS (
      |  SELECT
      |   COUNT(CASE WHEN g = 0 THEN 1 END) AS n1,
      |   CAST(SUM(CASE WHEN g = 0 THEN conv ELSE 0 END) AS BIGINT) AS x1,
      |   COUNT(CASE WHEN g = 1 THEN 1 END) AS n2,
      |   CAST(SUM(CASE WHEN g = 1 THEN conv ELSE 0 END) AS BIGINT) AS x2
      |  FROM u)
      |SELECT n1, x1, n2, x2,
      | CAST((1000000 * x1) // n1 AS BIGINT) AS p1_ppm,
      | CAST((1000000 * x2) // n2 AS BIGINT) AS p2_ppm,
      | CAST(FLOOR((CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))
      |  / SQRT((CAST(x1 AS DOUBLE) + CAST(x2 AS DOUBLE)) / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
      |    * (1.0 - (CAST(x1 AS DOUBLE) + CAST(x2 AS DOUBLE)) / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
      |    * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))) * 1e6) AS BIGINT) AS z6
      |FROM m WHERE n1 > 0 AND n2 > 0""".stripMargin

  /** q_period_detect: dominant-period detection over each event type's
    * daily series (ClickHouse `seriesPeriodDetectFFT`'s job, done as the
    * exact autocorrelation argmax over lags 1..14 instead of an FFT —
    * deterministic and cross-engine checkable). Reuses q_autocorr's
    * integer centering (floor-div mean, kilocent scale); the per-lag
    * score is (Σ c·c₊lag × 1000) div n_pairs, all BIGINT, and the argmax
    * breaks ties on the smaller lag. The lag fan-out and the 14-row
    * per-type window are calendar-bounded — the daily rollup is the only
    * pass over the fact table. */
  def qPeriodDetect(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "events")
      .groupBy(F.col("event_type"),
        F.expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(F.sum(cents(F.col("value"))).as("vc"))
      .localCheckpoint()
    val mean = daily.groupBy("event_type")
      .agg(F.expr("sum(vc) div count(1)").as("mu"))
    val cent = daily.join(F.broadcast(mean), "event_type")
      .select(F.col("event_type"), F.col("day"), F.expr("(vc - mu) div 1000").as("c"))
    val lags = cent.withColumn("lag", F.explode(F.typedlit((1L to 14L).toSeq)))
    val shifted = cent.select(F.col("event_type").as("et2"), F.col("day").as("dk"),
      F.col("c").as("ck"))
    val scored = lags.join(shifted,
        lags("event_type") === F.col("et2") && lags("day") + lags("lag") === F.col("dk"))
      .groupBy(lags("event_type"), F.col("lag"))
      .agg(F.sum(F.col("c") * F.col("ck")).as("num"), F.count(F.lit(1)).as("n_pairs"))
      .withColumn("score", F.expr("(num * 1000) div n_pairs"))
    val w = Window.partitionBy("event_type")
      .orderBy(F.col("score").desc, F.col("lag").asc)
    scored.withColumn("rn", F.row_number().over(w))
      .filter(F.col("rn") === 1)
      .select(F.col("event_type"), F.col("lag").as("best_lag"),
        F.col("score"), F.col("n_pairs"))
  }

  val qPeriodDetectSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |   CAST(SUM(CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT)) AS BIGINT) AS vc
      |  FROM events GROUP BY 1, 2),
      |mu AS (SELECT event_type, CAST(SUM(vc) // COUNT(*) AS BIGINT) AS mu
      |  FROM daily GROUP BY 1),
      |cent AS (
      |  SELECT d.event_type, d.day, CAST((d.vc - mu.mu) // 1000 AS BIGINT) AS c
      |  FROM daily d JOIN mu ON d.event_type = mu.event_type),
      |scored AS (
      |  SELECT a.event_type, l.lag, COUNT(*) AS n_pairs,
      |   CAST((CAST(SUM(a.c * b.c) AS BIGINT) * 1000) // COUNT(*) AS BIGINT) AS score
      |  FROM cent a
      |  CROSS JOIN (SELECT UNNEST(generate_series(1, 14)) AS lag) l
      |  JOIN cent b ON b.event_type = a.event_type AND b.day = a.day + l.lag
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
      |    ORDER BY score DESC, lag ASC) AS rn
      |  FROM scored)
      |SELECT event_type, CAST(lag AS BIGINT) AS best_lag, score, n_pairs
      |FROM r WHERE rn = 1""".stripMargin

  /** q_basket_pairs: market-basket co-occurrence mining — the top-20
    * part pairs ordered together (ClickHouse retail dashboards build
    * this from a self-join on the order key). The pair fan-out is
    * per-order: Σ (parts per order)² with TPC-H's ~4 lineitems/order is
    * LINEAR in orders at any scale (the quadratic term is bounded by the
    * basket size, a domain constant, not data volume); the top-20 is
    * TakeOrderedAndProject. DISTINCT parts per order first so repeated
    * lineitems of one part count a pair once. */
  def qBasketPairs(s: SparkSession, dir: String): DataFrame = {
    val op = Tables(s, dir, "lineitem")
      .select(F.col("l_orderkey").as("ok"), F.col("l_partkey").as("pk"))
      .distinct()
    // b-side renamed before the self-join (the alias form resolves the
    // equality to one attribute id → "trivially true predicate" WARN)
    val bSide = op.select(F.col("ok"), F.col("pk").as("pk2"))
    op.join(bSide, Seq("ok")).filter(F.col("pk") < F.col("pk2"))
      .groupBy(F.col("pk").as("p1"), F.col("pk2").as("p2"))
      .agg(F.count(F.lit(1)).as("n_orders"))
      .orderBy(F.col("n_orders").desc, F.col("p1").asc, F.col("p2").asc)
      .limit(20)
  }

  val qBasketPairsSql: String =
    """WITH op AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
      |SELECT a.pk AS p1, b.pk AS p2, COUNT(*) AS n_orders
      |FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
      |GROUP BY 1, 2
      |ORDER BY n_orders DESC, p1 ASC, p2 ASC LIMIT 20""".stripMargin

  /** q_basket_lift: association rules over the top co-ordered pairs —
    * confidence(p1→p2) and lift in exact ppm (ClickHouse retail
    * affinity analysis; the relational version of what q_assoc_suite
    * computes over event types). Same bounded pair fan-out as
    * q_basket_pairs; the per-part order counts join back BROADCAST
    * (|parts| ≪ |lineitem|). lift_ppm = (n12·N·1e6) div (n1·n2), with
    * BOTH the numerator and the n1·n2 divisor in DECIMAL(38,0) (HUGEINT
    * oracle): in BIGINT the numerator dies once n12·N > 9.2e12 and the
    * divisor once N > 3e9 orders — both realistic at 100 TB. The emitted
    * lift_ppm ≤ 1e6·N stays a BIGINT to ~9.2e12 orders. */
  def qBasketLift(s: SparkSession, dir: String): DataFrame = {
    val op = Tables(s, dir, "lineitem")
      .select(F.col("l_orderkey").as("ok"), F.col("l_partkey").as("pk"))
      .distinct()
    val partN = op.groupBy(F.col("pk")).agg(F.count(F.lit(1)).as("np"))
    val tot = op.select(F.count_distinct(F.col("ok")).as("n_ord"))
    // b-side renamed before the self-join (same WARN fix as q_basket_pairs)
    val bSide = op.select(F.col("ok"), F.col("pk").as("pk2"))
    op.join(bSide, Seq("ok")).filter(F.col("pk") < F.col("pk2"))
      .groupBy(F.col("pk").as("p1"), F.col("pk2").as("p2"))
      .agg(F.count(F.lit(1)).as("n12"))
      .join(F.broadcast(partN.select(F.col("pk").as("p1"), F.col("np").as("n1"))), Seq("p1"))
      .join(F.broadcast(partN.select(F.col("pk").as("p2"), F.col("np").as("n2"))), Seq("p2"))
      .crossJoin(F.broadcast(tot))
      .select(F.col("p1"), F.col("p2"), F.col("n12"), F.col("n1"), F.col("n2"),
        F.expr("(1000000 * n12) div n1").as("conf_ppm"),
        F.expr("(cast(n12 as decimal(38,0)) * n_ord * 1000000) " +
          "div (cast(n1 as decimal(38,0)) * n2)").as("lift_ppm"))
      .orderBy(F.col("n12").desc, F.col("p1").asc, F.col("p2").asc)
      .limit(20)
  }

  val qBasketLiftSql: String =
    """WITH op AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |pn AS (SELECT pk, COUNT(*) AS np FROM op GROUP BY 1),
      |t AS (SELECT COUNT(DISTINCT ok) AS n_ord FROM op),
      |p AS (
      |  SELECT a.pk AS p1, b.pk AS p2, COUNT(*) AS n12
      |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2)
      |SELECT p1, p2, n12, n1.np AS n1, n2.np AS n2,
      | CAST((1000000 * n12) // n1.np AS BIGINT) AS conf_ppm,
      | CAST((CAST(n12 AS HUGEINT) * t.n_ord * 1000000) // (CAST(n1.np AS HUGEINT) * n2.np) AS BIGINT) AS lift_ppm
      |FROM p JOIN pn n1 ON p.p1 = n1.pk JOIN pn n2 ON p.p2 = n2.pk, t
      |ORDER BY n12 DESC, p1 ASC, p2 ASC LIMIT 20""".stripMargin

  /** q_time_matrix: the day-of-week × hour activity heatmap (events,
    * distinct users, exact cents) — the operational dashboard slice
    * next to q_datetime_suite's month×dow rollup. One aggregate over
    * ≤ 168 cells; distinct users per cell is the only expensive term
    * and keys the shuffle. */
  def qTimeMatrix(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select(F.expr("(unix_micros(ts) div 86400000000 + 4) % 7").as("dow"),
        F.expr("(unix_micros(ts) div 3600000000) % 24").as("hr"),
        F.col("user_id"), cents(F.col("value")).as("vc"))
      .groupBy("dow", "hr")
      .agg(F.count(F.lit(1)).as("n"),
        F.count_distinct(F.col("user_id")).as("n_users"),
        F.sum("vc").as("sum_c"))

  val qTimeMatrixSql: String =
    """SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
      | (epoch_us(ts) // 3600000000) % 24 AS hr,
      | COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
      | CAST(SUM(CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT)) AS BIGINT) AS sum_c
      |FROM events GROUP BY 1, 2""".stripMargin

  /** q_ltv_curve: cohort lifetime-value curve — users cohorted by first
    * purchase week; per (cohort, age-in-weeks): exact cohort revenue,
    * its running cumulative, and LTV-per-user ×100 against the FIXED
    * cohort size. The cumulative window partitions by cohort and walks
    * ages — calendar-bounded rows per partition; absent ages contribute
    * zero so the cumulative at present ages is exact. */
  def qLtvCurve(s: SparkSession, dir: String): DataFrame = {
    val p = Tables(s, dir, "events")
      .filter(F.col("event_type") === "purchase")
      .select(F.col("user_id"),
        F.expr("unix_micros(ts) div 604800000000").as("week"),
        cents(F.col("value")).as("vc"))
    val cohort = p.groupBy("user_id").agg(F.min("week").as("cohort"))
    val cn = cohort.groupBy("cohort").agg(F.count(F.lit(1)).as("cohort_n"))
    val byAge = p.join(cohort, Seq("user_id"))
      .groupBy(F.col("cohort"), (F.col("week") - F.col("cohort")).as("age"))
      .agg(F.sum("vc").as("rev_c"))
    val w = Window.partitionBy("cohort").orderBy(F.col("age").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byAge.withColumn("cum_rev_c", F.sum("rev_c").over(w))
      .join(F.broadcast(cn), Seq("cohort"))
      .select(F.col("cohort"), F.col("age"), F.col("rev_c"), F.col("cum_rev_c"),
        F.col("cohort_n"),
        F.expr("(100 * cum_rev_c) div cohort_n").as("ltv_x100"))
  }

  val qLtvCurveSql: String =
    """WITH p AS (
      |  SELECT user_id, epoch_us(ts) // 604800000000 AS week,
      |   CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT) AS vc
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, MIN(week) AS cohort FROM p GROUP BY 1),
      |cn AS (SELECT cohort, COUNT(*) AS cohort_n FROM c GROUP BY 1),
      |a AS (
      |  SELECT c.cohort, p.week - c.cohort AS age, CAST(SUM(p.vc) AS BIGINT) AS rev_c
      |  FROM p JOIN c ON p.user_id = c.user_id GROUP BY 1, 2),
      |r AS (
      |  SELECT cohort, age, rev_c,
      |   SUM(rev_c) OVER (PARTITION BY cohort ORDER BY age ASC
      |     ROWS UNBOUNDED PRECEDING) AS cum_rev_c
      |  FROM a)
      |SELECT r.cohort, r.age, r.rev_c, CAST(r.cum_rev_c AS BIGINT) AS cum_rev_c,
      | cn.cohort_n, CAST((100 * r.cum_rev_c) // cn.cohort_n AS BIGINT) AS ltv_x100
      |FROM r JOIN cn ON r.cohort = cn.cohort""".stripMargin

  /** q_purchase_gap: the global inter-purchase-time distribution — one
    * row: gap count, min/max, avg ×100, and the discrete median in
    * seconds. Per-user gaps come from ONE user-keyed window; the median
    * folds the per-second COUNT histogram, whose row count is bounded by
    * the time domain (distinct gap seconds ≤ the stream's span), so the
    * single-partition cumulative walks a calendar-bounded frame —
    * q_funnel_time's histogram-not-rows shape, global edition. */
  def qPurchaseGap(s: SparkSession, dir: String): DataFrame = {
    val byU = Window.partitionBy("user_id").orderBy(F.col("us").asc, F.col("event_id").asc)
    val gaps = Tables(s, dir, "events")
      .filter(F.col("event_type") === "purchase")
      .select(F.col("user_id"), F.col("event_id"), F.unix_micros(F.col("ts")).as("us"))
      .withColumn("prev", F.lag("us", 1).over(byU))
      .filter(F.col("prev").isNotNull)
      .select(F.expr("(us - prev) div 1000000").as("gap"))
    val agg = gaps.agg(F.count(F.lit(1)).as("n_gaps"),
      F.min("gap").as("min_sec"), F.max("gap").as("max_sec"),
      F.sum("gap").as("sum_gap"))
    val cw = Window.partitionBy(F.pmod(F.col("gap"), F.lit(1)))
      .orderBy(F.col("gap").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = gaps.groupBy("gap").agg(F.count(F.lit(1)).as("c"))
      .withColumn("cum", F.sum("c").over(cw))
      .crossJoin(F.broadcast(agg.select("n_gaps")))
      .agg(F.min(F.when(F.col("cum") >= F.expr("(n_gaps + 1) div 2"), F.col("gap"))).as("med_sec"))
    agg.crossJoin(F.broadcast(med))
      .select(F.col("n_gaps"), F.col("min_sec"), F.col("max_sec"),
        F.expr("(100 * sum_gap) div n_gaps").as("avg_sec_x100"), F.col("med_sec"))
  }

  val qPurchaseGapSql: String =
    """WITH p AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us
      |  FROM events WHERE event_type = 'purchase'),
      |g AS (
      |  SELECT (us - prev) // 1000000 AS gap
      |  FROM (SELECT *, LAG(us) OVER (PARTITION BY user_id
      |          ORDER BY us ASC, event_id ASC) AS prev FROM p) x
      |  WHERE prev IS NOT NULL),
      |a AS (
      |  SELECT COUNT(*) AS n_gaps, MIN(gap) AS min_sec, MAX(gap) AS max_sec,
      |   CAST(SUM(gap) AS BIGINT) AS sum_gap
      |  FROM g),
      |h AS (SELECT gap, COUNT(*) AS c FROM g GROUP BY 1),
      |cum AS (
      |  SELECT gap, SUM(c) OVER (ORDER BY gap ASC ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM h),
      |m AS (
      |  SELECT MIN(gap) AS med_sec FROM cum, a WHERE cum.cum >= (a.n_gaps + 1) // 2)
      |SELECT a.n_gaps, CAST(a.min_sec AS BIGINT) AS min_sec,
      | CAST(a.max_sec AS BIGINT) AS max_sec,
      | CAST((100 * a.sum_gap) // a.n_gaps AS BIGINT) AS avg_sec_x100,
      | CAST(m.med_sec AS BIGINT) AS med_sec
      |FROM a, m""".stripMargin

  /** q_audience_overlap: pairwise event-type audience overlap — exact
    * |types|×|types| Jaccard matrix over user sets (the "which behaviors
    * share an audience" product view; the exact sibling of the
    * theta-sketch set algebra). Per-user type fan-out is ≤ |types|²
    * (domain constant), so the pair join is linear in distinct
    * (user, type) rows at any scale. jaccard_ppm = (1e6·n12) div
    * (n1 + n2 − n12), all BIGINT. */
  def qAudienceOverlap(s: SparkSession, dir: String): DataFrame = {
    val ut = Tables(s, dir, "events")
      .select(F.col("user_id").as("u"), F.col("event_type").as("t"))
      .distinct()
    val perType = ut.groupBy(F.col("t")).agg(F.count(F.lit(1)).as("nt"))
    // b-side renamed before the self-join (same WARN fix as q_basket_pairs)
    val bSide = ut.select(F.col("u"), F.col("t").as("t_b"))
    ut.join(bSide, Seq("u")).filter(F.col("t") < F.col("t_b"))
      .groupBy(F.col("t").as("t1"), F.col("t_b").as("t2"))
      .agg(F.count(F.lit(1)).as("n12"))
      .join(F.broadcast(perType.select(F.col("t").as("t1"), F.col("nt").as("n1"))), Seq("t1"))
      .join(F.broadcast(perType.select(F.col("t").as("t2"), F.col("nt").as("n2"))), Seq("t2"))
      .select(F.col("t1"), F.col("t2"), F.col("n12"), F.col("n1"), F.col("n2"),
        F.expr("(1000000 * n12) div (n1 + n2 - n12)").as("jaccard_ppm"))
  }

  val qAudienceOverlapSql: String =
    """WITH ut AS (
      |  SELECT DISTINCT user_id AS u, event_type AS t FROM events),
      |pt AS (SELECT t, COUNT(*) AS nt FROM ut GROUP BY 1),
      |p AS (
      |  SELECT a.t AS t1, b.t AS t2, COUNT(*) AS n12
      |  FROM ut a JOIN ut b ON a.u = b.u AND a.t < b.t
      |  GROUP BY 1, 2)
      |SELECT p.t1, p.t2, p.n12, n1.nt AS n1, n2.nt AS n2,
      | CAST((1000000 * p.n12) // (n1.nt + n2.nt - p.n12) AS BIGINT) AS jaccard_ppm
      |FROM p JOIN pt n1 ON p.t1 = n1.t JOIN pt n2 ON p.t2 = n2.t""".stripMargin

  /** q_discount_lift: quantity response to discount depth — per integer
    * discount point (discount×100): lineitems, exact summed quantity,
    * avg qty ×100, and the lift of that average over the zero-discount
    * baseline in ppm. Two exact aggregates + a broadcast baseline join;
    * all BIGINT floor-divs (the TPC-H Q6 "what if" read as an observed
    * elasticity table). */
  def qDiscountLift(s: SparkSession, dir: String): DataFrame = {
    val byD = Tables(s, dir, "lineitem")
      .groupBy((Tables.dec2(F.col("l_discount")) * 100).cast("long").as("dpct"))
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(F.col("l_quantity").cast("long")).as("sum_qty"))
      .withColumn("avg_qty_x100", F.expr("(100 * sum_qty) div n"))
    val base = byD.filter(F.col("dpct") === 0L)
      .select(F.col("avg_qty_x100").as("base_x100"))
    byD.crossJoin(F.broadcast(base))
      .select(F.col("dpct"), F.col("n"), F.col("sum_qty"), F.col("avg_qty_x100"),
        F.expr("(1000000 * avg_qty_x100) div base_x100").as("lift_ppm"))
  }

  val qDiscountLiftSql: String =
    """WITH d AS (
      |  SELECT CAST(CAST(l_discount AS DECIMAL(18,2))*100 AS BIGINT) AS dpct,
      |   COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |  FROM lineitem GROUP BY 1),
      |e AS (SELECT dpct, n, sum_qty, CAST((100 * sum_qty) // n AS BIGINT) AS avg_qty_x100 FROM d),
      |b AS (SELECT avg_qty_x100 AS base_x100 FROM e WHERE dpct = 0)
      |SELECT dpct, n, sum_qty, avg_qty_x100,
      | CAST((1000000 * avg_qty_x100) // base_x100 AS BIGINT) AS lift_ppm
      |FROM e, b""".stripMargin

  /** q_repeat_rate: weekly repeat-purchase rate — per ISO-ish week
    * (epoch-day div 7): purchasing users, repeat purchasers (≥ 2
    * purchases that week), and the repeat share in ppm. Two exact
    * aggregates (user-week rollup, then week rollup); the ppm is one
    * integer floor-div. */
  def qRepeatRate(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .filter(F.col("event_type") === "purchase")
      .groupBy(F.expr("unix_micros(ts) div 604800000000").as("week"),
        F.col("user_id"))
      .agg(F.count(F.lit(1)).as("np"))
      .groupBy("week")
      .agg(F.count(F.lit(1)).as("n_purchasers"),
        F.sum(F.when(F.col("np") >= 2L, 1L).otherwise(0L)).as("n_repeat"))
      .withColumn("repeat_ppm", F.expr("(1000000 * n_repeat) div n_purchasers"))

  val qRepeatRateSql: String =
    """WITH uw AS (
      |  SELECT epoch_us(ts) // 604800000000 AS week, user_id, COUNT(*) AS np
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT week, COUNT(*) AS n_purchasers,
      | CAST(SUM(CASE WHEN np >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat,
      | CAST((1000000 * SUM(CASE WHEN np >= 2 THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS repeat_ppm
      |FROM uw GROUP BY 1""".stripMargin

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("q_basket_pairs", qBasketPairs _, Some(qBasketPairsSql)),
    ("q_basket_lift", qBasketLift _, Some(qBasketLiftSql)),
    ("q_time_matrix", qTimeMatrix _, Some(qTimeMatrixSql)),
    ("q_audience_overlap", qAudienceOverlap _, Some(qAudienceOverlapSql)),
    ("q_ltv_curve", qLtvCurve _, Some(qLtvCurveSql)),
    ("q_purchase_gap", qPurchaseGap _, Some(qPurchaseGapSql)),
    ("q_discount_lift", qDiscountLift _, Some(qDiscountLiftSql)),
    ("q_repeat_rate", qRepeatRate _, Some(qRepeatRateSql)),
    ("q_pareto", qPareto _, Some(qParetoSql)),
    ("q_pareto_inc", qParetoInc _, Some(qParetoSql)),
    ("q_funnel_time", qFunnelTime _, Some(qFunnelTimeSql)),
    ("q_journey", qJourney _, Some(qJourneySql)),
    ("q_journey_inc", qJourneyInc _, Some(qJourneySql)),
    ("q_prop_ztest", qPropZtest _, Some(qPropZtestSql)),
    ("q_period_detect", qPeriodDetect _, Some(qPeriodDetectSql)),
    ("q_theil_sen", qTheilSen _, Some(qTheilSenSql)))
}
