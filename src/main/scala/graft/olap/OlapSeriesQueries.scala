package graft.olap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}

import graft.{ScenarioDirs, Tables}
import graft.streaming.SessionFold

/** Ordered time-series aggregates (ClickHouse `deltaSum` and
  * `intervalLengthSum`) — both are "fold the group's time-sorted rows"
  * shapes, spelled as ONE window sort per group plus a hash aggregate, so
  * the shuffle is keyed on the (high-cardinality) group key and per-group
  * state never leaves the executor. All arithmetic is BIGINT (cents /
  * epoch seconds): cross-engine exact by construction.
  */
/** One time-series point for the LTTB fold (public: private case classes
  * break Spark's codegen'd encoders). */
case class LttbPt(user_id: Long, tu: Long, event_id: Long, tx: Long, vy: Long)

/** One selected LTTB point: `sel` = 0 (first) .. 11 (last). */
case class LttbSel(user_id: Long, sel: Long, tx: Long, vy: Long)

object OlapSeriesQueries {
  type Q = (SparkSession, String) => DataFrame

  /** q_delta_sum: ClickHouse `deltaSum(value)` per user — the sum of
    * POSITIVE increments of the time-ordered value sequence (counter-reset
    * handling for monotone-ish gauges). The order is a TOTAL order
    * ((ts, event_id) tiebreak): a tie-ambiguous sort would make lag()
    * nondeterministic across engines. Values in exact cents; the first
    * row of each group contributes 0 (lag is null). */
  def qDeltaSum(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(F.col("tu").asc, F.col("event_id").asc)
    Tables(s, dir, "events")
      .select(F.col("user_id"), F.col("event_id"),
        F.unix_micros(F.col("ts")).as("tu"),
        (Tables.dec2(F.col("value")) * 100).cast("long").as("vc"))
      .withColumn("d", F.col("vc") - F.lag("vc", 1).over(w))
      .groupBy("user_id")
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(F.greatest(F.col("d"), F.lit(0L))).as("delta_sum_c"))
  }

  val qDeltaSumSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tu,
      |   CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT) AS vc
      |  FROM events),
      |d AS (
      |  SELECT user_id,
      |   vc - LAG(vc, 1) OVER (PARTITION BY user_id ORDER BY tu ASC, event_id ASC) AS d
      |  FROM ev)
      |SELECT user_id, COUNT(*) AS n,
      | CAST(SUM(GREATEST(d, 0)) AS BIGINT) AS delta_sum_c
      |FROM d GROUP BY 1""".stripMargin

  /** q_interval_sum: ClickHouse `intervalLengthSum` per user — the length
    * of the UNION of the user's activity intervals (overlaps counted
    * once). Interval i = [start, start + 60 + event_id mod 600) in epoch
    * seconds (deterministic data-derived lengths so overlaps actually
    * vary). The classic one-sort sweep: rows sorted by start; each row
    * contributes max(0, end − max(start, maxEndOfAllPriorRows)) — the
    * running max over the PRECEDING frame needs no tiebreak sensitivity
    * for the SUM (equal starts commute), but the sort is still total for
    * engine parity. Per-group work is a single window pass: at 100 TB
    * this is one shuffle on user_id, no self-join over interval pairs. */
  def qIntervalSum(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(F.col("st").asc, F.col("en").asc, F.col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables(s, dir, "events")
      .select(F.col("user_id"), F.col("event_id"),
        F.expr("unix_micros(ts) div 1000000").as("st"))
      .withColumn("en", F.col("st") + 60L + F.col("event_id") % 600L)
      .withColumn("pm", F.max("en").over(w))
      .groupBy("user_id")
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(F.greatest(
          F.col("en") - F.greatest(F.col("st"), F.coalesce(F.col("pm"), F.col("st"))),
          F.lit(0L))).as("covered_sec"))
  }

  val qIntervalSumSql: String =
    """WITH iv AS (
      |  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS st,
      |   epoch_us(ts) // 1000000 + 60 + event_id % 600 AS en
      |  FROM events),
      |sw AS (
      |  SELECT user_id, st, en,
      |   MAX(en) OVER (PARTITION BY user_id ORDER BY st ASC, en ASC, event_id ASC
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |  FROM iv)
      |SELECT user_id, COUNT(*) AS n,
      | CAST(SUM(GREATEST(en - GREATEST(st, COALESCE(pm, st)), 0)) AS BIGINT) AS covered_sec
      |FROM sw GROUP BY 1""".stripMargin

  /** q_seq_next_node: ClickHouse `sequenceNextNode` — for each user, the
    * event type that immediately follows their FIRST click in the total
    * (ts, event_id) order. Two grouped min-struct passes (first click,
    * then earliest strictly-later event) — witnesses are deterministic by
    * the total order, no window over the full event stream. Users with no
    * click or nothing after it yield NULLs (LEFT join keeps them). */
  def qSeqNextNode(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(F.col("user_id"), F.unix_micros(F.col("ts")).as("tu"),
        F.col("event_id"), F.col("event_type").as("et"))
    val firstClick = ev.filter(F.col("et") === "click")
      .groupBy("user_id")
      .agg(F.min(F.struct(F.col("tu"), F.col("event_id").as("k"))).as("c"))
    val next = ev.join(firstClick, "user_id")
      .filter(F.col("tu") > F.col("c.tu") ||
        (F.col("tu") === F.col("c.tu") && F.col("event_id") > F.col("c.k")))
      .groupBy("user_id")
      .agg(F.min(F.struct(F.col("tu"), F.col("event_id").as("k"), F.col("et"))).as("nx"))
    ev.select("user_id").distinct()
      .join(next, Seq("user_id"), "left_outer")
      .select(F.col("user_id"), F.col("nx.et").as("next_et"), F.col("nx.k").as("next_eid"))
  }

  val qSeqNextNodeSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS tu, event_id, event_type AS et FROM events),
      |fc AS (
      |  SELECT user_id, tu AS ctu, event_id AS cid FROM (
      |    SELECT user_id, tu, event_id,
      |     ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY tu ASC, event_id ASC) AS rn
      |    FROM ev WHERE et = 'click') WHERE rn = 1),
      |nx AS (
      |  SELECT user_id, et, event_id FROM (
      |    SELECT e.user_id, e.et, e.event_id,
      |     ROW_NUMBER() OVER (PARTITION BY e.user_id ORDER BY e.tu ASC, e.event_id ASC) AS rn
      |    FROM ev e JOIN fc ON e.user_id = fc.user_id
      |     AND (e.tu > fc.ctu OR (e.tu = fc.ctu AND e.event_id > fc.cid))) WHERE rn = 1)
      |SELECT u.user_id, nx.et AS next_et, nx.event_id AS next_eid
      |FROM (SELECT DISTINCT user_id FROM ev) u
      |LEFT JOIN nx ON nx.user_id = u.user_id""".stripMargin

  /** q_arr_suite: the ClickHouse array-combinator surface (arrayFilter /
    * arraySum / arrayZip+arrayMap / arrayDistinct+arraySort+arraySlice)
    * exercised end-to-end on per-user time-ordered value arrays, all in
    * Spark's codegen'd higher-order functions — `filter`, `aggregate`,
    * `zip_with`+`sequence`, `array_distinct`/`array_sort`/`slice`. The
    * array is assembled once per user (sort_array over collected structs
    * = deterministic time order), every derived stat is exact BIGINT, and
    * the oracle recomputes the same numbers via plain window SQL — the
    * list is a Spark-side representation choice, not a semantic one. */
  def qArrSuite(s: SparkSession, dir: String): DataFrame = {
    val arr = F.transform(
      F.sort_array(F.collect_list(F.struct(F.col("tu"), F.col("event_id").as("k"),
        F.col("vc")))), x => x.getField("vc"))
    Tables(s, dir, "events")
      .select(F.col("user_id"), F.unix_micros(F.col("ts")).as("tu"),
        F.col("event_id"), (Tables.dec2(F.col("value")) * 100).cast("long").as("vc"))
      .groupBy("user_id")
      .agg(arr.as("a"))
      .select(F.col("user_id"),
        F.size(F.col("a")).cast("long").as("n"),
        F.aggregate(F.filter(F.col("a"), _ > 5000L), F.lit(0L), _ + _).as("sum_hi"),
        F.aggregate(
          F.zip_with(F.col("a"), F.sequence(F.lit(1L), F.size(F.col("a")).cast("long")),
            (v, i) => v * i),
          F.lit(0L), _ + _).as("zsum"),
        F.concat_ws(",", F.transform(
          F.slice(F.reverse(F.array_sort(F.array_distinct(F.col("a")))), 1, 3),
          _.cast("string"))).as("top3_csv"))
  }

  val qArrSuiteSql: String =
    """WITH ev AS (
      |  SELECT user_id,
      |   CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT) AS vc,
      |   ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC) AS i
      |  FROM events),
      |base AS (
      |  SELECT user_id, COUNT(*) AS n,
      |   CAST(SUM(CASE WHEN vc > 5000 THEN vc ELSE 0 END) AS BIGINT) AS sum_hi,
      |   CAST(SUM(vc * i) AS BIGINT) AS zsum
      |  FROM ev GROUP BY 1),
      |tops AS (
      |  SELECT user_id, string_agg(CAST(vc AS VARCHAR), ',' ORDER BY vc DESC) AS top3_csv
      |  FROM (
      |    SELECT user_id, vc,
      |     ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY vc DESC) AS r
      |    FROM (SELECT DISTINCT user_id, vc FROM ev))
      |  WHERE r <= 3 GROUP BY 1)
      |SELECT b.user_id, b.n, b.sum_hi, b.zsum, t.top3_csv
      |FROM base b JOIN tops t ON b.user_id = t.user_id""".stripMargin

  /** q_range_frame: RANGE-frame window aggregate (the ClickHouse / ANSI
    * `RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW` shape) —
    * per event, the exact-decimal sum and count of the same user's events
    * in the trailing hour. RANGE (unlike ROWS) includes ALL peers at the
    * current timestamp, so the frame is deterministic even under ts ties
    * with no tiebreak column. One window sort per user partition; sums
    * accumulate in DECIMAL and emit as DOUBLE. */
  def qRangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(F.col("tu"))
      .rangeBetween(-3600000000L, 0L) // µs
    Tables(s, dir, "events")
      .select(F.col("user_id"), F.col("event_id"),
        F.unix_micros(F.col("ts")).as("tu"),
        Tables.dec2(F.col("value")).as("v"))
      .select(F.col("user_id"), F.col("event_id"),
        Tables.out2(F.sum("v").over(w)).as("sum1h"),
        F.count(F.lit(1)).over(w).as("n1h"))
  }

  val qRangeFrameSql: String =
    """SELECT user_id, event_id,
      | CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DECIMAL(18,2)) AS DOUBLE) AS sum1h,
      | COUNT(*) OVER w AS n1h
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin

  /** Buckets for q_lttb (first + last + 10 inner selections). */
  val LttbB = 12

  /** q_lttb: ClickHouse `largestTriangleThreeBuckets` — the canonical
    * dashboard-downsampling operator: keep first and last, split the
    * interior into B−2 buckets, and per bucket keep the point forming
    * the largest triangle with the PREVIOUSLY KEPT point and the next
    * bucket's centroid. The selection is inherently sequential per
    * series (each pick depends on the last), so — like d_pack — the unit
    * of parallelism is the series: one in-memory fold per user via
    * flatMapGroups, all-integer: x in epoch SECONDS and y in cents keep
    * every cross-product term ≤ ~1e17, and the centroid division is
    * avoided by scaling the triangle area by the next bucket's size m
    * (2·A·m is exact). Tie-break (area DESC, x ASC, event_id ASC).
    * Oracle = the 10 selection steps unrolled, identical arithmetic. */
  def qLttb(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val inner = LttbB - 2
    val pts = Tables(s, dir, "events")
      .select(F.col("user_id"), F.unix_micros(F.col("ts")).as("tu"), F.col("event_id"),
        F.expr("unix_micros(ts) div 1000000").as("tx"),
        (Tables.dec2(F.col("value")) * 100).cast("long").as("vy"))
      .as[LttbPt]
    pts.groupByKey(_.user_id).flatMapGroups { (uid: Long, it: Iterator[LttbPt]) =>
      val a = it.toArray.sortBy(p => (p.tu, p.event_id))
      val n = a.length
      if (n <= LttbB) Iterator.empty
      else {
        // 0-based inner index i in [1, n-2] → bucket 1..inner
        def bk(i: Int): Int = ((i - 1) * inner) / (n - 2) + 1
        val byBucket = (1 to inner).map(k =>
          (1 to n - 2).filter(i => bk(i) == k).toArray)
        val out = collection.mutable.ArrayBuffer(LttbSel(uid, 0L, a(0).tx, a(0).vy))
        var ax = a(0).tx
        var ay = a(0).vy
        (1 to inner).foreach { k =>
          val nxt = if (k < inner) byBucket(k) else Array(n - 1) // k+1's points
          val m = nxt.length.toLong
          val sx = nxt.map(a(_).tx).sum
          val sy = nxt.map(a(_).vy).sum
          // 2·A·m = |(m·ax−sx)(py−ay) − (px−ax)(m·ay−sy)| — the cross
          // product of (p−a) with (c−a) scaled through the centroid sum
          val best = byBucket(k - 1).minBy { i =>
            val area = math.abs((ax * m - sx) * (a(i).vy - ay)
              - (a(i).tx - ax) * (ay * m - sy))
            (-area, a(i).tx, a(i).event_id)
          }
          out += LttbSel(uid, k.toLong, a(best).tx, a(best).vy)
          ax = a(best).tx
          ay = a(best).vy
        }
        out += LttbSel(uid, (LttbB - 1).toLong, a(n - 1).tx, a(n - 1).vy)
        out.iterator
      }
    }.toDF()
  }

  val qLttbSql: String = {
    val inner = LttbB - 2
    val step = (k: Int) => {
      val nxtCond = if (k < inner) s"bk = ${k + 1}" else s"bk = ${inner + 1}"
      s"""nx$k AS (
         |  SELECT user_id, COUNT(*) AS m, CAST(SUM(tx) AS BIGINT) AS sx,
         |         CAST(SUM(vy) AS BIGINT) AS sy
         |  FROM b WHERE $nxtCond GROUP BY 1),
         |sel$k AS (
         |  SELECT user_id, tx, vy FROM (
         |    SELECT p.user_id, p.tx, p.vy,
         |      ROW_NUMBER() OVER (PARTITION BY p.user_id ORDER BY
         |        abs((a.tx * n.m - n.sx) * (p.vy - a.vy)
         |            - (p.tx - a.tx) * (a.vy * n.m - n.sy)) DESC,
         |        p.tx ASC, p.event_id ASC) AS rnk
         |    FROM b p
         |    JOIN sel${k - 1} a ON a.user_id = p.user_id
         |    JOIN nx$k n ON n.user_id = p.user_id
         |    WHERE p.bk = $k)
         |  WHERE rnk = 1)""".stripMargin
    }
    s"""WITH base AS (
       |  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS tx,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vy,
       |    ROW_NUMBER() OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts), event_id) - 1 AS i,
       |    COUNT(*) OVER (PARTITION BY user_id) AS n
       |  FROM events),
       |b AS (
       |  SELECT *, CASE WHEN i = 0 THEN 0 WHEN i = n - 1 THEN ${inner + 1}
       |              ELSE ((i - 1) * $inner) // (n - 2) + 1 END AS bk
       |  FROM base WHERE n > $LttbB),
       |sel0 AS (SELECT user_id, tx, vy FROM b WHERE bk = 0),
       |${(1 to inner).map(step).mkString(",\n")}
       |SELECT user_id, CAST(0 AS BIGINT) AS sel, tx, vy FROM sel0
       |${(1 to inner).map(k =>
          s"UNION ALL SELECT user_id, CAST($k AS BIGINT), tx, vy FROM sel$k").mkString("\n")}
       |UNION ALL SELECT user_id, CAST(${inner + 1} AS BIGINT), tx, vy FROM b WHERE bk = ${inner + 1}""".stripMargin
  }

  /** q_first_last: the first_value / last_value / nth_value window
    * family (ClickHouse + ANSI) — per event, the first, last and 2nd
    * value of the same user's trailing-hour RANGE frame, in exact cents.
    * The frame is the peers-inclusive RANGE of q_range_frame, so the
    * family is deterministic under ts ties; the ORDER BY itself is the
    * (unique-per-user) event time. One window sort serves all three. */
  def qFirstLast(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(F.col("tu"))
      .rangeBetween(-3600000000L, 0L)
    Tables(s, dir, "events")
      .select(F.col("user_id"), F.col("event_id"),
        F.unix_micros(F.col("ts")).as("tu"),
        (Tables.dec2(F.col("value")) * 100).cast("long").as("vc"))
      .select(F.col("user_id"), F.col("event_id"),
        F.first("vc").over(w).as("first_c"),
        F.last("vc").over(w).as("last_c"),
        F.nth_value(F.col("vc"), 2).over(w).as("second_c"))
  }

  val qFirstLastSql: String =
    """SELECT user_id, event_id,
      | first_value(vc) OVER w AS first_c,
      | last_value(vc) OVER w AS last_c,
      | nth_value(vc, 2) OVER w AS second_c
      |FROM (SELECT user_id, event_id, epoch_us(ts) AS tu,
      |        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
      |      FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY tu
      |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin

  /** q_datetime_suite: the ClickHouse date/time function family
    * (toStartOfMonth/Week, toDayOfWeek, toHour, toStartOfInterval,
    * formatDateTime) as one grouped scan. The day-of-week, hour and
    * 15-minute-interval derivations are pure epoch integer arithmetic
    * (identical on both engines by construction — no reliance on either
    * engine's dow numbering convention); month/week truncation and
    * yyyy-MM formatting go through each engine's calendar functions under
    * the UTC session timezone. Map-side derivations + one hash aggregate
    * on (month, dow) — a single exchange at any scale. */
  def qDatetimeSuite(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select(F.date_trunc("month", F.col("ts")).as("month_start"),
        F.date_trunc("week", F.col("ts")).as("week_start"),
        F.expr("(unix_micros(ts) div 86400000000 + 4) % 7").as("dow"),
        F.expr("(unix_micros(ts) div 3600000000) % 24").as("hr"),
        F.expr("unix_micros(ts) div 900000000").as("q15"),
        F.date_format(F.col("ts"), "yyyy-MM").as("ym"))
      .groupBy("month_start", "dow")
      .agg(F.count(F.lit(1)).as("n"),
        F.count_distinct(F.col("week_start")).as("n_weeks"),
        F.count_distinct(F.col("hr")).as("n_hours"),
        F.min("q15").as("q15_min"), F.max("q15").as("q15_max"),
        F.max("ym").as("ym"))

  val qDatetimeSuiteSql: String =
    """SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS month_start,
      | (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
      | COUNT(*) AS n,
      | COUNT(DISTINCT CAST(date_trunc('week', ts) AS TIMESTAMP)) AS n_weeks,
      | COUNT(DISTINCT (epoch_us(ts) // 3600000000) % 24) AS n_hours,
      | CAST(MIN(epoch_us(ts) // 900000000) AS BIGINT) AS q15_min,
      | CAST(MAX(epoch_us(ts) // 900000000) AS BIGINT) AS q15_max,
      | MAX(strftime(ts, '%Y-%m')) AS ym
      |FROM events GROUP BY 1, 2""".stripMargin

  /** q_islands: gaps-and-islands — per-user consecutive-active-day
    * streaks (the classic sessionize-on-the-calendar shape ClickHouse
    * analysts spell with `runningDifference`/`arraySplit`). One distinct
    * pass to (user, day), one window sort per user for the
    * day − row_number island key, one streak aggregate, one user
    * aggregate — the longest streak's start day rides the packed
    * BIGINT len·10⁶ − start (max picks longest-then-earliest; day
    * indexes ≈ 19700 ≪ 10⁶ so the pack never collides), decoded after
    * the max. All integers, cross-engine exact. */
  def qIslands(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(F.col("d").asc)
    val days = Tables(s, dir, "events")
      .select(F.col("user_id"), F.expr("unix_micros(ts) div 86400000000").as("d"))
      .distinct()
    val streaks = days
      .withColumn("grp", F.col("d") - F.row_number().over(w))
      .groupBy("user_id", "grp")
      .agg(F.count(F.lit(1)).as("len"), F.min("d").as("s"))
    streaks.groupBy("user_id")
      .agg(F.sum("len").as("n_days"),
        F.count(F.lit(1)).as("n_streaks"),
        F.max("len").as("max_streak"),
        F.max(F.col("len") * 1000000L - F.col("s")).as("b"))
      .select(F.col("user_id"), F.col("n_days"), F.col("n_streaks"),
        F.col("max_streak"),
        (F.col("max_streak") * 1000000L - F.col("b")).as("streak_start_day"))
  }

  val qIslandsSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d FROM events),
      |isl AS (
      |  SELECT user_id, d,
      |   d - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d ASC) AS grp
      |  FROM days),
      |streaks AS (
      |  SELECT user_id, grp, COUNT(*) AS len, MIN(d) AS s
      |  FROM isl GROUP BY 1, 2)
      |SELECT user_id,
      | CAST(SUM(len) AS BIGINT) AS n_days,
      | COUNT(*) AS n_streaks,
      | CAST(MAX(len) AS BIGINT) AS max_streak,
      | CAST(MAX(len) * 1000000 - MAX(len * 1000000 - s) AS BIGINT) AS streak_start_day
      |FROM streaks GROUP BY 1""".stripMargin

  /** q_cohort_matrix: the cohort-retention matrix (signup week ×
    * week offset → distinct retained users + retention ppm) — the
    * canonical product-analytics rollup ClickHouse serves with
    * `retention`/`uniqIf` per cohort. Cohort = each user's first active
    * epoch-week; one distinct (user, week) pass, a per-user min, one
    * equi-join back, one grouped exact distinct. The ppm is an integer
    * floor against the offset-0 cohort size (self-join on the matrix's
    * own diagonal). */
  def qCohortMatrix(s: SparkSession, dir: String): DataFrame = {
    val weeks = Tables(s, dir, "events")
      .select(F.col("user_id"), F.expr("unix_micros(ts) div 604800000000").as("wk"))
      .distinct()
    val cohort = weeks.groupBy("user_id").agg(F.min("wk").as("cw"))
    val cells = weeks.join(cohort, "user_id")
      .groupBy(F.col("cw"), (F.col("wk") - F.col("cw")).as("off"))
      .agg(F.count_distinct(F.col("user_id")).as("n_users"))
    val base = cells.filter(F.col("off") === 0L)
      .select(F.col("cw"), F.col("n_users").as("cohort_size"))
    cells.join(base, "cw")
      .select(F.col("cw").as("cohort_week"), F.col("off"), F.col("n_users"),
        F.col("cohort_size"),
        F.expr("n_users * 1000000 div cohort_size").as("ret_ppm"))
  }

  val qCohortMatrixSql: String =
    """WITH weeks AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
      |cohort AS (SELECT user_id, MIN(wk) AS cw FROM weeks GROUP BY 1),
      |cells AS (
      |  SELECT c.cw, w.wk - c.cw AS off, COUNT(DISTINCT w.user_id) AS n_users
      |  FROM weeks w JOIN cohort c ON c.user_id = w.user_id
      |  GROUP BY 1, 2),
      |base AS (SELECT cw, n_users AS cohort_size FROM cells WHERE off = 0)
      |SELECT c.cw AS cohort_week, c.off, c.n_users, b.cohort_size,
      | CAST(c.n_users * 1000000 // b.cohort_size AS BIGINT) AS ret_ppm
      |FROM cells c JOIN base b ON b.cw = c.cw""".stripMargin

  /** q_arr_cumsum: the ClickHouse cumulative array family —
    * arrayCumSum / arrayDifference / arrayCompact over each user's
    * time-ordered value array, as Spark higher-order functions: cumsum
    * is one `aggregate` fold carrying (array, running) struct state,
    * difference one indexed `transform` (x − a[i−1]), compact-length one
    * (count, prev) fold — all codegen'd, per-user arrays bounded by the
    * per-user event count. The oracle spells the same three via plain
    * window SQL (running SUM, LAG, change-count), so the hash gate
    * proves the higher-order forms against the relational forms.
    * Output bounded: first-5 slices as CSV + totals. */
  def qArrCumsum(s: SparkSession, dir: String): DataFrame = {
    val arr = F.transform(
      F.sort_array(F.collect_list(F.struct(F.col("tu"), F.col("event_id").as("k"),
        F.col("vc")))), x => x.getField("vc"))
    Tables(s, dir, "events")
      .select(F.col("user_id"), F.unix_micros(F.col("ts")).as("tu"),
        F.col("event_id"), (Tables.dec2(F.col("value")) * 100).cast("long").as("vc"))
      .groupBy("user_id")
      .agg(arr.as("a"))
      .select(F.col("user_id"),
        F.size(F.col("a")).cast("long").as("n"),
        F.expr("""aggregate(a,
            struct(cast(array() as array<bigint>) as cs, cast(0 as bigint) as run),
            (acc, x) -> struct(concat(acc.cs, array(acc.run + x)), acc.run + x),
            acc -> concat_ws(',', slice(acc.cs, 1, 5)))""").as("cum5_csv"),
        F.expr("""concat_ws(',', slice(
            transform(a, (x, i) -> IF(i = 0, cast(0 as bigint), x - element_at(a, i))), 1, 5))""")
          .as("diff5_csv"),
        F.expr("""aggregate(a,
            struct(cast(0 as bigint) as cnt, cast(-9223372036854775808 as bigint) as prev),
            (acc, x) -> struct(acc.cnt + IF(x = acc.prev, 0, 1), x),
            acc -> acc.cnt)""").as("compact_n"),
        F.expr("aggregate(a, cast(0 as bigint), (acc, x) -> acc + x)").as("total_c"))
  }

  val qArrCumsumSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS tu, event_id,
      |   CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT) AS vc
      |  FROM events),
      |r AS (
      |  SELECT user_id, vc,
      |   ROW_NUMBER() OVER w AS i,
      |   SUM(vc) OVER (PARTITION BY user_id ORDER BY tu ASC, event_id ASC
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
      |   vc - LAG(vc, 1) OVER w AS d,
      |   CASE WHEN vc IS DISTINCT FROM LAG(vc, 1) OVER w THEN 1 ELSE 0 END AS chg
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY tu ASC, event_id ASC))
      |SELECT user_id, COUNT(*) AS n,
      | string_agg(CASE WHEN i <= 5 THEN CAST(cs AS VARCHAR) END, ',' ORDER BY i) AS cum5_csv,
      | string_agg(CASE WHEN i <= 5 THEN CAST(COALESCE(d, 0) AS VARCHAR) END, ',' ORDER BY i) AS diff5_csv,
      | CAST(SUM(chg) AS BIGINT) AS compact_n,
      | CAST(SUM(vc) AS BIGINT) AS total_c
      |FROM r GROUP BY 1""".stripMargin

  /** q_cusum: CUSUM change detection per event type — the classic
    * monitoring fold s_d = max(0, s_{d-1} + (x_d − k)) over the daily
    * value series, with allowance k = the type's mean daily sum
    * (integer div). The fold is sequential BY DEFINITION, so it runs as
    * one codegen'd `aggregate` over the type's sorted daily array
    * (bounded: ≤ #days elements — the same bounded-fold shape as
    * q_exp_decay); everything before it is ordinary distributed
    * aggregation. All BIGINT cents. Oracle = the identical recursion as
    * a recursive CTE (list_reduce avoided per the round-3 DuckDB
    * finding). Emits the final and max CUSUM — max > 0 flags a
    * sustained upward shift. */
  def qCusum(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "events")
      .select(F.col("event_type"),
        F.expr("unix_micros(ts) div 86400000000").as("d"),
        (Tables.dec2(F.col("value")) * 100).cast("long").as("vc"))
      .groupBy("event_type", "d").agg(F.sum("vc").as("x"))
    cusumOverDaily(daily)
  }

  /** The CUSUM fold over a (event_type, d, x) daily series — shared by
    * the batch query above and the incrementally-maintained streaming
    * monitor (graft.streaming.CusumSink), so the two paths are the same
    * plan by construction. */
  def cusumOverDaily(daily: DataFrame): DataFrame =
    daily.groupBy("event_type")
      .agg(F.sort_array(F.collect_list(F.struct(F.col("d"), F.col("x")))).as("a"),
        F.count(F.lit(1)).as("nd"), F.sum("x").as("tot"))
      .select(F.col("event_type"), F.col("nd"),
        F.expr("tot div nd").as("k"),
        F.expr("""aggregate(a,
            struct(cast(0 as bigint) as s, cast(0 as bigint) as mx),
            (acc, e) -> struct(
              greatest(cast(0 as bigint), acc.s + e.x - (tot div nd)),
              greatest(acc.mx,
                greatest(cast(0 as bigint), acc.s + e.x - (tot div nd)))),
            acc -> acc)""").as("c"))
      .select(F.col("event_type"), F.col("nd"), F.col("k"),
        F.col("c.s").as("final_cusum"), F.col("c.mx").as("max_cusum"))

  val qCusumSql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS d,
      |   CAST(SUM(CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |kk AS (
      |  SELECT event_type, COUNT(*) AS nd,
      |   CAST(SUM(x) // COUNT(*) AS BIGINT) AS k
      |  FROM daily GROUP BY 1),
      |seq AS (
      |  SELECT event_type, x,
      |   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d ASC) AS i
      |  FROM daily),
      |rec(event_type, i, s, mx) AS (
      |  SELECT q.event_type, 1,
      |   GREATEST(0, q.x - kk.k), GREATEST(0, q.x - kk.k)
      |  FROM seq q JOIN kk ON kk.event_type = q.event_type WHERE q.i = 1
      |  UNION ALL
      |  SELECT r.event_type, r.i + 1,
      |   GREATEST(0, r.s + q.x - kk.k),
      |   GREATEST(r.mx, GREATEST(0, r.s + q.x - kk.k))
      |  FROM rec r
      |  JOIN seq q ON q.event_type = r.event_type AND q.i = r.i + 1
      |  JOIN kk ON kk.event_type = r.event_type)
      |SELECT r.event_type, kk.nd, kk.k,
      | CAST(r.s AS BIGINT) AS final_cusum, CAST(r.mx AS BIGINT) AS max_cusum
      |FROM rec r JOIN kk ON kk.event_type = r.event_type
      |WHERE r.i = kk.nd""".stripMargin

  /** q_tukey: Tukey-fences outlier detection over each type's daily
    * series (ClickHouse seriesOutliersDetectTukey / the classic IQR
    * monitor, q_anomaly_mad's quartile sibling). Exact integers
    * throughout: type-1 quartiles are rank-selected elements of the
    * sorted bounded daily array (Q1 at ceil(n/4), Q3 at ceil(3n/4),
    * 1-based), and the 1.5·IQR fences are compared at 2× scale
    * (2v < 2Q1 − 3·IQR) so no halves ever materialize. Per-type state is
    * the day-count-bounded array; one aggregate + a map-only fold. The
    * oracle rank-selects via ROW_NUMBER — an independent formulation. */
  def qTukey(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "events")
      .select(F.col("event_type"),
        F.expr("unix_micros(ts) div 86400000000").as("d"),
        (Tables.dec2(F.col("value")) * 100).cast("long").as("vc"))
      .groupBy("event_type", "d").agg(F.sum("vc").as("x"))
    daily.groupBy("event_type")
      .agg(F.sort_array(F.collect_list("x")).as("a"),
        F.count(F.lit(1)).as("nd"))
      .select(F.col("event_type"), F.col("nd"),
        F.expr("element_at(a, cast((nd + 3) div 4 as int))").as("q1"),
        F.expr("element_at(a, cast((3 * nd + 3) div 4 as int))").as("q3"),
        F.col("a"))
      .select(F.col("event_type"), F.col("nd"), F.col("q1"), F.col("q3"),
        (F.col("q3") - F.col("q1")).as("iqr"),
        F.expr("""cast(size(filter(a,
            x -> 2 * x < 2 * q1 - 3 * (q3 - q1))) as bigint)""").as("n_out_lo"),
        F.expr("""cast(size(filter(a,
            x -> 2 * x > 2 * q3 + 3 * (q3 - q1))) as bigint)""").as("n_out_hi"))
  }

  val qTukeySql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS d,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |ranked AS (
      |  SELECT event_type, x,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS nd
      |  FROM daily),
      |qs AS (
      |  SELECT event_type, MAX(nd) AS nd,
      |    MAX(CASE WHEN rn = (nd + 3) // 4 THEN x END) AS q1,
      |    MAX(CASE WHEN rn = (3 * nd + 3) // 4 THEN x END) AS q3
      |  FROM ranked GROUP BY 1)
      |SELECT q.event_type, q.nd, q.q1, q.q3, q.q3 - q.q1 AS iqr,
      |  CAST(SUM(CASE WHEN 2 * r.x < 2 * q.q1 - 3 * (q.q3 - q.q1)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_out_lo,
      |  CAST(SUM(CASE WHEN 2 * r.x > 2 * q.q3 + 3 * (q.q3 - q.q1)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_out_hi
      |FROM qs q JOIN ranked r ON r.event_type = q.event_type
      |GROUP BY 1, 2, 3, 4, 5""".stripMargin

  /** q_arr_enum: ClickHouse arrayEnumerateUniq — for each user's
    * time-ordered event sequence, the occurrence index of each element
    * among its equals (1st click, 2nd click, …). The engine computes it
    * ARRAY-SIDE: one grouped pass builds the ordered array, then a
    * codegen'd transform-with-index counts equals in each prefix —
    * per-user O(len²) on a bounded activity stream, zero extra
    * exchanges. The oracle is the per-(user, type) ROW_NUMBER window —
    * an independent formulation, so the hash gate proves the array path
    * against the relational one. */
  def qArrEnum(s: SparkSession, dir: String): DataFrame = {
    val seq = Tables(s, dir, "events")
      .select(F.col("user_id"),
        F.struct(F.unix_micros(F.col("ts")).as("tu"), F.col("event_id"),
          F.col("event_type").as("et")).as("e"))
      .groupBy("user_id")
      .agg(F.expr("transform(sort_array(collect_list(e)), x -> x.et)").as("a"))
    seq.select(F.col("user_id"), F.posexplode(F.expr(
      """zip_with(a,
        |  transform(a, (x, i) -> size(filter(slice(a, 1, i), y -> y = x)) + 1),
        |  (et, occ) -> struct(et, cast(occ as bigint) as occ))""".stripMargin)))
      .select(F.col("user_id"), F.col("pos").cast("long").as("pos"),
        F.col("col.et").as("et"), F.col("col.occ").as("occ"))
  }

  val qArrEnumSql: String =
    """SELECT user_id,
      |  ROW_NUMBER() OVER (PARTITION BY user_id
      |    ORDER BY epoch_us(ts), event_id) - 1 AS pos,
      |  event_type AS et,
      |  ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |    ORDER BY epoch_us(ts), event_id) AS occ
      |FROM events""".stripMargin

  /** q_mov_median: moving EXACT median over each user's trailing-5-event
    * frame (the windowed medianExact / robust smoothing shape — the
    * median counterpart of q_movsum's moving sum). The frame is ROWS
    * BETWEEN 4 PRECEDING AND CURRENT ROW under the (ts, event_id) total
    * order, the median is type-1 (lower-middle element, exact cents — no
    * interpolation, no doubles): element (n+1) div 2 of the sorted
    * ≤5-element frame array. One window sort per user partition; the
    * per-row sort is over a constant-bounded array inside codegen. */
  def qMovMedian(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("tu", "event_id")
      .rowsBetween(-4, Window.currentRow)
    Tables(s, dir, "events")
      .select(F.col("user_id"), F.col("event_id"),
        F.unix_micros(F.col("ts")).as("tu"),
        (Tables.dec2(F.col("value")) * 100).cast("long").as("vc"))
      .withColumn("fr", F.sort_array(F.collect_list("vc").over(w)))
      .select(F.col("user_id"), F.col("event_id"), F.col("tu"), F.col("vc"),
        F.expr("element_at(fr, cast((size(fr) + 1) div 2 as int))").as("med5"),
        F.size(F.col("fr")).cast("long").as("n_frame"))
  }

  val qMovMedianSql: String =
    """SELECT user_id, event_id, tu, vc,
      |  ls[CAST((len(ls) + 1) // 2 AS BIGINT)] AS med5,
      |  CAST(len(ls) AS BIGINT) AS n_frame
      |FROM (
      |  SELECT user_id, event_id, epoch_us(ts) AS tu,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc,
      |    list_sort(list(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS ls
      |  FROM events)""".stripMargin

  /** q_twa: per-user TIME-WEIGHTED average value (the TWAP shape —
    * ClickHouse's avgWeighted over hold durations / timeSeries* family):
    * each event's value holds until the user's next event, weight = hold
    * duration in µs; twa = Σ(value·dur) / Σdur. The value×duration
    * products overflow BIGINT at month-scale holds (cents·µs ≈ 2.6e16 per
    * event, summed), so the moment sums accumulate in DECIMAL(38,0) on
    * the Spark side and HUGEINT on the oracle side — both exact — and the
    * terminal division is a single integer div emitting exact cents. One
    * window sort per user partition (lead), then one aggregate. */
  def qTwa(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy("user_id").orderBy("tu", "event_id")
    val held = Tables(s, dir, "events")
      .select(F.col("user_id"), F.col("event_id"),
        F.unix_micros(F.col("ts")).as("tu"),
        (Tables.dec2(F.col("value")) * 100).cast("long").as("vc"))
      .withColumn("dur", F.lead("tu", 1).over(w) - F.col("tu"))
      .filter(F.col("dur").isNotNull)
    held.groupBy("user_id")
      .agg(
        F.sum(F.col("vc").cast(DecimalType(38, 0)) * F.col("dur")).as("swv"),
        F.sum(F.col("dur").cast(DecimalType(38, 0))).as("sw"),
        F.count(F.lit(1)).as("n_holds"))
      .select(F.col("user_id"), F.col("n_holds"),
        F.expr("cast(sw as bigint)").as("held_us"),
        F.expr("cast(swv div sw as bigint)").as("twa_cents"))
  }

  val qTwaSql: String =
    """WITH held AS (
      |  SELECT user_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc,
      |    LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |      - epoch_us(ts) AS dur
      |  FROM events)
      |SELECT user_id, COUNT(*) AS n_holds,
      |  CAST(SUM(dur) AS BIGINT) AS held_us,
      |  CAST(SUM(vc * dur) // SUM(dur) AS BIGINT) AS twa_cents
      |FROM held WHERE dur IS NOT NULL
      |GROUP BY user_id""".stripMargin

  /** q_arr_setops: the ClickHouse array set-algebra family
    * (arrayIntersect / arrayDistinct-union / array difference, hasAll /
    * hasAny) over per-user event-type sets: set A = the types seen in a
    * user's even-event_id events, set B = the odd half (deterministic
    * halves of each stream). ONE grouped pass builds both sorted distinct
    * sets — per-user state is bounded by the 5-value type domain — and
    * the set algebra itself is Spark's codegen'd array functions on those
    * bounded arrays, map-only after the aggregate. The oracle computes
    * the identical sets via per-(user, type) boolean flags — an
    * independent formulation, so the hash gate proves the array-function
    * path end-to-end. */
  def qArrSetops(s: SparkSession, dir: String): DataFrame = {
    val sets = Tables(s, dir, "events")
      .select(F.col("user_id"), F.col("event_type"),
        (F.col("event_id") % 2 === 0).as("even"))
      .groupBy("user_id").agg(
        F.sort_array(F.collect_set(
          F.when(F.col("even"), F.col("event_type")))).as("sa"),
        F.sort_array(F.collect_set(
          F.when(!F.col("even"), F.col("event_type")))).as("sb"))
    sets.select(
      F.col("user_id"),
      F.concat_ws(",", F.col("sa")).as("set_a"),
      F.concat_ws(",", F.col("sb")).as("set_b"),
      F.concat_ws(",", F.sort_array(
        F.array_intersect(F.col("sa"), F.col("sb")))).as("inter"),
      F.concat_ws(",", F.sort_array(
        F.array_union(F.col("sa"), F.col("sb")))).as("uni"),
      F.concat_ws(",", F.sort_array(
        F.array_except(F.col("sa"), F.col("sb")))).as("a_not_b"),
      F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("long").as("n_inter"),
      F.when(F.size(F.array_except(F.col("sb"), F.col("sa"))) === 0, 1L)
        .otherwise(0L).as("has_all"),
      F.when(F.size(F.array_intersect(F.col("sa"), F.col("sb"))) > 0, 1L)
        .otherwise(0L).as("has_any"))
  }

  val qArrSetopsSql: String =
    """WITH f AS (
      |  SELECT user_id, event_type,
      |    MAX(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS in_a,
      |    MAX(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS in_b
      |  FROM events GROUP BY 1, 2)
      |SELECT user_id,
      |  COALESCE(string_agg(CASE WHEN in_a = 1 THEN event_type END, ','
      |    ORDER BY event_type), '') AS set_a,
      |  COALESCE(string_agg(CASE WHEN in_b = 1 THEN event_type END, ','
      |    ORDER BY event_type), '') AS set_b,
      |  COALESCE(string_agg(CASE WHEN in_a = 1 AND in_b = 1 THEN event_type END, ','
      |    ORDER BY event_type), '') AS inter,
      |  COALESCE(string_agg(CASE WHEN in_a = 1 OR in_b = 1 THEN event_type END, ','
      |    ORDER BY event_type), '') AS uni,
      |  COALESCE(string_agg(CASE WHEN in_a = 1 AND in_b = 0 THEN event_type END, ','
      |    ORDER BY event_type), '') AS a_not_b,
      |  CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_inter,
      |  CAST(CASE WHEN SUM(CASE WHEN in_b = 1 AND in_a = 0 THEN 1 ELSE 0 END) = 0
      |    THEN 1 ELSE 0 END AS BIGINT) AS has_all,
      |  CAST(CASE WHEN SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) > 0
      |    THEN 1 ELSE 0 END AS BIGINT) AS has_any
      |FROM f GROUP BY user_id""".stripMargin

  /** q_concurrency: ClickHouse `runningConcurrency(begin, end)` as a
    * bounded SERIES (q_max_intersections reports only the global peak;
    * this is the full concurrency profile, downsampled per hour): each
    * event opens an interval [st, st + 120 + event_id%300), the sweep is
    * one running sum over (+1 start, -1 end) points ordered (t, d) —
    * ends close before starts at a tie, matching q_max_intersections —
    * and each hour bucket reports its peak and trough concurrency.
    * Tie safety: among equal (t, d) points the MULTISET of running sums
    * is order-invariant, so per-hour max/min are deterministic even
    * though per-row values are not.
    *
    * Scale (the r6 VERDICT's #1 weak plan, fixed): the naive sweep
    * partitions by event_type alone (~5 partitions), so ONE task sorts
    * one type's entire point history. This is the day-sub-partitioned
    * form — an exact two-level prefix sum, no approximation: each
    * (event_type, day) partition computes its local running sum in
    * parallel, a per-day point-sum aggregate (|types|×|days| rows,
    * tiny) carries the exclusive prefix across days per type, and
    * run(t) = local_run(t) + carry(day) by associativity of the prefix
    * sum. Points land at their own timestamps, so days partition the
    * sweep cleanly regardless of interval length; hour buckets never
    * span days. At 100 TB every heavy operator — the local sweep and
    * the hour rollup — is keyed by (type, day)-grained keys, and the
    * only per-type sequential pass runs over the daily aggregate. */
  def qConcurrency(s: SparkSession, dir: String): DataFrame = {
    val iv = Tables(s, dir, "events")
      .select(F.col("event_type"), F.col("event_id"),
        F.expr("unix_micros(ts) div 1000000").as("st"))
      .withColumn("en", F.col("st") + 120L + F.col("event_id") % 300L)
    val pts = iv.select(F.col("event_type"), F.col("st").as("t"), F.lit(1L).as("d"))
      .unionAll(iv.select(F.col("event_type"), F.col("en").as("t"), F.lit(-1L).as("d")))
      .withColumn("day", F.expr("t div 86400"))
    val sweep = Window.partitionBy("event_type", "day")
      .orderBy(F.col("t").asc, F.col("d").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carryW = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = pts.groupBy("event_type", "day")
      .agg(F.sum("d").as("day_sum"))
      .withColumn("carry", F.coalesce(F.sum("day_sum").over(carryW), F.lit(0L)))
      .select("event_type", "day", "carry")
    pts.withColumn("lrun", F.sum("d").over(sweep))
      .join(F.broadcast(carry), Seq("event_type", "day"))
      .withColumn("run", F.col("lrun") + F.col("carry"))
      .groupBy(F.col("event_type"), F.expr("t div 3600").as("hr"))
      .agg(F.max("run").as("peak"), F.min("run").as("trough"),
        F.count(F.lit(1)).as("n_points"))
  }

  val qConcurrencySql: String =
    """WITH iv AS (
      |  SELECT event_type, event_id, epoch_us(ts) // 1000000 AS st,
      |   epoch_us(ts) // 1000000 + 120 + event_id % 300 AS en
      |  FROM events),
      |pts AS (
      |  SELECT event_type, st AS t, CAST(1 AS BIGINT) AS d FROM iv
      |  UNION ALL
      |  SELECT event_type, en AS t, CAST(-1 AS BIGINT) AS d FROM iv),
      |sw AS (
      |  SELECT event_type, t,
      |   SUM(d) OVER (PARTITION BY event_type ORDER BY t ASC, d ASC
      |     ROWS UNBOUNDED PRECEDING) AS run
      |  FROM pts)
      |SELECT event_type, t // 3600 AS hr, CAST(MAX(run) AS BIGINT) AS peak,
      | CAST(MIN(run) AS BIGINT) AS trough, COUNT(*) AS n_points
      |FROM sw GROUP BY 1, 2""".stripMargin

  /** q_stl_decompose: seasonal-trend decomposition of the daily value
    * series per event type (ClickHouse `seriesDecomposeSTL`'s shape,
    * deterministic-integer instead of LOESS): trend = centered 7-day
    * moving sum (full windows only) scaled to ×10⁶/7, seasonal =
    * per-day-of-week mean of the detrended series, residual = value −
    * trend − seasonal — additive decomposition, exact BIGINT throughout
    * (value in cents; every division a floor div with a fixed or
    * aggregated count), so it cross-checks bit-for-bit. Plan: one daily
    * rollup, one 7-row window per series, one (type, dow) aggregate
    * joined back broadcast-sized — each series partitions independently
    * at any scale. */
  def qStlDecompose(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "events")
      .groupBy(F.col("event_type"),
        F.expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(F.sum((Tables.dec2(F.col("value")) * 100).cast("long")).as("vc"))
    val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    val trended = daily
      .withColumn("wn", F.count(F.lit(1)).over(w))
      .withColumn("ws", F.sum("vc").over(w))
      .filter(F.col("wn") === 7) // full centered windows only
      .withColumn("t6", F.expr("(1000000 * ws) div 7"))
      .withColumn("det6", F.expr("1000000 * vc - t6"))
      .withColumn("dow", F.expr("day % 7"))
    val seas = trended.groupBy("event_type", "dow")
      .agg(F.expr("sum(det6) div count(1)").as("s6"))
    trended.join(F.broadcast(seas), Seq("event_type", "dow"))
      .select(F.col("event_type"), F.col("day"), F.col("vc"),
        F.col("t6"), F.col("s6"),
        F.expr("1000000 * vc - t6 - s6").as("r6"))
  }

  val qStlDecomposeSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |   SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS vc
      |  FROM events GROUP BY 1, 2),
      |tr AS (
      |  SELECT event_type, day, vc,
      |   COUNT(*) OVER (PARTITION BY event_type ORDER BY day
      |     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wn,
      |   SUM(vc) OVER (PARTITION BY event_type ORDER BY day
      |     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS ws
      |  FROM daily),
      |t2 AS (
      |  SELECT event_type, day, vc, (1000000 * ws) // 7 AS t6,
      |   1000000 * vc - (1000000 * ws) // 7 AS det6, day % 7 AS dow
      |  FROM tr WHERE wn = 7),
      |seas AS (
      |  SELECT event_type, dow, SUM(det6) // COUNT(*) AS s6
      |  FROM t2 GROUP BY 1, 2)
      |SELECT t2.event_type, CAST(day AS BIGINT) AS day, CAST(vc AS BIGINT) AS vc,
      | CAST(t6 AS BIGINT) AS t6, CAST(s6 AS BIGINT) AS s6,
      | CAST(1000000 * vc - t6 - s6 AS BIGINT) AS r6
      |FROM t2 JOIN seas USING (event_type, dow)""".stripMargin

  /** q_double_smooth: Holt DOUBLE exponential smoothing (level + trend)
    * per event type over the daily cents series — the forecasting
    * sibling of q_exp_decay's single smoothing. α = β = 1/2 keeps the
    * whole recursion in BIGINT with truncating halving at every step
    * (truncation IS the spec — both engines truncate identically, see
    * q_stl_decompose), so the sequential fold cross-checks bit-for-bit:
    * l_t = (x_t + l + b) div 2, b_t = (l_t − l + b) div 2; output =
    * final level/trend + the 7-step linear forecast. The fold runs as
    * ONE codegen'd `aggregate` over each type's collected daily array
    * (series length = days, bounded; each series independent — the
    * 100 TB layout is one fold per series partition); the oracle is a
    * recursive CTE, NOT list_reduce (DuckDB 1.0 miscomputes some
    * grouped ~100-element folds — SURVEY §7.2 finding). */
  def qDoubleSmooth(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "events")
      .groupBy(F.col("event_type"),
        F.expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(F.sum((Tables.dec2(F.col("value")) * 100).cast("long")).as("vc"))
    daily.groupBy("event_type")
      .agg(F.sort_array(F.collect_list(F.struct(F.col("day"), F.col("vc"))))
        .as("a"))
      .select(F.col("event_type"),
        F.expr("size(a)").cast("long").as("n_days"),
        F.expr(
          """aggregate(slice(a, 2, size(a) - 1),
            |  struct(element_at(a, 1).vc AS l, cast(0 as bigint) AS b),
            |  (acc, x) -> struct(
            |    (x.vc + acc.l + acc.b) div 2 AS l,
            |    ((x.vc + acc.l + acc.b) div 2 - acc.l + acc.b) div 2 AS b),
            |  acc -> acc)""".stripMargin).as("st"))
      .select(F.col("event_type"), F.col("n_days"),
        F.col("st.l").as("level"), F.col("st.b").as("trend"),
        F.expr("st.l + 7 * st.b").as("forecast7"))
  }

  val qDoubleSmoothSql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |   CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS vc
      |  FROM events GROUP BY 1, 2),
      |idx AS (
      |  SELECT event_type, vc,
      |   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i
      |  FROM daily),
      |n AS (SELECT event_type, MAX(i) AS mx FROM idx GROUP BY 1),
      |rec AS (
      |  SELECT event_type, CAST(1 AS BIGINT) AS i, vc AS l,
      |   CAST(0 AS BIGINT) AS b
      |  FROM idx WHERE i = 1
      |  UNION ALL
      |  SELECT r.event_type, r.i + 1,
      |   (d.vc + r.l + r.b) // 2,
      |   ((d.vc + r.l + r.b) // 2 - r.l + r.b) // 2
      |  FROM rec r JOIN idx d ON d.event_type = r.event_type AND d.i = r.i + 1)
      |SELECT r.event_type, CAST(n.mx AS BIGINT) AS n_days, r.l AS level,
      | r.b AS trend, r.l + 7 * r.b AS forecast7
      |FROM rec r JOIN n ON n.event_type = r.event_type AND r.i = n.mx""".stripMargin

  /** q_active_users: DAU / WAU / MAU per day — the rolling-distinct
    * engagement rollup. Exact formulation: dedupe to (user, day) once,
    * then each active day CONTRIBUTES itself to the 7/28 following
    * report days (explode of a bounded offset sequence — rows = |ud|×28,
    * never |events|×28) and a distinct-count per report day; report days
    * restricted to days that exist in the data. At 100 TB the windowed
    * distinct runs as per-day Roaring bitmaps OR-merged across the
    * window (graft.operators.BitmapDistinct — same counts, O(days)
    * bitmap state instead of the fan-out join); the explode form here is
    * the exactness tier both engines replay. */
  def qActiveUsers(s: SparkSession, dir: String): DataFrame = {
    val ud = Tables(s, dir, "events")
      .select(F.col("user_id"),
        F.expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val days = ud.select(F.col("day").as("d")).distinct()
    def rolling(win: Int, name: String) = ud
      .withColumn("d", F.explode(F.expr(s"sequence(day, day + ${win - 1})")))
      .join(days, "d")
      .groupBy("d").agg(F.count_distinct(F.col("user_id")).as(name))
    val dau = ud.groupBy(F.col("day").as("d"))
      .agg(F.count_distinct(F.col("user_id")).as("dau"))
    dau.join(rolling(7, "wau"), "d").join(rolling(28, "mau"), "d")
  }

  val qActiveUsersSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |days AS (SELECT DISTINCT day AS d FROM ud),
      |wau AS (
      |  SELECT day + o AS d, COUNT(DISTINCT user_id) AS wau
      |  FROM ud, UNNEST(range(0, 7)) AS u(o)
      |  WHERE day + o IN (SELECT d FROM days) GROUP BY 1),
      |mau AS (
      |  SELECT day + o AS d, COUNT(DISTINCT user_id) AS mau
      |  FROM ud, UNNEST(range(0, 28)) AS u(o)
      |  WHERE day + o IN (SELECT d FROM days) GROUP BY 1),
      |dau AS (SELECT day AS d, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY 1)
      |SELECT CAST(dau.d AS BIGINT) AS d, CAST(dau AS BIGINT) AS dau,
      | CAST(wau AS BIGINT) AS wau, CAST(mau AS BIGINT) AS mau
      |FROM dau JOIN wau ON wau.d = dau.d JOIN mau ON mau.d = dau.d""".stripMargin

  /** q_cohort_inc: the cohort-retention matrix MAINTAINED incrementally —
    * the SAME per-day Roaring-bitmap state ActiveUsersSink already keeps
    * for DAU/WAU/MAU serves the retention read too (no second
    * maintenance pipeline): weekly bitmaps OR-fold member days,
    * first-seen = bitmap_andnot against the OR of earlier weeks, each
    * cell one AND-cardinality. Gated under q_cohort_matrix's batch
    * oracle with time-split batches + a replayed batch. */
  def qCohortInc(s: SparkSession, dir: String): DataFrame =
    activeUsersReplay(s, dir, "graft_cohort")(graft.streaming.ActiveUsersSink.cohortRead)

  /** q_active_users_inc: the INCREMENTALLY-MAINTAINED DAU/WAU/MAU
    * (graft.streaming.ActiveUsersSink — one Roaring bitmap per day,
    * OR-merged per micro-batch) driven as a driver entry: the event
    * history replays as three micro-batches split by time, batch 1 is
    * REDELIVERED (must be a no-op), and the maintained read is
    * hash-gated under q_active_users' own oracle — the bitmap-algebra
    * maintenance path and the batch explode path must agree count for
    * count. */
  def qActiveUsersInc(s: SparkSession, dir: String): DataFrame =
    activeUsersReplay(s, dir, "graft_ausnap")(graft.streaming.ActiveUsersSink.read)

  /** The replay q_cohort_inc and q_active_users_inc share: the events as
    * three user-quantile batches folded into one ActiveUsersSink state,
    * batch 1 redelivered (must be a no-op), then `read` of that state. */
  private def activeUsersReplay(s: SparkSession, dir: String, tag: String)
                               (read: (SparkSession, String) => DataFrame): DataFrame =
    ScenarioDirs.run(tag) { snap =>
      val ev = Tables(s, dir, "events").select("user_id", "ts")
      val Array(lo, hi) = ev.stat.approxQuantile("user_id", Array(0.33, 0.66), 0.0)
      val b0 = ev.filter(F.col("user_id") <= lo)
      val b1 = ev.filter(F.col("user_id") > lo && F.col("user_id") <= hi)
      val b2 = ev.filter(F.col("user_id") > hi)
      graft.streaming.ActiveUsersSink.applyBatch(b0, snap.toString, 0L)
      graft.streaming.ActiveUsersSink.applyBatch(b1, snap.toString, 1L)
      graft.streaming.ActiveUsersSink.applyBatch(b1, snap.toString, 1L) // replay
      graft.streaming.ActiveUsersSink.applyBatch(b2, snap.toString, 2L)
      read(s, snap.toString)
    }

  /** q_trend_mk: the Mann-Kendall trend test over each event type's
    * daily cents-sum series (the standard nonparametric "is this metric
    * drifting" monitor; ClickHouse ships its cousins mannWhitneyUTest /
    * rankCorr): S = Σ_{i<j} sign(x_j − x_i) over day-ordered values,
    * with the positive/negative pair split. Exact BIGINT end to end —
    * sign compares only. The pair self-join is |days|² PER TYPE:
    * bounded by the calendar (n_days² ≈ 10⁴ at a year), never by event
    * volume — the daily rollup is the only pass over the fact table. */
  def qTrendMk(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "events")
      .groupBy(F.col("event_type"),
        F.expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(F.sum((Tables.dec2(F.col("value")) * 100).cast("long")).as("vc"))
      .localCheckpoint() // calendar-sized; feeds both pair-join sides
    val a = daily.select(F.col("event_type"), F.col("day").as("di"),
      F.col("vc").as("xi"))
    val b = daily.select(F.col("event_type"), F.col("day").as("dj"),
      F.col("vc").as("xj"))
    a.join(b, "event_type").filter(F.col("di") < F.col("dj"))
      .groupBy("event_type")
      .agg(F.count(F.lit(1)).as("n_pairs"),
        F.sum(F.when(F.col("xj") > F.col("xi"), 1L)
          .when(F.col("xj") < F.col("xi"), -1L).otherwise(0L)).as("s_stat"),
        F.sum(F.when(F.col("xj") > F.col("xi"), 1L).otherwise(0L)).as("n_pos"),
        F.sum(F.when(F.col("xj") < F.col("xi"), 1L).otherwise(0L)).as("n_neg"))
  }

  val qTrendMkSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |   CAST(SUM(CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT)) AS BIGINT) AS vc
      |  FROM events GROUP BY 1, 2)
      |SELECT a.event_type, COUNT(*) AS n_pairs,
      | CAST(SUM(CASE WHEN b.vc > a.vc THEN 1 WHEN b.vc < a.vc THEN -1 ELSE 0 END) AS BIGINT) AS s_stat,
      | CAST(SUM(CASE WHEN b.vc > a.vc THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      | CAST(SUM(CASE WHEN b.vc < a.vc THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
      |FROM daily a JOIN daily b ON a.event_type = b.event_type AND a.day < b.day
      |GROUP BY 1""".stripMargin

  /** q_autocorr: lag-1 and lag-7 autocorrelation of the daily series per
    * event type, as EXACT integer numerator/denominator pairs (the float
    * division is the caller's one lossy step): values are mean-centered
    * with a floor-div mean and scaled to kilocents (both floor divs —
    * identical on both engines), then num(k) = Σ c_t·c_{t+k} over
    * day-adjacent pairs (t+k present), den = Σ c_t² over the series.
    * Kilocent squares keep products < 2⁶³ through 100× data. One daily
    * rollup, one broadcast mean join, one small self-join per lag. */
  def qAutocorr(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "events")
      .groupBy(F.col("event_type"),
        F.expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(F.sum((Tables.dec2(F.col("value")) * 100).cast("long")).as("vc"))
      .localCheckpoint()
    val mean = daily.groupBy("event_type")
      .agg(F.expr("sum(vc) div count(1)").as("mu"))
    val cent = daily.join(F.broadcast(mean), "event_type")
      .select(F.col("event_type"), F.col("day"),
        F.expr("(vc - mu) div 1000").as("c"))
    val lags = cent.withColumn("lag", F.explode(F.typedlit(Seq(1L, 7L))))
    // shifted side fully renamed before the self-join (same-attribute
    // equality logs a "trivially true predicate" WARN)
    val shifted = cent.select(F.col("event_type").as("et_k"),
      F.col("day").as("dk"), F.col("c").as("ck"))
    val num = lags.join(shifted,
        F.col("event_type") === F.col("et_k") &&
          F.col("day") + F.col("lag") === F.col("dk"))
      .groupBy("event_type", "lag")
      .agg(F.sum(F.col("c") * F.col("ck")).as("num"), F.count(F.lit(1)).as("n_pairs"))
    val den = cent.groupBy("event_type")
      .agg(F.sum(F.col("c") * F.col("c")).as("den"))
    num.join(F.broadcast(den), "event_type")
      .select("event_type", "lag", "n_pairs", "num", "den")
  }

  val qAutocorrSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |   CAST(SUM(CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT)) AS BIGINT) AS vc
      |  FROM events GROUP BY 1, 2),
      |mu AS (SELECT event_type, CAST(SUM(vc) // COUNT(*) AS BIGINT) AS mu
      |  FROM daily GROUP BY 1),
      |cent AS (
      |  SELECT d.event_type, d.day, CAST((d.vc - mu.mu) // 1000 AS BIGINT) AS c
      |  FROM daily d JOIN mu ON d.event_type = mu.event_type),
      |den AS (SELECT event_type, CAST(SUM(c * c) AS BIGINT) AS den
      |  FROM cent GROUP BY 1),
      |num AS (
      |  SELECT a.event_type, l.lag, COUNT(*) AS n_pairs,
      |   CAST(SUM(a.c * b.c) AS BIGINT) AS num
      |  FROM cent a
      |  CROSS JOIN (SELECT UNNEST([1, 7]) AS lag) l
      |  JOIN cent b ON b.event_type = a.event_type AND b.day = a.day + l.lag
      |  GROUP BY 1, 2)
      |SELECT n.event_type, CAST(n.lag AS BIGINT) AS lag, n.n_pairs, n.num, d.den
      |FROM num n JOIN den d ON n.event_type = d.event_type""".stripMargin

  /** q_runs_test: the Wald–Wolfowitz runs test over each event type's
    * daily series — runs of above/below-median days plus the above
    * count (the classic "is this series random or clustered" check
    * next to q_trend_mk's monotonic-trend probe). Median is the
    * deterministic ((n+1) div 2)-th value in (vc, day) order, so the
    * whole statistic is integer compares — engine-exact. All windows
    * run over the per-type DAILY aggregate (calendar-bounded), never
    * the fact table. */
  def qRunsTest(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "events")
      .groupBy(F.col("event_type"),
        F.expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(F.sum((Tables.dec2(F.col("value")) * 100).cast("long")).as("vc"))
      .localCheckpoint()
    val wOrd = Window.partitionBy("event_type").orderBy("vc", "day")
    val med = daily
      .withColumn("rn", F.row_number().over(wOrd))
      .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("event_type")))
      .filter(F.col("rn") === F.expr("(n + 1) div 2"))
      .select(F.col("event_type"), F.col("vc").as("med"))
    val wDay = Window.partitionBy("event_type").orderBy("day")
    daily.join(F.broadcast(med), "event_type")
      .select(F.col("event_type"), F.col("day"),
        (F.col("vc") > F.col("med")).cast("long").as("above"))
      .withColumn("prev", F.lag("above", 1).over(wDay))
      .groupBy("event_type")
      .agg(F.count(F.lit(1)).as("n_days"),
        F.sum("above").as("n_above"),
        F.sum(F.when(F.col("prev").isNull ||
          F.col("prev") =!= F.col("above"), 1L).otherwise(0L)).as("n_runs"))
  }

  val qRunsTestSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |   CAST(SUM(CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT)) AS BIGINT) AS vc
      |  FROM events GROUP BY 1, 2),
      |rk AS (
      |  SELECT event_type, day, vc,
      |   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY vc, day) AS rn,
      |   COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM daily),
      |med AS (SELECT event_type, vc AS med FROM rk WHERE rn = (n + 1) // 2),
      |flag AS (
      |  SELECT d.event_type, d.day,
      |   CASE WHEN d.vc > m.med THEN 1 ELSE 0 END AS above
      |  FROM daily d JOIN med m USING (event_type)),
      |lagd AS (
      |  SELECT event_type, above,
      |   LAG(above) OVER (PARTITION BY event_type ORDER BY day) AS prev
      |  FROM flag)
      |SELECT event_type, COUNT(*) AS n_days,
      | CAST(SUM(above) AS BIGINT) AS n_above,
      | CAST(SUM(CASE WHEN prev IS NULL OR prev <> above THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
      |FROM lagd GROUP BY 1""".stripMargin

  /** q_movers: period-over-period MOVER detection — the top-10 users by
    * absolute spend change between the observed range's first and
    * second half (the "biggest movers" panel of every metrics
    * dashboard). The midpoint is (min_day + max_day + 1) div 2 from a
    * broadcast bounds aggregate, both halves are conditional sums in
    * ONE pass over the facts, and the ranking is
    * TakeOrderedAndProject(10) on (|Δ| desc, user_id) — exact cents
    * BIGINTs throughout. */
  def qMovers(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(F.col("user_id"),
        F.expr("unix_micros(ts) div 86400000000").as("day"),
        (Tables.dec2(F.col("value")) * 100).cast("long").as("vc"))
    val bounds = ev.agg(F.min("day").as("mn"), F.max("day").as("mx"))
    ev.crossJoin(F.broadcast(bounds))
      .withColumn("mid", F.expr("(mn + mx + 1) div 2"))
      .groupBy("user_id")
      .agg(F.sum(F.when(F.col("day") < F.col("mid"), F.col("vc"))
          .otherwise(0L)).as("c1"),
        F.sum(F.when(F.col("day") >= F.col("mid"), F.col("vc"))
          .otherwise(0L)).as("c2"))
      .withColumn("delta", F.col("c2") - F.col("c1"))
      .orderBy(F.abs(F.col("delta")).desc, F.col("user_id"))
      .limit(10)
  }

  val qMoversSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
      |  FROM events),
      |b AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS mid FROM ev),
      |agg AS (
      |  SELECT user_id,
      |   CAST(SUM(CASE WHEN day < b.mid THEN vc ELSE 0 END) AS BIGINT) AS c1,
      |   CAST(SUM(CASE WHEN day >= b.mid THEN vc ELSE 0 END) AS BIGINT) AS c2
      |  FROM ev CROSS JOIN b GROUP BY user_id, b.mid)
      |SELECT user_id, c1, c2, c2 - c1 AS delta
      |FROM agg ORDER BY abs(c2 - c1) DESC, user_id LIMIT 10""".stripMargin

  /** q_rfm: RFM (recency / frequency / monetary) customer segmentation
    * — the classic CRM rollup: per user, days since last activity,
    * event count, cents spend, each bucketed on a LOG₂ scale (binary
    * digit count, the q_hist_pow2 trick — engine-exact, and crucially
    * NO global quantile sort: the conventional quintile form needs a
    * corpus-wide ranking; log buckets keep the whole plan one
    * per-user aggregate + one map). rfm_code = r·10000 + f·100 + m;
    * output is the segment histogram. */
  def qRfm(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(F.col("user_id"),
        F.expr("unix_micros(ts) div 86400000000").as("day"),
        (Tables.dec2(F.col("value")) * 100).cast("long").as("vc"))
    val bounds = ev.agg(F.max("day").as("mxd"))
    ev.crossJoin(F.broadcast(bounds))
      .groupBy("user_id")
      .agg(F.min(F.col("mxd") - F.col("day")).as("recency"),
        F.count(F.lit(1)).as("freq"), F.sum("vc").as("cents"))
      .select(F.col("user_id"),
        F.expr("length(bin(recency + 1))").cast("long").as("r"),
        F.expr("length(bin(freq))").cast("long").as("f"),
        F.expr("length(bin(greatest(cents, 1)))").cast("long").as("m"))
      .groupBy(F.expr("r * 10000 + f * 100 + m").as("rfm_code"))
      .agg(F.count(F.lit(1)).as("n_users"))
  }

  val qRfmSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
      |  FROM events),
      |b AS (SELECT MAX(day) AS mxd FROM ev),
      |u AS (
      |  SELECT user_id, MIN(b.mxd - day) AS recency, COUNT(*) AS freq,
      |   CAST(SUM(vc) AS BIGINT) AS cents
      |  FROM ev CROSS JOIN b GROUP BY user_id),
      |c AS (
      |  SELECT length(bin(recency + 1)) AS r, length(bin(freq)) AS f,
      |   length(bin(greatest(cents, 1))) AS m
      |  FROM u)
      |SELECT CAST(r * 10000 + f * 100 + m AS BIGINT) AS rfm_code,
      | COUNT(*) AS n_users
      |FROM c GROUP BY 1""".stripMargin

  /** q_markov: the event-type TRANSITION MATRIX over per-user event
    * sequences (the Markov/Sankey panel of product analytics;
    * generalizes q_seq_next_node's single lookup to the full matrix):
    * consecutive-pair counts via one per-user lead window — partitioned
    * by user, so the sort is per-user history, never global — then
    * row-normalized transition probabilities as exact integer ppm
    * against the broadcast row totals. */
  def qMarkov(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(F.col("tu").asc, F.col("event_id").asc)
    val pairs = Tables(s, dir, "events")
      .select(F.col("user_id"), F.unix_micros(F.col("ts")).as("tu"),
        F.col("event_id"), F.col("event_type"))
      .withColumn("next_type", F.lead("event_type", 1).over(w))
      .filter(F.col("next_type").isNotNull)
      .groupBy("event_type", "next_type")
      .agg(F.count(F.lit(1)).as("n"))
      .localCheckpoint() // |types|² rows; feeds row totals AND the join
    val rowTot = pairs.groupBy("event_type").agg(F.sum("n").as("rt"))
    pairs.join(F.broadcast(rowTot), "event_type")
      .select(F.col("event_type"), F.col("next_type"), F.col("n"),
        F.expr("(1000000 * n) div rt").as("p_ppm"))
  }

  val qMarkovSql: String =
    """WITH seq AS (
      |  SELECT event_type,
      |   LEAD(event_type) OVER (PARTITION BY user_id
      |     ORDER BY epoch_us(ts) ASC, event_id ASC) AS next_type
      |  FROM events),
      |pairs AS (
      |  SELECT event_type, next_type, COUNT(*) AS n FROM seq
      |  WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |rt AS (SELECT event_type, SUM(n) AS rt FROM pairs GROUP BY 1)
      |SELECT p.event_type, p.next_type, p.n,
      | CAST((1000000 * p.n) // r.rt AS BIGINT) AS p_ppm
      |FROM pairs p JOIN rt r ON r.event_type = p.event_type""".stripMargin

  /** q_ohlc: daily OHLC bars per event type — open/close = the value at
    * the deterministic (tu, event_id) order's endpoints, high/low/count
    * exact aggregates (the candlestick rollup every time-series store
    * ships). Open/close pick via rank-1 markers from a (type, day)-
    * partitioned window pair — keyed by day, so partitions stay bounded
    * at any scale — folded into ONE aggregate. */
  def qOhlc(s: SparkSession, dir: String): DataFrame = {
    val wAsc = Window.partitionBy("event_type", "day")
      .orderBy(F.col("tu").asc, F.col("event_id").asc)
    val wDesc = Window.partitionBy("event_type", "day")
      .orderBy(F.col("tu").desc, F.col("event_id").desc)
    Tables(s, dir, "events")
      .select(F.col("event_type"),
        F.expr("unix_micros(ts) div 86400000000").as("day"),
        F.unix_micros(F.col("ts")).as("tu"), F.col("event_id"),
        (Tables.dec2(F.col("value")) * 100).cast("long").as("vc"))
      .withColumn("rna", F.row_number().over(wAsc))
      .withColumn("rnd", F.row_number().over(wDesc))
      .groupBy("event_type", "day")
      .agg(F.max(F.when(F.col("rna") === 1, F.col("vc"))).as("open_c"),
        F.max("vc").as("high_c"), F.min("vc").as("low_c"),
        F.max(F.when(F.col("rnd") === 1, F.col("vc"))).as("close_c"),
        F.count(F.lit(1)).as("n"))
  }

  val qOhlcSql: String =
    """WITH ev AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |   epoch_us(ts) AS tu, event_id,
      |   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
      |  FROM events),
      |rk AS (
      |  SELECT *,
      |   ROW_NUMBER() OVER (PARTITION BY event_type, day
      |     ORDER BY tu ASC, event_id ASC) AS rna,
      |   ROW_NUMBER() OVER (PARTITION BY event_type, day
      |     ORDER BY tu DESC, event_id DESC) AS rnd
      |  FROM ev)
      |SELECT event_type, day,
      | CAST(MAX(CASE WHEN rna = 1 THEN vc END) AS BIGINT) AS open_c,
      | CAST(MAX(vc) AS BIGINT) AS high_c, CAST(MIN(vc) AS BIGINT) AS low_c,
      | CAST(MAX(CASE WHEN rnd = 1 THEN vc END) AS BIGINT) AS close_c,
      | COUNT(*) AS n
      |FROM rk GROUP BY 1, 2""".stripMargin

  /** q_benford: first-significant-digit distribution of the cents
    * values per event type vs Benford's law — the standard forensic
    * screen over financial-ish columns. First digit via the decimal
    * string's head (identical rendering of positive BIGINTs in both
    * engines — zero arithmetic); expected Benford ppm from a broadcast
    * 9-row literal table; counts and shares exact integers. */
  def qBenford(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables(s, dir, "events")
      .select(F.col("event_type"),
        (Tables.dec2(F.col("value")) * 100).cast("long").as("vc"))
      .filter(F.col("vc") > 0)
      .withColumn("d", F.expr("cast(substring(cast(vc as string), 1, 1) as bigint)"))
      .groupBy("event_type", "d")
      .agg(F.count(F.lit(1)).as("n"))
    val tot = counts.groupBy("event_type").agg(F.sum("n").as("tot"))
    counts.join(F.broadcast(tot), "event_type")
      .select(F.col("event_type"), F.col("d"), F.col("n"),
        F.expr("(1000000 * n) div tot").as("obs_ppm"))
  }

  val qBenfordSql: String =
    """WITH v AS (
      |  SELECT event_type,
      |   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
      |  FROM events),
      |c AS (
      |  SELECT event_type,
      |   CAST(substring(CAST(vc AS VARCHAR), 1, 1) AS BIGINT) AS d,
      |   COUNT(*) AS n
      |  FROM v WHERE vc > 0 GROUP BY 1, 2),
      |t AS (SELECT event_type, SUM(n) AS tot FROM c GROUP BY 1)
      |SELECT c.event_type, c.d, c.n,
      | CAST((1000000 * c.n) // t.tot AS BIGINT) AS obs_ppm
      |FROM c JOIN t ON t.event_type = c.event_type""".stripMargin

  /** q_backtest: seasonal-naive FORECAST BACKTEST per event type —
    * predict each day's total by the value 7 days earlier and report
    * the exact error mass (Σ|err| in cents and Σ per-row APE as
    * integer ppm): the baseline every forecasting deployment must
    * beat, and the metric STL/Holt outputs get judged against. One
    * daily rollup + one per-type lag window (calendar-bounded). */
  def qBacktest(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
    Tables(s, dir, "events")
      .groupBy(F.col("event_type"),
        F.expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(F.sum((Tables.dec2(F.col("value")) * 100).cast("long")).as("vc"))
      .withColumn("pred", F.lag("vc", 7).over(w))
      .filter(F.col("pred").isNotNull)
      .groupBy("event_type")
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(F.abs(F.col("vc") - F.col("pred"))).as("sae_c"),
        F.sum(F.expr("(1000000 * abs(vc - pred)) div greatest(abs(vc), 1)"))
          .as("sape6"))
  }

  val qBacktestSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |   CAST(SUM(CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT)) AS BIGINT) AS vc
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT event_type, vc,
      |   LAG(vc, 7) OVER (PARTITION BY event_type ORDER BY day) AS pred
      |  FROM daily)
      |SELECT event_type, COUNT(*) AS n,
      | CAST(SUM(abs(vc - pred)) AS BIGINT) AS sae_c,
      | CAST(SUM((1000000 * abs(vc - pred)) // greatest(abs(vc), 1)) AS BIGINT) AS sape6
      |FROM p WHERE pred IS NOT NULL GROUP BY 1""".stripMargin

  /** q_markov_inc: the transition matrix MAINTAINED incrementally
    * (MarkovSink) and gated under q_markov's own batch oracle — events
    * replayed as three TIME-SPLIT batches (so per-user sequences SPAN
    * batch boundaries and the per-user last-event carry is exercised),
    * with one batch replayed to prove idempotence and a final
    * BEYOND-DELAY redelivery batch (already-sealed events arriving
    * again in a NEW batchId) that the sealed-frontier drop rule must
    * discard wholesale — counted nowhere rather than double-counted,
    * which pins the watermark drop semantics under the hash gate, not
    * just in MarkovSinkSpec. */
  def qMarkovInc(s: SparkSession, dir: String): DataFrame =
    ScenarioDirs.run("graft_mksnap") { snap =>
      val ev = Tables(s, dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
      val Array(lo, hi, top) = ev.select(F.unix_micros(F.col("ts")).as("tu"))
        .stat.approxQuantile("tu", Array(0.33, 0.66, 1.0), 0.0)
      val b0 = ev.filter(F.unix_micros(F.col("ts")) <= lo)
      val b1 = ev.filter(F.unix_micros(F.col("ts")) > lo &&
        F.unix_micros(F.col("ts")) <= hi)
      val b2 = ev.filter(F.unix_micros(F.col("ts")) > hi)
      graft.streaming.MarkovSink.applyBatch(b0, snap.toString, 0L)
      graft.streaming.MarkovSink.applyBatch(b1, snap.toString, 1L)
      graft.streaming.MarkovSink.applyBatch(b1, snap.toString, 1L) // replay
      graft.streaming.MarkovSink.applyBatch(b2, snap.toString, 2L)
      // beyond-delay redelivery: everything here is ≥ 2 delays behind the
      // stream max, hence SEALED and at-or-behind its user's frontier —
      // the drop rule must discard all of it or the oracle hash breaks
      val bLate = ev.filter(F.unix_micros(F.col("ts")) <=
        math.min(lo, top - 2 * graft.streaming.MarkovSink.DefaultDelayMs * 1000.0))
      graft.streaming.MarkovSink.applyBatch(bLate, snap.toString, 3L)
      graft.streaming.MarkovSink.read(s, snap.toString)
    }

  /** q_spc: STATISTICAL PROCESS CONTROL breaches — per event type, days
    * whose daily total deviates more than 3σ from the type's mean (the
    * Shewhart control-chart screen). Exact integer algebra: deviations
    * mean-centered with a floor-div mean and scaled to kilocents
    * (engine-identical floor divs), then a day breaches iff
    * n·cd² > 9·Σcd² — both sides exact BIGINTs (kilocent squares stay
    * under 2⁶³ through 100×). One daily rollup + one broadcast mean +
    * one broadcast variance join. */
  def qSpc(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "events")
      .groupBy(F.col("event_type"),
        F.expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(F.sum((Tables.dec2(F.col("value")) * 100).cast("long")).as("vc"))
      .localCheckpoint()
    val mean = daily.groupBy("event_type")
      .agg(F.expr("sum(vc) div count(1)").as("mu"), F.count(F.lit(1)).as("n"))
    val cent = daily.join(F.broadcast(mean), "event_type")
      .select(F.col("event_type"), F.col("day"), F.col("n"),
        F.expr("(vc - mu) div 1000").as("cd"))
    val varSum = cent.groupBy("event_type")
      .agg(F.sum(F.col("cd") * F.col("cd")).as("ss"))
    cent.join(F.broadcast(varSum), "event_type")
      .groupBy("event_type")
      .agg(F.max("n").as("n_days"),
        F.sum(F.when(F.col("n") * F.col("cd") * F.col("cd") > F.lit(9L) * F.col("ss")
            && F.col("cd") > 0, 1L).otherwise(0L)).as("n_breach_hi"),
        F.sum(F.when(F.col("n") * F.col("cd") * F.col("cd") > F.lit(9L) * F.col("ss")
            && F.col("cd") < 0, 1L).otherwise(0L)).as("n_breach_lo"))
  }

  val qSpcSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |   CAST(SUM(CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT)) AS BIGINT) AS vc
      |  FROM events GROUP BY 1, 2),
      |mu AS (
      |  SELECT event_type, CAST(SUM(vc) // COUNT(*) AS BIGINT) AS mu,
      |   COUNT(*) AS n
      |  FROM daily GROUP BY 1),
      |cent AS (
      |  SELECT d.event_type, mu.n, CAST((d.vc - mu.mu) // 1000 AS BIGINT) AS cd
      |  FROM daily d JOIN mu ON d.event_type = mu.event_type),
      |ss AS (SELECT event_type, CAST(SUM(cd * cd) AS BIGINT) AS ss
      |  FROM cent GROUP BY 1)
      |SELECT c.event_type, CAST(MAX(c.n) AS BIGINT) AS n_days,
      | CAST(SUM(CASE WHEN c.n * c.cd * c.cd > 9 * s.ss AND c.cd > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_breach_hi,
      | CAST(SUM(CASE WHEN c.n * c.cd * c.cd > 9 * s.ss AND c.cd < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_breach_lo
      |FROM cent c JOIN ss s ON s.event_type = c.event_type
      |GROUP BY 1""".stripMargin

  /** q_bounce_rate: per-day session quality — sessions starting that
    * day, single-event (bounce) sessions, and the bounce ppm (the web
    * analytics headline over q_sessionize's 30-min-gap sessions — same
    * gap fold, one more rollup keyed by start day). */
  def qBounceRate(s: SparkSession, dir: String): DataFrame = {
    val sessions = SessionFold.sessionized(Tables(s, dir, "events")
      .withColumn("us", F.unix_micros(F.col("ts"))))
      .groupBy("user_id", "sess_idx")
      .agg(F.count(F.lit(1)).as("n_events"),
        F.expr("min(us) div 86400000000").as("day"))
    sessions.groupBy("day")
      .agg(F.count(F.lit(1)).as("n_sessions"),
        F.sum(F.when(F.col("n_events") === 1, 1L).otherwise(0L)).as("n_bounce"))
      .withColumn("bounce_ppm", F.expr("(1000000 * n_bounce) div n_sessions"))
  }

  val qBounceRateSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800 * 1000000
      |    THEN 1 ELSE 0 END AS new_sess
      |  FROM (SELECT *, LAG(us) OVER (PARTITION BY user_id
      |    ORDER BY us ASC, event_id ASC) AS prev_us FROM ev) x),
      |sess AS (
      |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
      |    ORDER BY us ASC, event_id ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_idx
      |  FROM flagged),
      |agg AS (
      |  SELECT user_id, sess_idx, COUNT(*) AS n_events,
      |   MIN(us) // 86400000000 AS day
      |  FROM sess GROUP BY 1, 2)
      |SELECT day, COUNT(*) AS n_sessions,
      | CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
      | CAST((1000000 * SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS bounce_ppm
      |FROM agg GROUP BY 1""".stripMargin

  /** q_growth_acct: GROWTH ACCOUNTING of daily actives — each active
    * user-day classified as new (first day ever), retained (also active
    * the previous day) or resurrected (active before, but not
    * yesterday), plus churned (active yesterday, silent today); the
    * standard product decomposition satisfying
    * ΔDAU = new + resurrected − churned. One distinct (user, day)
    * pass, one per-user lag/lead window (user-keyed, bounded by a
    * user's active days), two day-keyed rollups joined full-outer. */
  def qGrowthAcct(s: SparkSession, dir: String): DataFrame = {
    val ud = Tables(s, dir, "events")
      .select(F.col("user_id"),
        F.expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct().localCheckpoint() // feeds classify + churn + max-day
    val w = Window.partitionBy("user_id").orderBy("day")
    val classified = ud
      .withColumn("prev", F.lag("day", 1).over(w))
      .withColumn("kind",
        F.when(F.col("prev").isNull, "new")
          .when(F.col("prev") === F.col("day") - 1, "retained")
          .otherwise("resurrected"))
      .groupBy("day")
      .agg(F.count(F.lit(1)).as("n_active"),
        F.sum(F.when(F.col("kind") === "new", 1L).otherwise(0L)).as("n_new"),
        F.sum(F.when(F.col("kind") === "retained", 1L).otherwise(0L)).as("n_retained"),
        F.sum(F.when(F.col("kind") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"))
    val maxDay = ud.agg(F.max("day").as("mxd"))
    val churn = ud
      .withColumn("next", F.lead("day", 1).over(w))
      .filter(F.col("next").isNull || F.col("next") > F.col("day") + 1)
      .select((F.col("day") + 1).as("day"))
      .crossJoin(F.broadcast(maxDay))
      .filter(F.col("day") <= F.col("mxd"))
      .groupBy("day").agg(F.count(F.lit(1)).as("n_churned"))
    classified.join(churn, Seq("day"), "full_outer")
      .select(F.col("day"),
        F.coalesce(F.col("n_active"), F.lit(0L)).as("n_active"),
        F.coalesce(F.col("n_new"), F.lit(0L)).as("n_new"),
        F.coalesce(F.col("n_retained"), F.lit(0L)).as("n_retained"),
        F.coalesce(F.col("n_resurrected"), F.lit(0L)).as("n_resurrected"),
        F.coalesce(F.col("n_churned"), F.lit(0L)).as("n_churned"))
  }

  val qGrowthAcctSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |cls AS (
      |  SELECT day,
      |   COUNT(*) AS n_active,
      |   SUM(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS n_new,
      |   SUM(CASE WHEN prev = day - 1 THEN 1 ELSE 0 END) AS n_retained,
      |   SUM(CASE WHEN prev IS NOT NULL AND prev < day - 1 THEN 1 ELSE 0 END) AS n_resurrected
      |  FROM (SELECT *, LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS prev
      |        FROM ud) x
      |  GROUP BY 1),
      |mx AS (SELECT MAX(day) AS mxd FROM ud),
      |ch AS (
      |  SELECT day + 1 AS day, COUNT(*) AS n_churned
      |  FROM (SELECT *, LEAD(day) OVER (PARTITION BY user_id ORDER BY day) AS nxt
      |        FROM ud) x CROSS JOIN mx
      |  WHERE (nxt IS NULL OR nxt > day + 1) AND day + 1 <= mxd
      |  GROUP BY 1)
      |SELECT COALESCE(cls.day, ch.day) AS day,
      | CAST(COALESCE(n_active, 0) AS BIGINT) AS n_active,
      | CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
      | CAST(COALESCE(n_retained, 0) AS BIGINT) AS n_retained,
      | CAST(COALESCE(n_resurrected, 0) AS BIGINT) AS n_resurrected,
      | CAST(COALESCE(n_churned, 0) AS BIGINT) AS n_churned
      |FROM cls FULL OUTER JOIN ch ON ch.day = cls.day""".stripMargin

  /** q_lifespan: user LIFETIME distribution — per user the active span
    * (last − first active day + 1) and active-day count, rolled into a
    * log₂-binned span histogram with engagement density (active days /
    * span, ppm) per bucket — the retention-shape companion to
    * q_growth_acct. One per-user aggregate + one map; no quantile
    * sorts. */
  def qLifespan(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select(F.col("user_id"),
        F.expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
      .groupBy("user_id")
      .agg((F.max("day") - F.min("day") + 1L).as("span"),
        F.count(F.lit(1)).as("active_days"))
      .withColumn("b", F.length(F.expr("bin(span)")).cast("long"))
      .groupBy("b")
      .agg(F.count(F.lit(1)).as("n_users"),
        F.sum("span").as("sum_span"), F.sum("active_days").as("sum_active"))
      .withColumn("density_ppm", F.expr("(1000000 * sum_active) div sum_span"))

  val qLifespanSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |u AS (
      |  SELECT user_id, MAX(day) - MIN(day) + 1 AS span,
      |   COUNT(*) AS active_days
      |  FROM ud GROUP BY 1)
      |SELECT CAST(length(bin(span)) AS BIGINT) AS b, COUNT(*) AS n_users,
      | CAST(SUM(span) AS BIGINT) AS sum_span,
      | CAST(SUM(active_days) AS BIGINT) AS sum_active,
      | CAST((1000000 * SUM(active_days)) // SUM(span) AS BIGINT) AS density_ppm
      |FROM u GROUP BY 1""".stripMargin

  /** q_seasonal_strength: Hyndman's seasonal-strength statistic per
    * event type over the STL parts — Fs = max(0, 1 − SS(remainder) /
    * SS(seasonal + remainder)) as integer ppm (≈ 10⁶ means the weekly
    * pattern explains the detrended series; ≈ 0 means noise).
    * Components rescaled from micro-cents to deca-cents (one floor div,
    * both engines truncate toward zero) so the squares' sums stay under
    * 2⁶³ through 100× data; the one division is a floor div of exact
    * sums. */
  def qSeasonalStrength(s: SparkSession, dir: String): DataFrame =
    qStlDecompose(s, dir)
      .select(F.col("event_type"),
        F.expr("s6 div 10000000000").as("sk"),
        F.expr("r6 div 10000000000").as("rk"))
      .groupBy("event_type")
      .agg(F.count(F.lit(1)).as("n_days"),
        F.sum(F.expr("rk * rk")).as("ssr"),
        F.sum(F.expr("(sk + rk) * (sk + rk)")).as("sssr"))
      .withColumn("strength_ppm", F.expr(
        "greatest(0, 1000000 - (1000000 * ssr) div greatest(sssr, 1))"))

  val qSeasonalStrengthSql: String =
    s"""WITH stl AS ($qStlDecomposeSql),
       |k AS (
       |  SELECT event_type, s6 // 10000000000 AS sk, r6 // 10000000000 AS rk
       |  FROM stl),
       |a AS (
       |  SELECT event_type, COUNT(*) AS n_days,
       |   CAST(SUM(rk * rk) AS BIGINT) AS ssr,
       |   CAST(SUM((sk + rk) * (sk + rk)) AS BIGINT) AS sssr
       |  FROM k GROUP BY 1)
       |SELECT event_type, n_days, ssr, sssr,
       | CAST(greatest(0, 1000000 - (1000000 * ssr) // greatest(sssr, 1)) AS BIGINT) AS strength_ppm
       |FROM a""".stripMargin

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("q_seasonal_strength", qSeasonalStrength _, Some(qSeasonalStrengthSql)),
    ("q_lifespan", qLifespan _, Some(qLifespanSql)),
    ("q_growth_acct", qGrowthAcct _, Some(qGrowthAcctSql)),
    ("q_bounce_rate", qBounceRate _, Some(qBounceRateSql)),
    ("q_spc", qSpc _, Some(qSpcSql)),
    ("q_backtest", qBacktest _, Some(qBacktestSql)),
    ("q_markov_inc", qMarkovInc _, Some(qMarkovSql)),
    ("q_ohlc", qOhlc _, Some(qOhlcSql)),
    ("q_benford", qBenford _, Some(qBenfordSql)),
    ("q_markov", qMarkov _, Some(qMarkovSql)),
    ("q_rfm", qRfm _, Some(qRfmSql)),
    ("q_movers", qMovers _, Some(qMoversSql)),
    ("q_runs_test", qRunsTest _, Some(qRunsTestSql)),
    ("q_trend_mk", qTrendMk _, Some(qTrendMkSql)),
    ("q_autocorr", qAutocorr _, Some(qAutocorrSql)),
    ("q_active_users", qActiveUsers _, Some(qActiveUsersSql)),
    ("q_active_users_inc", qActiveUsersInc _, Some(qActiveUsersSql)),
    ("q_double_smooth", qDoubleSmooth _, Some(qDoubleSmoothSql)),
    ("q_stl_decompose", qStlDecompose _, Some(qStlDecomposeSql)),
    ("q_concurrency", qConcurrency _, Some(qConcurrencySql)),
    ("q_tukey", qTukey _, Some(qTukeySql)),
    ("q_arr_enum", qArrEnum _, Some(qArrEnumSql)),
    ("q_mov_median", qMovMedian _, Some(qMovMedianSql)),
    ("q_twa", qTwa _, Some(qTwaSql)),
    ("q_arr_setops", qArrSetops _, Some(qArrSetopsSql)),
    ("q_cusum", qCusum _, Some(qCusumSql)),
    ("q_islands", qIslands _, Some(qIslandsSql)),
    ("q_cohort_matrix", qCohortMatrix _, Some(qCohortMatrixSql)),
    ("q_cohort_inc", qCohortInc _, Some(qCohortMatrixSql)),
    ("q_arr_cumsum", qArrCumsum _, Some(qArrCumsumSql)),
    ("q_datetime_suite", qDatetimeSuite _, Some(qDatetimeSuiteSql)),
    ("q_first_last", qFirstLast _, Some(qFirstLastSql)),
    ("q_lttb", qLttb _, Some(qLttbSql)),
    ("q_range_frame", qRangeFrame _, Some(qRangeFrameSql)),
    ("q_delta_sum", qDeltaSum _, Some(qDeltaSumSql)),
    ("q_interval_sum", qIntervalSum _, Some(qIntervalSumSql)),
    ("q_seq_next_node", qSeqNextNode _, Some(qSeqNextNodeSql)),
    ("q_arr_suite", qArrSuite _, Some(qArrSuiteSql)))
}
