package graft.olap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{functions => F}

import graft.Tables
import graft.Tables.{dec2, out2}

/** Statistical aggregates and time-series shaping (ClickHouse `corr`,
  * series gap-fill `WITH FILL` / `interpolate`, and a one-sort Gini
  * inequality stat).
  *
  * Cross-engine float discipline (the whole point of these shapes): every
  * aggregate is accumulated EXACTLY — BIGINT sums of integer-scaled
  * values, or DECIMAL — and doubles appear only in a terminal expression
  * applied to those exact sums, with the identical IEEE operation tree on
  * both engines. Sums of doubles are never emitted (partition-order
  * dependent); `floor(x*1e6)` scaling turns the final comparison into
  * integer equality.
  */
object OlapStatQueries {
  type Q = (SparkSession, String) => DataFrame

  /** q_corr: Pearson correlation + the moment sums per group (ClickHouse
    * `corr`/`covarPop` shape) of (l_quantity, 100·l_discount).
    *
    * One partial-aggregatable pass accumulates the five moment sums as
    * BIGINTs — quantity ≤ 50 and scaled discount ≤ 10, so every sum stays
    * far under 2^53 even at sf 10⁴ and the BIGINT→DOUBLE casts below are
    * EXACT; the closed form is then pure double arithmetic (*, -, /,
    * correctly-rounded sqrt) on identical inputs in identical order on
    * both engines → bit-identical corr. This is why the stat is computed
    * on the two small-domain columns rather than on prices: exactness of
    * the double casts is a provable property of the value bounds. */
  def qCorr(s: SparkSession, dir: String): DataFrame = {
    val x = F.col("l_quantity").cast("long") // integral 1..50 by data contract
    val y = (dec2(F.col("l_discount")) * 100).cast("long") // 2dp → exact 0..10
    val agg = Tables(s, dir, "lineitem")
      .select(F.col("l_returnflag"), x.as("x"), y.as("y"))
      .groupBy("l_returnflag")
      .agg(F.count(F.lit(1)).as("n"),
        F.sum("x").as("sx"), F.sum("y").as("sy"),
        F.sum(F.col("x") * F.col("y")).as("sxy"),
        F.sum(F.col("x") * F.col("x")).as("sxx"),
        F.sum(F.col("y") * F.col("y")).as("syy"))
    val d: String => Column = c => F.col(c).cast("double")
    val num = d("n") * d("sxy") - d("sx") * d("sy")
    val den = F.sqrt(d("n") * d("sxx") - d("sx") * d("sx")) *
      F.sqrt(d("n") * d("syy") - d("sy") * d("sy"))
    agg.select(F.col("l_returnflag"), F.col("n"), F.col("sxy"),
      F.floor(num / den * 1e6).as("corr6"))
  }

  val qCorrSql: String =
    """WITH m AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |   CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |   CAST(SUM(x*y) AS BIGINT) AS sxy,
      |   CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(y*y) AS BIGINT) AS syy
      |  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
      |          CAST(CAST(l_discount AS DECIMAL(18,2))*100 AS BIGINT) AS y
      |        FROM lineitem)
      |  GROUP BY 1)
      |SELECT l_returnflag, n, sxy,
      | CAST(floor((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
      |   / (sqrt(CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
      |      * sqrt(CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)))
      |   * 1e6) AS BIGINT) AS corr6
      |FROM m""".stripMargin

  /** The q_corr_matrix measure set: exact fixed-point integers per row
    * (quantity is integral; discount/tax/price are 2-dp decimals scaled
    * to integers), so every moment sum is exact. */
  private val CorrMeasures = Seq(
    "qty" -> "CAST(l_quantity AS BIGINT)",
    "disc" -> "CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)",
    "tax" -> "CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT)",
    "price" -> "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")

  private val CorrPairs: Seq[(String, String)] = {
    val ms = CorrMeasures.map(_._1)
    for { i <- ms.indices; j <- ms.indices if i < j } yield (ms(i), ms(j))
  }

  /** q_corr_matrix: ClickHouse `corrMatrix` — all pairwise Pearson
    * correlations of the four lineitem measures per return flag, one
    * row per (group, pair).
    *
    * ONE partial-aggregatable pass accumulates n + 4 sums + 10 product
    * sums; the 6 off-diagonal correlations are then projected from that
    * single aggregated row (the explode costs nothing — 3 input rows).
    * Product sums ride DECIMAL(38,0) (price² cents² ≈ 1e14/row would
    * wrap BIGINT near sf30 — same overflow-proofing as q_cramers_v);
    * the closed form divides doubles cast from exact sums, identical
    * text on both engines → bit-identical corr6. */
  def qCorrMatrix(s: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val base = Tables(s, dir, "lineitem")
      .select(F.col("l_returnflag") +:
        CorrMeasures.map { case (m, e) => F.expr(e).as(m) }: _*)
    val sums =
      CorrMeasures.map { case (m, _) => F.sum(F.col(m).cast(d38)).as(s"s_$m") } ++
        (for { (a, b) <- CorrPairs } yield
          F.sum((F.col(a) * F.col(b)).cast(d38)).as(s"p_${a}_$b")) ++
        CorrMeasures.map { case (m, _) =>
          F.sum((F.col(m) * F.col(m)).cast(d38)).as(s"p_${m}_$m") }
    val agg = base.groupBy("l_returnflag")
      .agg(F.count(F.lit(1)).as("n"), sums: _*)
    val d: String => Column = c => F.col(c).cast("double")
    def corr6(a: String, b: String): Column = {
      val num = d("n") * d(s"p_${a}_$b") - d(s"s_$a") * d(s"s_$b")
      val den = F.sqrt(d("n") * d(s"p_${a}_$a") - d(s"s_$a") * d(s"s_$a")) *
        F.sqrt(d("n") * d(s"p_${b}_$b") - d(s"s_$b") * d(s"s_$b"))
      F.floor(num / den * 1e6)
    }
    agg.select(F.col("l_returnflag"),
      F.explode(F.array(CorrPairs.map { case (a, b) =>
        F.struct(F.lit(a).as("vi"), F.lit(b).as("vj"), corr6(a, b).as("corr6"))
      }: _*)).as("pr"))
      .select(F.col("l_returnflag"),
        F.col("pr.vi").as("vi"), F.col("pr.vj").as("vj"),
        F.col("pr.corr6").as("corr6"))
  }

  val qCorrMatrixSql: String = {
    val defs = CorrMeasures.map { case (m, e) => s"$e AS $m" }.mkString(", ")
    val sumCols = (
      CorrMeasures.map { case (m, _) => s"SUM($m) AS s_$m" } ++
        CorrPairs.map { case (a, b) => s"SUM($a*$b) AS p_${a}_$b" } ++
        CorrMeasures.map { case (m, _) => s"SUM($m*$m) AS p_${m}_$m" }
      ).mkString(",\n   ")
    def dd(c: String) = s"CAST($c AS DOUBLE)"
    val arms = CorrPairs.map { case (a, b) =>
      val num = s"${dd("n")}*${dd(s"p_${a}_$b")} - ${dd(s"s_$a")}*${dd(s"s_$b")}"
      val den = s"sqrt(${dd("n")}*${dd(s"p_${a}_$a")} - ${dd(s"s_$a")}*${dd(s"s_$a")}) * " +
        s"sqrt(${dd("n")}*${dd(s"p_${b}_$b")} - ${dd(s"s_$b")}*${dd(s"s_$b")})"
      s"""SELECT l_returnflag, '$a' AS vi, '$b' AS vj,
         | CAST(floor(($num) / ($den) * 1e6) AS BIGINT) AS corr6 FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH b AS (SELECT l_returnflag, $defs FROM lineitem),
       |m AS (
       |  SELECT l_returnflag, COUNT(*) AS n,
       |   $sumCols
       |  FROM b GROUP BY 1)
       |$arms""".stripMargin
  }

  /** q_gini: Gini coefficient of order totals per priority class — the
    * sorted-rank formula G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over
    * ascending xᵢ. ONE per-group window sort assigns ranks (ties don't
    * affect Σi·xᵢ — equal x under any tie order yields the same sum, so
    * no tiebreak column is needed); both moment sums are exact (cents as
    * BIGINT; the rank-weighted sum in DECIMAL — i·xᵢ overflows BIGINT
    * past ~sf1, decimals don't); the single terminal division is double.
    */
  def qGini(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority").orderBy(F.col("pc").asc)
    val d18 = DecimalType(18, 0)
    val ranked = Tables(s, dir, "orders")
      .select(F.col("o_orderpriority"), (dec2(F.col("o_totalprice")) * 100).cast("long").as("pc"))
      .withColumn("i", F.row_number().over(w).cast("long"))
    val agg = ranked.groupBy("o_orderpriority")
      .agg(F.count(F.lit(1)).as("n"), F.sum("pc").as("s0"),
        F.sum(F.col("i").cast(d18) * F.col("pc").cast(d18)).as("s1"))
    val num = (F.lit(2).cast(d18) * F.col("s1")
      - (F.col("n") + 1).cast(d18) * F.col("s0").cast(d18)).cast("double")
    val den = (F.col("n").cast(d18) * F.col("s0").cast(d18)).cast("double")
    agg.select(F.col("o_orderpriority"), F.col("n"), F.col("s0"),
      F.floor(num / den * 1e6).as("gini6"))
  }

  val qGiniSql: String =
    """WITH r AS (
      |  SELECT o_orderpriority, pc,
      |   CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY pc ASC) AS BIGINT) AS i
      |  FROM (SELECT o_orderpriority,
      |          CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT) AS pc
      |        FROM orders)),
      |m AS (
      |  SELECT o_orderpriority, COUNT(*) AS n, CAST(SUM(pc) AS BIGINT) AS s0,
      |   SUM(CAST(i AS DECIMAL(18,0)) * CAST(pc AS DECIMAL(18,0))) AS s1
      |  FROM r GROUP BY 1)
      |SELECT o_orderpriority, n, s0,
      | CAST(floor(CAST(2*s1 - (n+1)*CAST(s0 AS DECIMAL(18,0)) AS DOUBLE)
      |   / CAST(CAST(n AS DECIMAL(18,0))*CAST(s0 AS DECIMAL(18,0)) AS DOUBLE) * 1e6) AS BIGINT) AS gini6
      |FROM m""".stripMargin

  /** q_fill: time-series gap fill — ClickHouse `ORDER BY day WITH FILL`
    * + `INTERPOLATE (carry-forward)`. The sparse series (days where an
    * event type saw a value > 99) is densified onto each type's full
    * calendar span (`sequence` + explode — generated, not scanned) and
    * missing days take the last seen daily sum (LOCF via
    * `last(ignoreNulls)` over an unbounded-preceding frame; one window
    * sort per type). Day grids generate distributed per group; nothing
    * round-trips through the driver. */
  def qFill(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "events")
      .filter(F.col("value") > 99.0)
      .groupBy(F.col("event_type"), F.to_date(F.col("ts")).as("d"))
      .agg(F.sum(dec2(F.col("value"))).cast(DecimalType(18, 2)).as("sv"))
    val cal = daily.groupBy("event_type")
      .agg(F.min("d").as("lo"), F.max("d").as("hi"))
      .select(F.col("event_type"), F.explode(F.sequence(F.col("lo"), F.col("hi"))).as("d"))
    val w = Window.partitionBy("event_type").orderBy(F.col("d").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cal.join(daily, Seq("event_type", "d"), "left")
      .select(F.col("event_type"),
        F.date_format(F.col("d"), "yyyy-MM-dd").as("day"),
        F.col("sv").isNull.cast("int").as("filled"),
        out2(F.last(F.col("sv"), ignoreNulls = true).over(w)).as("sv_fill"))
  }

  val qFillSql: String =
    """WITH f AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sv
      |  FROM events WHERE value > 99.0 GROUP BY 1, 2),
      |cal AS (
      |  SELECT event_type, CAST(u.d AS DATE) AS d
      |  FROM (SELECT event_type, MIN(d) AS lo, MAX(d) AS hi FROM f GROUP BY 1),
      |   UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS u(d))
      |SELECT c.event_type, strftime(c.d, '%Y-%m-%d') AS day,
      | CAST(f.sv IS NULL AS INTEGER) AS filled,
      | CAST(CAST(last_value(f.sv IGNORE NULLS) OVER (
      |   PARTITION BY c.event_type ORDER BY c.d ASC
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,2)) AS DOUBLE) AS sv_fill
      |FROM cal c LEFT JOIN f ON f.event_type = c.event_type AND f.d = c.d""".stripMargin

  /** q_fill_interp: ClickHouse `ORDER BY ... WITH FILL INTERPOLATE` —
    * q_fill's dense calendar, but gaps take the LINEAR interpolation
    * between the surrounding observations instead of carry-forward:
    * v = prev + (next−prev)·(d−d_prev)/(d_next−d_prev), computed in
    * exact cents/day integers with the one division done in doubles
    * under floor (floor, not integer `div`: Spark's div truncates toward
    * zero while DuckDB's // floors, and falling values make the
    * numerator negative — floor(double) agrees on both engines for all
    * signs). Edges beyond the first/last observation carry the available
    * side. Both direction scans share one (event_type, d) sort: the
    * forward last-non-null and backward first-non-null run over the same
    * window order with different frames. */
  def qFillInterp(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables(s, dir, "events")
      .filter(F.col("value") > 99.0)
      .groupBy(F.col("event_type"), F.to_date(F.col("ts")).as("d"))
      .agg(F.sum((dec2(F.col("value")) * 100).cast("long")).as("svc"))
    val cal = daily.groupBy("event_type")
      .agg(F.min("d").as("lo"), F.max("d").as("hi"))
      .select(F.col("event_type"), F.explode(F.sequence(F.col("lo"), F.col("hi"))).as("d"))
    val base = cal.join(daily, Seq("event_type", "d"), "left")
      .withColumn("dn", F.datediff(F.col("d"), F.lit("1970-01-01")).cast("long"))
    val ord = Window.partitionBy("event_type").orderBy(F.col("d").asc)
    val wf = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wb = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsD = F.when(F.col("svc").isNotNull, F.col("dn"))
    val r = base.select(F.col("event_type"),
      F.date_format(F.col("d"), "yyyy-MM-dd").as("day"),
      F.col("svc").isNull.cast("int").as("filled"),
      F.last(F.col("svc"), ignoreNulls = true).over(wf).as("pv"),
      F.last(obsD, ignoreNulls = true).over(wf).as("pd"),
      F.first(F.col("svc"), ignoreNulls = true).over(wb).as("nv"),
      F.first(obsD, ignoreNulls = true).over(wb).as("nd"),
      F.col("dn"))
    r.select(F.col("event_type"), F.col("day"), F.col("filled"),
      F.coalesce(
        F.when(F.col("pv").isNotNull && F.col("nv").isNotNull && F.col("nd") > F.col("pd"),
          F.col("pv") + F.floor(
            (F.col("nv") - F.col("pv")).cast("double") * (F.col("dn") - F.col("pd")).cast("double")
              / (F.col("nd") - F.col("pd")).cast("double"))),
        F.col("pv"), F.col("nv")).as("svc_interp"))
  }

  val qFillInterpSql: String =
    """WITH f AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |   CAST(SUM(CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT)) AS BIGINT) AS svc
      |  FROM events WHERE value > 99.0 GROUP BY 1, 2),
      |cal AS (
      |  SELECT event_type, CAST(u.d AS DATE) AS d
      |  FROM (SELECT event_type, MIN(d) AS lo, MAX(d) AS hi FROM f GROUP BY 1),
      |   UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS u(d)),
      |b AS (
      |  SELECT c.event_type, c.d, f.svc,
      |   CAST(date_diff('day', DATE '1970-01-01', c.d) AS BIGINT) AS dn
      |  FROM cal c LEFT JOIN f ON f.event_type = c.event_type AND f.d = c.d),
      |r AS (
      |  SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
      |   CAST(svc IS NULL AS INTEGER) AS filled, dn,
      |   last_value(svc IGNORE NULLS) OVER fw AS pv,
      |   last_value(CASE WHEN svc IS NOT NULL THEN dn END IGNORE NULLS) OVER fw AS pd,
      |   first_value(svc IGNORE NULLS) OVER bw AS nv,
      |   first_value(CASE WHEN svc IS NOT NULL THEN dn END IGNORE NULLS) OVER bw AS nd
      |  FROM b
      |  WINDOW fw AS (PARTITION BY event_type ORDER BY d ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |  bw AS (PARTITION BY event_type ORDER BY d ASC
      |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT event_type, day, filled,
      | CAST(COALESCE(
      |   CASE WHEN pv IS NOT NULL AND nv IS NOT NULL AND nd > pd
      |    THEN pv + CAST(floor(CAST(nv - pv AS DOUBLE) * CAST(dn - pd AS DOUBLE)
      |                        / CAST(nd - pd AS DOUBLE)) AS BIGINT)
      |   END, pv, nv) AS BIGINT) AS svc_interp
      |FROM r""".stripMargin

  /** q_bitmap: ClickHouse `groupBitmap` + `groupBitmapAnd` — per event
    * type, the exact distinct-user count and the overlap with the
    * 'purchase' audience, both read off Roaring bitmaps
    * (graft.operators.BitmapDistinct). ONE aggregate pass builds a
    * compressed bitmap per type (map-side partials OR together); the
    * overlap is bitmap AND on the 5 post-aggregation rows — no distinct
    * self-join touches the fact table. */
  def qBitmap(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.BitmapDistinct._
    val bitmaps = Tables(s, dir, "events")
      .groupBy("event_type")
      .agg(buildAgg(F.col("user_id")).as("bm"))
    val purchase = bitmaps.filter(F.col("event_type") === "purchase")
      .select(F.col("bm").as("pbm"))
    // LEFT join against the 0-or-1-row audience side: were the audience
    // empty, a plain cross join would return zero rows while the oracle
    // still emits one row per event type — absent audience must read as
    // 0 overlap, not as no data.
    bitmaps.join(F.broadcast(purchase), F.lit(true), "left")
      .select(F.col("event_type"),
        cardinality(F.col("bm")).as("n_users"),
        F.coalesce(andCardinality(F.col("bm"), F.col("pbm")), F.lit(0L))
          .as("n_also_purchase"))
  }

  val qBitmapSql: String =
    """WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
      |pu AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
      |SELECT event_type, COUNT(*) AS n_users,
      | CAST(COUNT(*) FILTER (WHERE user_id IN (SELECT user_id FROM pu)) AS BIGINT) AS n_also_purchase
      |FROM du GROUP BY 1""".stripMargin

  /** q_bitmap_merge: the ClickHouse `-State`/`-Merge` combinator pattern
    * — per-(type, day) bitmap states pre-aggregated once, then rolled up
    * to per-type EXACT distinct users by OR-merging the states
    * (BitmapOrAgg), never re-touching the fact table. The second column
    * (sum of per-day distinct counts) quantifies what naive re-summing
    * of daily uniques overcounts — the reason states must merge, not
    * add. This is the bitmap materialized-view pattern: at 100 TB the
    * day-level states are what you persist. */
  def qBitmapMerge(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.BitmapDistinct._
    val daily = Tables(s, dir, "events")
      .groupBy(F.col("event_type"), F.to_date(F.col("ts")).as("d"))
      .agg(buildAgg(F.col("user_id")).as("bm"))
    daily.groupBy("event_type")
      .agg(cardinality(orAgg(F.col("bm"))).as("n_users"),
        F.sum(cardinality(F.col("bm"))).as("sum_daily_users"))
  }

  val qBitmapMergeSql: String =
    """WITH d AS (
      |  SELECT event_type, CAST(ts AS DATE) AS dd, COUNT(DISTINCT user_id) AS nu
      |  FROM events GROUP BY 1, 2),
      |t AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_users FROM events GROUP BY 1)
      |SELECT t.event_type, t.n_users,
      | CAST(SUM(d.nu) AS BIGINT) AS sum_daily_users
      |FROM t JOIN d ON d.event_type = t.event_type
      |GROUP BY 1, 2""".stripMargin

  /** q_uniq_upto: ClickHouse `uniqUpTo(N)` in both regimes at once — per
    * event type, distinct users capped at 50 (saturates → 51) and at
    * 100000 (exact). O(N) state per group vs countDistinct's O(distinct)
    * (graft.operators.UniqUpTo). */
  def qUniqUpTo(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.UniqUpTo
    Tables(s, dir, "events")
      .groupBy("event_type")
      .agg(UniqUpTo.agg(F.col("user_id"), 50).as("u50"),
        UniqUpTo.agg(F.col("user_id"), 100000).as("u100k"))
  }

  val qUniqUpToSql: String =
    """SELECT event_type,
      | LEAST(COUNT(DISTINCT user_id), 51) AS u50,
      | LEAST(COUNT(DISTINCT user_id), 100001) AS u100k
      |FROM events GROUP BY 1""".stripMargin

  /** q_rank_suite: the ranking-window family in one pass — ntile(4),
    * percent_rank, cume_dist per priority class over (cents, orderkey).
    * The ORDER BY is a TOTAL order (orderkey tiebreak): ntile's bucket
    * boundaries depend on physical row order within ties, so an
    * under-specified sort would be nondeterministic across engines.
    * percent_rank/cume_dist are single divisions of exact ints,
    * floor-scaled to 1e-6 ints. One window sort per class. */
  def qRankSuite(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(F.col("pc").asc, F.col("o_orderkey").asc)
    Tables(s, dir, "orders")
      .select(F.col("o_orderpriority"), F.col("o_orderkey"),
        (dec2(F.col("o_totalprice")) * 100).cast("long").as("pc"))
      .select(F.col("o_orderpriority"), F.col("o_orderkey"),
        F.ntile(4).over(w).cast("long").as("tile"),
        F.floor(F.percent_rank().over(w) * 1e6).as("pr6"),
        F.floor(F.cume_dist().over(w) * 1e6).as("cd6"))
  }

  val qRankSuiteSql: String =
    """SELECT o_orderpriority, o_orderkey,
      | CAST(NTILE(4) OVER w AS BIGINT) AS tile,
      | CAST(floor(PERCENT_RANK() OVER w * 1e6) AS BIGINT) AS pr6,
      | CAST(floor(CUME_DIST() OVER w * 1e6) AS BIGINT) AS cd6
      |FROM (SELECT o_orderpriority, o_orderkey,
      |        CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT) AS pc
      |      FROM orders)
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY pc ASC, o_orderkey ASC)""".stripMargin

  /** q_salted: a skew-proofed fact⋈dim join under the plain join's
    * oracle — events (user activity is a skewed distribution) joined to
    * customer attributes through graft.operators.SaltedJoin: the fact
    * side fans out over 16 deterministic salt buckets, the dimension
    * side replicates, and the aggregate result is REQUIRED to equal the
    * unsalted join's (the whole point of result-preserving skew
    * handling). Salting is the structural fix when one key dominates
    * and the dim side is too big to broadcast; here it runs under the
    * correctness gate so the rewrite is provably invisible. */
  def qSalted(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(F.col("user_id"), F.col("event_type"), dec2(F.col("value")).as("v"),
        F.col("event_id"))
    val dim = Tables(s, dir, "customer")
      .select(F.col("c_custkey").as("user_id"), F.col("c_mktsegment"))
    graft.operators.SaltedJoin.inner(ev, dim, Seq("user_id"),
      saltBy = F.col("event_id"), buckets = 16)
      .groupBy("c_mktsegment", "event_type")
      .agg(F.count(F.lit(1)).as("n"), out2(F.sum("v")).as("sum_v"))
  }

  val qSaltedSql: String =
    """SELECT c_mktsegment, event_type, COUNT(*) AS n,
      | CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_v
      |FROM events JOIN customer ON c_custkey = user_id
      |GROUP BY 1, 2""".stripMargin

  /** q_sql_bitmap: q_bitmap's semantics expressed as ONE SQL string
    * through the GraftExtensions-registered functions (bitmap_build /
    * bitmap_cardinality / bitmap_and_cardinality) — the path a SQL-only
    * client takes (`spark.sql.extensions=graft.GraftExtensions`). Shares
    * q_bitmap's oracle, so the driver gate proves the SQL registration
    * end-to-end, not just the Column API. */
  def qSqlBitmap(s: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(s)
    Tables(s, dir, "events").createOrReplaceTempView("graft_events")
    s.sql(
      """WITH bm AS (
        |  SELECT event_type, bitmap_build(user_id) AS b
        |  FROM graft_events GROUP BY event_type),
        |p AS (SELECT b AS pb FROM bm WHERE event_type = 'purchase')
        |SELECT event_type, bitmap_cardinality(b) AS n_users,
        |  coalesce(bitmap_and_cardinality(b, pb), 0L) AS n_also_purchase
        |FROM bm LEFT JOIN p ON true""".stripMargin)
  }

  /** q_bitmap_andnot: the rest of the ClickHouse bitmap set algebra —
    * `bitmapAndnotCardinality` (users who did X but never purchased:
    * the exclusion audience) and `bitmapXorCardinality` (users in
    * exactly one of the two audiences), off the same one-pass per-type
    * Roaring states as q_bitmap. Post-aggregation rows only — the fact
    * table is touched once; the set algebra runs on 5 rows. The empty-
    * audience guard mirrors q_bitmap: absent purchase audience means
    * AndNot = the full audience and Xor = the full audience, not NULL. */
  def qBitmapAndNot(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.BitmapDistinct._
    val bitmaps = Tables(s, dir, "events")
      .groupBy("event_type")
      .agg(buildAgg(F.col("user_id")).as("bm"))
    val purchase = bitmaps.filter(F.col("event_type") === "purchase")
      .select(F.col("bm").as("pbm"))
    bitmaps.join(F.broadcast(purchase), F.lit(true), "left")
      .select(F.col("event_type"),
        cardinality(F.col("bm")).as("n_users"),
        F.coalesce(andNotCardinality(F.col("bm"), F.col("pbm")),
          cardinality(F.col("bm"))).as("n_never_purchase"),
        F.coalesce(xorCardinality(F.col("bm"), F.col("pbm")),
          cardinality(F.col("bm"))).as("n_xor_purchase"))
  }

  val qBitmapAndNotSql: String =
    """WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
      |pu AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
      |SELECT event_type, COUNT(*) AS n_users,
      | CAST(COUNT(*) FILTER (WHERE user_id NOT IN (SELECT user_id FROM pu)) AS BIGINT)
      |   AS n_never_purchase,
      | CAST(COUNT(*) FILTER (WHERE user_id NOT IN (SELECT user_id FROM pu))
      |   + (SELECT COUNT(*) FROM pu)
      |   - COUNT(*) FILTER (WHERE user_id IN (SELECT user_id FROM pu)) AS BIGINT)
      |   AS n_xor_purchase
      |FROM du GROUP BY 1""".stripMargin

  /** q_cramers_v: ClickHouse `cramersV`/`contingency` — association
    * strength between event type and value bucket from one contingency
    * pass. chi² is accumulated EXACTLY: per-cell floor(o²·1e9/(rowtot·
    * coltot)) with the numerator formed in DECIMAL(38,0) (HUGEINT on the
    * oracle side) so no cell count can overflow at ANY scale — each
    * floored term is ≤ 1e9 and sums back into BIGINT. chi2s9 =
    * N·(Σterms − 1e9) is likewise formed in DECIMAL and emitted as the
    * correctly-rounded double of that exact integer (N·chi² can pass
    * 2⁶³ at large N), so the bits agree cross-engine; V then needs only
    * correctly-rounded double ops (÷, ÷, √) on identical operands.
    * greatest(0, ·) guards the independent case where per-cell flooring
    * can dip the sum a few units below zero. */
  def qCramersV(s: SparkSession, dir: String): DataFrame = {
    val S = 1000000000L // 1e9 scale for the chi-square terms
    val ev = Tables(s, dir, "events").select(
      F.col("event_type").as("r"),
      F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint) div 10000").as("c"))
    // the contingency table feeds both marginals AND the term join —
    // materialize it once (it is cells-sized, tiny; without this the
    // fact table is scanned once per reference)
    val cell = ev.groupBy("r", "c").agg(F.count(F.lit(1)).as("o"))
      .localCheckpoint()
    val rt = cell.groupBy("r").agg(F.sum("o").as("rt"))
    val ct = cell.groupBy("c").agg(F.sum("o").as("ct"))
    val agg = cell.join(rt, "r").join(ct, "c")
      .agg(F.sum(F.expr(
          s"(cast(o as decimal(38,0)) * o * $S) div (cast(rt as decimal(38,0)) * ct)")).as("t"),
        F.sum("o").as("n"),
        F.count_distinct(F.col("r")).as("nr"),
        F.count_distinct(F.col("c")).as("nc"))
    agg.select(F.col("n"), F.col("nr"), F.col("nc"),
        F.expr(s"cast(greatest(cast(0 as decimal(38,0)), cast(n as decimal(38,0)) * (t - $S)) as double)")
          .as("chi2s9"),
        F.least(F.col("nr") - 1, F.col("nc") - 1).as("k"))
      .select(F.col("n"), F.col("nr"), F.col("nc"), F.col("chi2s9"),
        F.sqrt((F.col("chi2s9") / 1e9)
          / (F.col("n") * F.col("k")).cast("double")).as("v"))
  }

  val qCramersVSql: String =
    """WITH ev AS (
      |  SELECT event_type AS r,
      |    (CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 10000) AS c
      |  FROM events),
      |cell AS (SELECT r, c, COUNT(*) AS o FROM ev GROUP BY 1, 2),
      |rt AS (SELECT r, CAST(SUM(o) AS BIGINT) AS rt FROM cell GROUP BY 1),
      |ct AS (SELECT c, CAST(SUM(o) AS BIGINT) AS ct FROM cell GROUP BY 1),
      |agg AS (
      |  SELECT CAST(SUM((CAST(o AS HUGEINT) * o * 1000000000)
      |                  // (CAST(rt.rt AS HUGEINT) * ct.ct)) AS BIGINT) AS t,
      |    CAST(SUM(o) AS BIGINT) AS n,
      |    COUNT(DISTINCT cell.r) AS nr, COUNT(DISTINCT cell.c) AS nc
      |  FROM cell JOIN rt ON rt.r = cell.r JOIN ct ON ct.c = cell.c)
      |SELECT n, nr, nc,
      |  CAST(greatest(CAST(0 AS HUGEINT), CAST(n AS HUGEINT) * (t - 1000000000)) AS DOUBLE) AS chi2s9,
      |  sqrt((CAST(greatest(CAST(0 AS HUGEINT), CAST(n AS HUGEINT) * (t - 1000000000)) AS DOUBLE) / 1e9)
      |       / CAST(n * least(nr - 1, nc - 1) AS DOUBLE)) AS v
      |FROM agg""".stripMargin

  /** q_theta_sketch: the q_bitmap audience analysis through theta
    * sketches (ClickHouse uniqTheta / DataSketches family), ORACLE-
    * BACKED since r10 (r9 verdict #2) on the slice q_theta_sketch_err
    * does NOT cover — the set DIFFERENCE |A \ purchase| (est(A) −
    * est(A ∩ P), the audience-exclusion statistic): per type, the exact
    * audience and difference counts ride the oracle hash, ok_est gates
    * the audience estimate at 3σ (20%) and ok_diff gates the difference
    * at the compounded bound 20%·|A| + 30%·|A ∪ P| (difference error ≤
    * estimate error + intersection error; K=256 → rse ≈ 6.3%, and
    * the sketch state is order- and partition-invariant so the flags
    * are stable). Below-capacity groups are exact by
    * construction. */
  def qThetaSketch(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.ThetaSketch
    val K = 256
    val ev = Tables(s, dir, "events")
    val sk = ev.groupBy("event_type")
      .agg(ThetaSketch.agg(F.col("user_id"), K).as("sk"))
    val psk = sk.filter(F.col("event_type") === "purchase")
      .select(F.col("sk").as("psk"))
    // exact twins (q_theta_sketch_err's distinct-frame shape) for the
    // DIFFERENCE slice this entry gates: |A \ purchase| per type
    val tu = ev.select("event_type", "user_id").distinct().localCheckpoint()
    val pu = tu.filter(F.col("event_type") === "purchase")
      .select(F.col("user_id")).withColumn("isp", F.lit(1))
    val np = pu.agg(F.count(F.lit(1)).as("np"))
    val exact = tu.join(pu.drop("event_type"), Seq("user_id"), "left")
      .groupBy("event_type")
      .agg(F.count(F.lit(1)).as("n_users"),
        F.sum(F.when(F.col("isp").isNotNull, 1L).otherwise(0L))
          .as("n_inter"))
      .crossJoin(F.broadcast(np))
      .select(F.col("event_type"), F.col("n_users"),
        (F.col("n_users") - F.col("n_inter")).as("n_only"),
        (F.col("n_users") + F.col("np") - F.col("n_inter")).as("n_union"))
    exact.join(sk, "event_type")
      .join(F.broadcast(psk), F.lit(true), "left")
      .select(F.col("event_type"), F.col("n_users"), F.col("n_only"),
        F.col("n_union"),
        ThetaSketch.estimateCol(F.col("sk"), K).as("e"),
        F.coalesce(ThetaSketch.intersectEstimateCol(F.col("sk"), F.col("psk"), K),
          F.lit(0L)).as("ei"))
      .select(F.col("event_type"), F.col("n_users"), F.col("n_only"),
        F.when(F.abs(F.col("e") - F.col("n_users")) * 100L <=
          F.col("n_users") * 20L, 1L).otherwise(0L).as("ok_est"),
        F.when(F.abs(F.col("e") - F.col("ei") - F.col("n_only")) * 100L <=
          F.col("n_users") * 20L + F.col("n_union") * 30L, 1L)
          .otherwise(0L).as("ok_diff"))
  }

  val qThetaSketchSql: String =
    """WITH a AS (
      |  SELECT event_type, COUNT(DISTINCT user_id) AS n_users FROM events GROUP BY 1),
      |p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
      |u AS (
      |  SELECT e.event_type,
      |   COUNT(DISTINCT CASE WHEN p.user_id IS NOT NULL THEN e.user_id END) AS n_inter
      |  FROM events e LEFT JOIN p ON p.user_id = e.user_id GROUP BY 1)
      |SELECT a.event_type, a.n_users,
      | CAST(a.n_users - u.n_inter AS BIGINT) AS n_only,
      | CAST(1 AS BIGINT) AS ok_est, CAST(1 AS BIGINT) AS ok_diff
      |FROM a JOIN u ON u.event_type = a.event_type""".stripMargin

  /** q_theta_sketch_err: the theta path under the HASH GATE — per type,
    * ok flags for the audience estimate and the union-with-purchase
    * estimate vs their exact twins (K=256 → rse ≈ 1/√K ≈ 6.3%;
    * gate at 20% ≈ 3σ; below-capacity groups are exact so their flag is
    * trivially true), and an intersection flag at the looser
    * |est − exact| ≤ 30% of the exact UNION (inclusion-exclusion
    * compounds the union's absolute error — relative-to-intersection
    * bounds don't exist for small overlaps). The exact audience /
    * union / intersection counts ride the oracle hash. Everything is
    * one grouped pass over events (sketch + exact sets together) plus
    * one broadcast of the purchase row. */
  def qThetaSketchErr(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.ThetaSketch
    val K = 256
    val ev = Tables(s, dir, "events")
    val sk = ev.groupBy("event_type")
      .agg(ThetaSketch.agg(F.col("user_id"), K).as("sk"))
    val psk = sk.filter(F.col("event_type") === "purchase")
      .select(F.col("sk").as("psk"))
    // exact twins from the DISTINCT (type, user) frame — one distinct
    // shuffle + one broadcast purchase-membership join, never a
    // collected per-group user set
    val tu = ev.select("event_type", "user_id").distinct().localCheckpoint()
    val pu = tu.filter(F.col("event_type") === "purchase")
      .select(F.col("user_id")).withColumn("isp", F.lit(1))
    val np = pu.agg(F.count(F.lit(1)).as("np"))
    val exact = tu.join(pu.drop("event_type"), Seq("user_id"), "left")
      .groupBy("event_type")
      .agg(F.count(F.lit(1)).as("n_users"),
        F.sum(F.when(F.col("isp").isNotNull, 1L).otherwise(0L))
          .as("n_also_purchase"))
      .crossJoin(F.broadcast(np))
      .select(F.col("event_type"), F.col("n_users"),
        (F.col("n_users") + F.col("np") - F.col("n_also_purchase")).as("n_union"),
        F.col("n_also_purchase"))
    exact.join(sk, "event_type")
      .join(F.broadcast(psk), F.lit(true), "left")
      .select(F.col("event_type"), F.col("n_users"), F.col("n_union"),
        F.col("n_also_purchase"),
        ThetaSketch.estimateCol(F.col("sk"), K).as("e"),
        F.coalesce(ThetaSketch.unionEstimateCol(F.col("sk"), F.col("psk"), K),
          F.lit(0L)).as("eu"),
        F.coalesce(ThetaSketch.intersectEstimateCol(F.col("sk"), F.col("psk"), K),
          F.lit(0L)).as("ei"))
      .select(F.col("event_type"), F.col("n_users"), F.col("n_union"),
        F.col("n_also_purchase"),
        F.when(F.abs(F.col("e") - F.col("n_users")) * 100L <=
          F.col("n_users") * 20L, 1L).otherwise(0L).as("ok_est"),
        F.when(F.abs(F.col("eu") - F.col("n_union")) * 100L <=
          F.col("n_union") * 20L, 1L).otherwise(0L).as("ok_union"),
        F.when(F.abs(F.col("ei") - F.col("n_also_purchase")) * 100L <=
          F.col("n_union") * 30L, 1L).otherwise(0L).as("ok_inter"))
  }

  val qThetaSketchErrSql: String =
    """WITH a AS (
      |  SELECT event_type, COUNT(DISTINCT user_id) AS n_users FROM events GROUP BY 1),
      |p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
      |u AS (
      |  SELECT e.event_type,
      |   COUNT(DISTINCT CASE WHEN p.user_id IS NOT NULL THEN e.user_id END) AS n_inter
      |  FROM events e LEFT JOIN p ON p.user_id = e.user_id GROUP BY 1),
      |np AS (SELECT COUNT(*) AS np FROM p)
      |SELECT a.event_type, a.n_users,
      | CAST(a.n_users + np.np - u.n_inter AS BIGINT) AS n_union,
      | CAST(u.n_inter AS BIGINT) AS n_also_purchase,
      | CAST(1 AS BIGINT) AS ok_est, CAST(1 AS BIGINT) AS ok_union,
      | CAST(1 AS BIGINT) AS ok_inter
      |FROM a JOIN u ON u.event_type = a.event_type CROSS JOIN np""".stripMargin

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("q_theta_sketch", qThetaSketch _, Some(qThetaSketchSql)),
    ("q_theta_sketch_err", qThetaSketchErr _, Some(qThetaSketchErrSql)),
    ("q_sql_bitmap", qSqlBitmap _, Some(qBitmapSql)),
    ("q_cramers_v", qCramersV _, Some(qCramersVSql)),
    ("q_salted", qSalted _, Some(qSaltedSql)),
    ("q_rank_suite", qRankSuite _, Some(qRankSuiteSql)),
    ("q_corr", qCorr _, Some(qCorrSql)),
    ("q_corr_matrix", qCorrMatrix _, Some(qCorrMatrixSql)),
    ("q_gini", qGini _, Some(qGiniSql)),
    ("q_fill", qFill _, Some(qFillSql)),
    ("q_fill_interp", qFillInterp _, Some(qFillInterpSql)),
    ("q_bitmap", qBitmap _, Some(qBitmapSql)),
    ("q_bitmap_merge", qBitmapMerge _, Some(qBitmapMergeSql)),
    ("q_bitmap_andnot", qBitmapAndNot _, Some(qBitmapAndNotSql)),
    ("q_uniq_upto", qUniqUpTo _, Some(qUniqUpToSql)))
}
