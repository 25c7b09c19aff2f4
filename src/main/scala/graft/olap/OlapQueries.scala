package graft.olap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{functions => F}

import graft.Tables
import graft.Tables.{dec2, out2, out4, revenue}
import graft.streaming.SessionFold

/** OLAP / relational query library — the ClickHouse-OLAP side of the
  * reference's capability surface, declared with the DataFrame API so
  * Catalyst handles pushdown/pruning/join-planning.
  *
  * Scale notes: only genuinely bounded relations (region: 5 rows, nation:
  * 25 rows, band tables, query sets) carry explicit broadcast hints.
  * SF-scaled tables (customer/supplier/part) join unhinted so AQE
  * broadcasts them while they fit the threshold and degrades to a shuffled
  * join at scale — a hardcoded hint would force the build at 100× and OOM.
  * Fact-side filters are plain column predicates
  * so they reach the parquet scan (verified via .explain: PushedFilters).
  * All aggregates run in exact decimal so a 1000-executor re-run returns
  * the same bits.
  */
object OlapQueries {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String) = Tables(s, dir, name)

  // ---- TPC-H-shaped core -------------------------------------------------

  /** Scan + multi-aggregate group-by (TPC-H Q1 shape). */
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        out2(F.sum(dec2(F.col("l_quantity")))).as("sum_qty"),
        out2(F.sum(dec2(F.col("l_extendedprice")))).as("sum_base_price"),
        out4(F.sum(revenue(F.col("l_extendedprice"), F.col("l_discount")))).as("sum_disc_price"),
        F.count(F.lit(1)).as("count_order"))

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
      | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
      | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc_price,
      | COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** 3-way join + agg + order + limit (TPC-H Q3 shape). */
  def q3TopN(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").filter(F.col("c_mktsegment") === "BUILDING")
    val ord = t(s, dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-06-30").cast("timestamp"))
    val li = t(s, dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-06-30").cast("timestamp"))
    // customer grows with SF: no broadcast hint — AQE picks broadcast at
    // small SF and degrades to a shuffled join at scale instead of OOMing.
    li.join(ord, F.col("l_orderkey") === F.col("o_orderkey"))
      .join(cust, F.col("o_custkey") === F.col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(out4(F.sum(revenue(F.col("l_extendedprice"), F.col("l_discount")))).as("rev"))
      .orderBy(F.col("rev").desc, F.col("o_orderdate").asc, F.col("l_orderkey").asc)
      .limit(10)
  }

  val q3Sql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(18,4)) AS DOUBLE) AS rev
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1998-06-30 00:00:00' AND l_shipdate > TIMESTAMP '1998-06-30 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY rev DESC, o_orderdate ASC, l_orderkey ASC
      |LIMIT 10""".stripMargin

  /** 6-table star join with region filter (TPC-H Q5 shape). */
  def q5Join5(s: SparkSession, dir: String): DataFrame = {
    val region = t(s, dir, "region").filter(F.col("r_name") === "ASIA")
    val nation = t(s, dir, "nation")
    val cust = t(s, dir, "customer")
    val supp = t(s, dir, "supplier")
    val ord = t(s, dir, "orders")
      .filter(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
        && F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    val li = t(s, dir, "lineitem")
    // customer/supplier grow with SF: unhinted so AQE sizes the join;
    // nation (25 rows) and region (5 rows) are genuinely bounded — keep hints.
    li.join(ord, F.col("l_orderkey") === F.col("o_orderkey"))
      .join(cust, F.col("o_custkey") === F.col("c_custkey"))
      .join(supp,
        F.col("l_suppkey") === F.col("s_suppkey") && F.col("c_nationkey") === F.col("s_nationkey"))
      .join(F.broadcast(nation), F.col("s_nationkey") === F.col("n_nationkey"))
      .join(F.broadcast(region), F.col("n_regionkey") === F.col("r_regionkey"))
      .groupBy("n_name")
      .agg(out4(F.sum(revenue(F.col("l_extendedprice"), F.col("l_discount")))).as("rev"))
  }

  val q5Sql: String =
    """SELECT n_name,
      | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(18,4)) AS DOUBLE) AS rev
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
      |  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name""".stripMargin

  /** Selective filter + single aggregate (TPC-H Q6 shape). */
  def q6Filter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(
        F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp")
          && F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")
          && F.col("l_discount") >= 0.05 && F.col("l_discount") <= 0.07
          && F.col("l_quantity") < 24)
      .agg(
        out4(F.sum(dec2(F.col("l_extendedprice")) * dec2(F.col("l_discount")))).as("revenue"),
        F.count(F.lit(1)).as("n"))

  val q6Sql: String =
    """SELECT
      | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
      | COUNT(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin

  // ---- window / time analytics ------------------------------------------

  /** Window function: top-3 orders per market segment. */
  def qWindowTopN(s: SparkSession, dir: String): DataFrame = {
    // customer grows with SF: leave the join unhinted (AQE decides).
    val joined = t(s, dir, "orders")
      .join(t(s, dir, "customer"), F.col("o_custkey") === F.col("c_custkey"))
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(F.col("o_totalprice").desc, F.col("o_orderkey").asc)
    joined
      .withColumn("rnk", F.row_number().over(w))
      .filter(F.col("rnk") <= 3)
      .select(F.col("c_mktsegment"), F.col("rnk"), F.col("o_orderkey"),
        out2(F.col("o_totalprice")).as("price"))
  }

  val qWindowTopNSql: String =
    """SELECT c_mktsegment, rnk, o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
      |FROM (
      |  SELECT c_mktsegment, o_orderkey, o_totalprice,
      |   ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
      |  FROM orders JOIN customer ON o_custkey = c_custkey) x
      |WHERE rnk <= 3""".stripMargin

  /** Tumbling-window (1h) aggregation over the events stream table. */
  def qTumble(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(
        F.window(F.col("ts"), "1 hour")("start").as("window_start"),
        F.col("event_type"))
      .agg(F.count(F.lit(1)).as("n"), out2(F.sum(dec2(F.col("value")))).as("total"))

  val qTumbleSql: String =
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
      | COUNT(*) AS n, CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Hopping (sliding) window aggregation: 1-hour windows every 30 min —
    * each event contributes to exactly two windows (window/slide = 2
    * copies is the planner's expansion; state per open window stays one
    * aggregate). The streaming form is the same expression under
    * readStream. */
  def qHop(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(
        F.window(F.col("ts"), "1 hour", "30 minutes")("start").as("window_start"),
        F.col("event_type"))
      .agg(F.count(F.lit(1)).as("n"), out2(F.sum(dec2(F.col("value")))).as("total"))

  val qHopSql: String =
    """WITH ev AS (SELECT epoch_us(ts) AS tu, event_type, value FROM events),
      |w AS (
      |  SELECT make_timestamp((tu // 1800000000) * 1800000000) AS window_start, event_type, value FROM ev
      |  UNION ALL
      |  SELECT make_timestamp((tu // 1800000000) * 1800000000 - 1800000000), event_type, value FROM ev)
      |SELECT window_start, event_type, COUNT(*) AS n,
      | CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
      |FROM w GROUP BY 1, 2""".stripMargin

  /** Sessionization: 30-min-gap sessions per user + per-session aggregates. */
  def qSessionize(s: SparkSession, dir: String): DataFrame =
    SessionFold.sessionized(
      t(s, dir, "events").withColumn("us", F.unix_micros(F.col("ts"))))
      .groupBy("user_id", "sess_idx")
      .agg(
        F.count(F.lit(1)).as("n_events"),
        out2(F.sum(dec2(F.col("value")))).as("total_value"),
        (F.max("us") - F.min("us")).as("dur_us"))

  val qSessionizeSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events
      |), flagged AS (
      |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM (SELECT *, LAG(us) OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC) AS prev_us FROM ev) x
      |), sess AS (
      |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_idx
      |  FROM flagged)
      |SELECT user_id, CAST(sess_idx AS BIGINT) AS sess_idx, COUNT(*) AS n_events,
      | CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_value,
      | MAX(us) - MIN(us) AS dur_us
      |FROM sess GROUP BY user_id, sess_idx""".stripMargin

  // ---- distinct / percentile / grouping sets ----------------------------

  /** Exact distinct-count per group. */
  def qDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(F.countDistinct(F.col("user_id")).as("n_users"), F.count(F.lit(1)).as("n_events"))

  val qDistinctSql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
      |FROM events GROUP BY event_type""".stripMargin

  /** HLL approximate distinct users per (event_type, day) — the sketch
    * path at dashboard granularity, ORACLE-BACKED since r10 (r9 verdict
    * #2): the exact per-cell twin rides the oracle hash and ok = 1 iff
    * |HLL − exact| ≤ 4%·exact + 2 (rsd 0.01 gated at 4σ, plus small-cell
    * slack; the register-max sketch is deterministic for fixed data).
    * Complements the coarser per-type q_approx_distinct_err. */
  def qApproxDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(F.col("event_type"),
        F.expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(F.countDistinct(F.col("user_id")).as("n_users"),
        F.approx_count_distinct(F.col("user_id"), 0.01).as("a"))
      .select(F.col("event_type"), F.col("day"), F.col("n_users"),
        F.when(F.abs(F.col("a") - F.col("n_users")) * 100L <=
          F.col("n_users") * 4L + 200L, 1L).otherwise(0L).as("ok"))

  val qApproxDistinctSql: String =
    """SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      | COUNT(DISTINCT user_id) AS n_users, CAST(1 AS BIGINT) AS ok
      |FROM events GROUP BY 1, 2""".stripMargin

  /** q_approx_distinct_err: the HLL path under the HASH GATE — per group,
    * ok = 1 iff |approx − exact| ≤ 4% of exact (HLL rsd 0.01, gate at
    * 4σ; the sketch is deterministic for fixed data, so the flag is
    * stable). The exact count rides the oracle hash, so the gate proves
    * both the exact twin AND the sketch's error bound in one entry. */
  def qApproxDistinctErr(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(F.countDistinct(F.col("user_id")).as("n_users"),
        F.approx_count_distinct(F.col("user_id"), 0.01).as("a"))
      .select(F.col("event_type"), F.col("n_users"),
        F.when(F.abs(F.col("a") - F.col("n_users")) * 100L <=
          F.col("n_users") * 4L, 1L).otherwise(0L).as("ok"))

  val qApproxDistinctErrSql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
      | CAST(1 AS BIGINT) AS ok
      |FROM events GROUP BY 1""".stripMargin

  /** Exact percentiles (p50/p90) by deterministic row selection — identical
    * semantics both engines, no interpolation-formula drift. */
  def qPercentile(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_returnflag")
      .orderBy(F.col("l_extendedprice").asc, F.col("l_orderkey").asc, F.col("l_linenumber").asc)
    val cw = Window.partitionBy("l_returnflag")
    t(s, dir, "lineitem")
      .select(F.col("l_returnflag"), F.col("l_extendedprice"), F.col("l_orderkey"), F.col("l_linenumber"))
      .withColumn("rn", F.row_number().over(w))
      .withColumn("cnt", F.count(F.lit(1)).over(cw))
      .groupBy("l_returnflag")
      .agg(
        out2(F.max(F.when(F.col("rn") === F.floor((F.col("cnt") + 1) / 2), dec2(F.col("l_extendedprice"))))).as("p50"),
        out2(F.max(F.when(F.col("rn") === F.ceil(F.col("cnt") * 0.9), dec2(F.col("l_extendedprice"))))).as("p90"))
  }

  val qPercentileSql: String =
    """WITH ranked AS (
      |  SELECT l_returnflag, l_extendedprice,
      |   ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice ASC, l_orderkey ASC, l_linenumber ASC) AS rn,
      |   COUNT(*) OVER (PARTITION BY l_returnflag) AS cnt
      |  FROM lineitem)
      |SELECT l_returnflag,
      | CAST(MAX(CASE WHEN rn = CAST(floor((cnt + 1) / 2) AS BIGINT) THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS p50,
      | CAST(MAX(CASE WHEN rn = CAST(ceil(cnt * 0.9) AS BIGINT) THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS p90
      |FROM ranked GROUP BY l_returnflag""".stripMargin

  /** ROLLUP grouping-sets aggregation. */
  def qRollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(out2(F.sum(dec2(F.col("l_quantity")))).as("sum_qty"), F.count(F.lit(1)).as("n"))

  val qRollupSql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty, COUNT(*) AS n
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin

  /** q_grouping_sets: EXPLICIT mixed grouping sets — (flag, status),
    * (flag), (status) but NOT the grand total (the set rollup/cube can't
    * spell), with grouping_id() distinguishing which set produced each
    * row (NULL group values are ambiguous when a grouping column is
    * itself nullable — gid is the ANSI answer). */
  def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("graft_lineitem")
    s.sql(
      """SELECT l_returnflag, l_linestatus, CAST(grouping_id() AS BIGINT) AS gid,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM graft_lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))""".stripMargin)
  }

  val qGroupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
      | CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
      | COUNT(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))""".stripMargin

  // ---- as-of join / range join ------------------------------------------

  /** As-of join: for each event, the latest order of that customer with
    * o_orderdate <= event ts (tie-break: max o_orderkey). Implemented the
    * scalable way — single union + one window pass per key, no per-event
    * probe join (at 100 TB a per-event subquery would be quadratic).
    */
  def qAsof(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(F.col("user_id").as("k"), F.unix_micros(F.col("ts")).as("tu"),
        F.col("event_id"), F.lit(1).as("is_event"),
        F.lit(null).cast("long").as("okey"), F.lit(null).cast("double").as("oprice"))
    val ord = t(s, dir, "orders")
      .select(F.col("o_custkey").as("k"), F.unix_micros(F.col("o_orderdate").cast("timestamp")).as("tu"),
        F.lit(null).cast("long").as("event_id"), F.lit(0).as("is_event"),
        F.col("o_orderkey").as("okey"), F.col("o_totalprice").as("oprice"))
    val w = Window.partitionBy("k")
      .orderBy(F.col("tu").asc, F.col("is_event").asc, F.col("okey").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.unionByName(ord)
      .withColumn("last_okey", F.last("okey", ignoreNulls = true).over(w))
      .withColumn("last_oprice", F.last("oprice", ignoreNulls = true).over(w))
      .filter(F.col("is_event") === 1 && F.col("last_okey").isNotNull)
      .select(F.col("event_id"), F.col("k").as("user_id"),
        F.col("last_okey").as("o_orderkey"), out2(F.col("last_oprice")).as("o_totalprice"))
  }

  /** q_asof_sql: the SAME as-of join typed as SQL — the ClickHouse user's
    * surface (`ASOF JOIN ... ON k = rk AND t >= rt`), reaching
    * AsOfJoinExec through GraftExtensions' injected parser + resolution
    * rule (graft.plans.GraftSqlParser). Shares q_asof's oracle, so the
    * full parse → resolve → custom-exec pipeline is hash-gated. */
  def qAsofSqlEntry(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events")
      .select(F.col("event_id"), F.col("user_id"),
        F.unix_micros(F.col("ts")).as("etu"))
      .createOrReplaceTempView("graft_asof_events")
    t(s, dir, "orders")
      .select(F.col("o_custkey").cast("long").as("ocust"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).as("otu"),
        F.col("o_orderkey").cast("long").as("okey"), F.col("o_totalprice"))
      .createOrReplaceTempView("graft_asof_orders")
    s.sql(
      """SELECT event_id, user_id, okey AS o_orderkey,
        | CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
        |FROM graft_asof_events
        |ASOF JOIN graft_asof_orders
        | ON user_id = ocust AND etu >= otu AND graft_asof_tie(okey)""".stripMargin)
  }

  val qAsofSql: String =
    """WITH u AS (
      |  SELECT user_id AS k, epoch_us(ts) AS tu, event_id, 1 AS is_event,
      |   CAST(NULL AS BIGINT) AS okey, CAST(NULL AS DOUBLE) AS oprice FROM events
      |  UNION ALL
      |  SELECT o_custkey AS k, epoch_us(o_orderdate) AS tu, CAST(NULL AS BIGINT) AS event_id, 0 AS is_event,
      |   o_orderkey AS okey, o_totalprice AS oprice FROM orders
      |), lv AS (
      |  SELECT *,
      |   LAST_VALUE(okey IGNORE NULLS) OVER (PARTITION BY k ORDER BY tu ASC, is_event ASC, okey ASC NULLS LAST
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_okey,
      |   LAST_VALUE(oprice IGNORE NULLS) OVER (PARTITION BY k ORDER BY tu ASC, is_event ASC, okey ASC NULLS LAST
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_oprice
      |  FROM u)
      |SELECT event_id, k AS user_id, last_okey AS o_orderkey,
      | CAST(CAST(last_oprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
      |FROM lv WHERE is_event = 1 AND last_okey IS NOT NULL""".stripMargin

  /** q_asof_near: NEAREST-order join — each event matched to the user's
    * order with the least |order_time − event_time|, either direction
    * (the bidirectional flavor of q_asof's backward-only match; DuckDB/
    * pandas ASOF joins only look backward, ClickHouse ASOF only one
    * direction — nearest needs both). Same merge-sorted-union shape, run
    * twice: a backward LOCF pass and a forward pass (the same window
    * with the sort reversed), then a branch-free pick by distance with
    * deterministic ties (backward wins; within a timestamp, okey order).
    * Two window sorts per user partition, no self-join, all-integer µs
    * arithmetic. */
  /** q_asof_phys: the SAME as-of join through graft's custom physical
    * operator (graft.plans.AsOfJoinExec — logical node + planner strategy
    * injected by GraftExtensions) instead of the union+window
    * formulation. Shares q_asof's oracle: the hash gate proves the
    * whole-operator extension path end-to-end (per-partition streaming
    * merge ≡ the windowed LOCF, cell for cell). The plan: each side
    * hash-clustered on its own key + sorted (key, time) — no union, no
    * window state, left partitioning preserved for downstream reuse. */
  def qAsofPhys(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      F.col("event_id"), F.col("user_id"),
      F.unix_micros(F.col("ts")).as("etu"))
    val ord = t(s, dir, "orders").select(
      F.col("o_custkey").cast("long").as("ocust"),
      F.unix_micros(F.col("o_orderdate").cast("timestamp")).as("otu"),
      F.col("o_orderkey").cast("long").as("o_orderkey"),
      F.col("o_totalprice"))
    graft.plans.AsOfJoin
      .asof(ev, ord, "user_id", "etu", "ocust", "otu", "o_orderkey")
      .select(F.col("event_id"), F.col("user_id"),
        F.col("o_orderkey"), out2(F.col("o_totalprice")).as("o_totalprice"))
  }

  /** q_asof_left: ClickHouse `ASOF LEFT JOIN` through the custom
    * operator — events with no order yet surface with sentinel values
    * instead of dropping (COALESCE on both engines: the driver compare
    * must not depend on null stringification). Same oracle family as
    * q_asof, minus the matched-only filter. */
  def qAsofLeft(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      F.col("event_id"), F.col("user_id"),
      F.unix_micros(F.col("ts")).as("etu"))
    val ord = t(s, dir, "orders").select(
      F.col("o_custkey").cast("long").as("ocust"),
      F.unix_micros(F.col("o_orderdate").cast("timestamp")).as("otu"),
      F.col("o_orderkey").cast("long").as("o_orderkey"),
      F.col("o_totalprice"))
    graft.plans.AsOfJoin
      .asof(ev, ord, "user_id", "etu", "ocust", "otu", "o_orderkey",
        leftOuter = true)
      .select(F.col("event_id"), F.col("user_id"),
        F.coalesce(F.col("o_orderkey"), F.lit(-1L)).as("o_orderkey"),
        out2(F.coalesce(F.col("o_totalprice"), F.lit(0.0))).as("o_totalprice"))
  }

  val qAsofLeftSql: String =
    """WITH u AS (
      |  SELECT user_id AS k, epoch_us(ts) AS tu, event_id, 1 AS is_event,
      |   CAST(NULL AS BIGINT) AS okey, CAST(NULL AS DOUBLE) AS oprice FROM events
      |  UNION ALL
      |  SELECT o_custkey AS k, epoch_us(o_orderdate) AS tu, CAST(NULL AS BIGINT) AS event_id, 0 AS is_event,
      |   o_orderkey AS okey, o_totalprice AS oprice FROM orders
      |), lv AS (
      |  SELECT *,
      |   LAST_VALUE(okey IGNORE NULLS) OVER (PARTITION BY k ORDER BY tu ASC, is_event ASC, okey ASC NULLS LAST
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_okey,
      |   LAST_VALUE(oprice IGNORE NULLS) OVER (PARTITION BY k ORDER BY tu ASC, is_event ASC, okey ASC NULLS LAST
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_oprice
      |  FROM u)
      |SELECT event_id, k AS user_id, COALESCE(last_okey, -1) AS o_orderkey,
      | CAST(CAST(COALESCE(last_oprice, 0) AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
      |FROM lv WHERE is_event = 1""".stripMargin

  def qAsofNear(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(F.col("user_id").as("k"), F.unix_micros(F.col("ts")).as("tu"),
        F.col("event_id"), F.lit(1).as("is_event"),
        F.lit(null).cast("long").as("okey"))
    val ord = t(s, dir, "orders")
      .select(F.col("o_custkey").as("k"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).as("tu"),
        F.lit(null).cast("long").as("event_id"), F.lit(0).as("is_event"),
        F.col("o_orderkey").as("okey"))
    val otu = F.when(F.col("okey").isNotNull, F.col("tu"))
    val wb = Window.partitionBy("k")
      .orderBy(F.col("tu").asc, F.col("is_event").asc, F.col("okey").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy("k")
      .orderBy(F.col("tu").desc, F.col("is_event").asc, F.col("okey").desc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bk = F.col("bk"); val fk = F.col("fk")
    val bd = F.col("tu") - F.col("btu"); val fd = F.col("ftu") - F.col("tu")
    ev.unionByName(ord)
      .withColumn("bk", F.last("okey", ignoreNulls = true).over(wb))
      .withColumn("btu", F.last(otu, ignoreNulls = true).over(wb))
      .withColumn("fk", F.last("okey", ignoreNulls = true).over(wf))
      .withColumn("ftu", F.last(otu, ignoreNulls = true).over(wf))
      .filter(F.col("is_event") === 1 && (bk.isNotNull || fk.isNotNull))
      .select(F.col("event_id"), F.col("k").as("user_id"),
        F.when(bk.isNull, fk).when(fk.isNull, bk)
          .when(bd <= fd, bk).otherwise(fk).as("near_okey"),
        F.when(bk.isNull, fd).when(fk.isNull, bd)
          .when(bd <= fd, bd).otherwise(fd).as("dist_us"))
  }

  val qAsofNearSql: String =
    """WITH u AS (
      |  SELECT user_id AS k, epoch_us(ts) AS tu, event_id, 1 AS is_event,
      |   CAST(NULL AS BIGINT) AS okey FROM events
      |  UNION ALL
      |  SELECT o_custkey AS k, epoch_us(o_orderdate) AS tu, CAST(NULL AS BIGINT) AS event_id,
      |   0 AS is_event, o_orderkey AS okey FROM orders
      |), lv AS (
      |  SELECT *,
      |   LAST_VALUE(okey IGNORE NULLS) OVER wb AS bk,
      |   LAST_VALUE(CASE WHEN okey IS NOT NULL THEN tu END IGNORE NULLS) OVER wb AS btu,
      |   LAST_VALUE(okey IGNORE NULLS) OVER wf AS fk,
      |   LAST_VALUE(CASE WHEN okey IS NOT NULL THEN tu END IGNORE NULLS) OVER wf AS ftu
      |  FROM u
      |  WINDOW
      |   wb AS (PARTITION BY k ORDER BY tu ASC, is_event ASC, okey ASC NULLS LAST
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |   wf AS (PARTITION BY k ORDER BY tu DESC, is_event ASC, okey DESC NULLS LAST
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_id, k AS user_id,
      | CASE WHEN bk IS NULL THEN fk WHEN fk IS NULL THEN bk
      |      WHEN tu - btu <= ftu - tu THEN bk ELSE fk END AS near_okey,
      | CASE WHEN bk IS NULL THEN ftu - tu WHEN fk IS NULL THEN tu - btu
      |      WHEN tu - btu <= ftu - tu THEN tu - btu ELSE ftu - tu END AS dist_us
      |FROM lv WHERE is_event = 1 AND (bk IS NOT NULL OR fk IS NOT NULL)""".stripMargin

  /** Band/range join: orders bucketed into totalprice bands via an interval
    * join against a generated bands table (broadcast — bands are tiny).
    * The band table is sized from the data's own max price so no order can
    * fall outside it (a hardcoded cap would silently drop rows the
    * unbounded-floor oracle keeps). */
  def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val maxBand = t(s, dir, "orders")
      .agg(F.floor(F.max("o_totalprice") / 10000.0).cast("long")).head().getLong(0)
    val bands = s.range(0, maxBand + 1).toDF("band")
      .withColumn("lo", F.col("band") * 10000.0)
      .withColumn("hi", (F.col("band") + 1) * 10000.0)
    t(s, dir, "orders")
      .join(F.broadcast(bands), F.col("o_totalprice") >= F.col("lo") && F.col("o_totalprice") < F.col("hi"))
      .groupBy("band")
      .agg(F.count(F.lit(1)).as("n_orders"), out2(F.sum(dec2(F.col("o_totalprice")))).as("total"))
  }

  /** q_range_phys: the SAME band join through graft's custom INTERVAL
    * JOIN operator (tier c #2, graft.plans.IntervalJoinExec): the
    * broadcast interval INDEX (sorted lo + prefix-max hi) probes each
    * order in O(log n + matches) instead of BroadcastNestedLoopJoin's
    * O(intervals) scan per row, and the fact stream never shuffles.
    * Prices in exact cents (BIGINT contract); floor(price/10000) ≡
    * cents ∈ [band·10⁶, (band+1)·10⁶), so this shares q_range_join's
    * oracle — the custom-plan path is hash-gated end to end. */
  def qRangePhys(s: SparkSession, dir: String): DataFrame = {
    val maxBand = t(s, dir, "orders")
      .agg(F.floor(F.max("o_totalprice") / 10000.0).cast("long")).head().getLong(0)
    val bands = s.range(0, maxBand + 1).toDF("band")
      .withColumn("lo", F.col("band") * 1000000L)
      .withColumn("hi", (F.col("band") + 1) * 1000000L)
    val pts = t(s, dir, "orders")
      .select(F.col("o_totalprice"),
        (dec2(F.col("o_totalprice")) * 100).cast("long").as("vc"))
    graft.plans.IntervalJoin.join(pts, bands, "vc", "lo", "hi")
      .groupBy("band")
      .agg(F.count(F.lit(1)).as("n_orders"),
        out2(F.sum(dec2(F.col("o_totalprice")))).as("total"))
  }

  /** q_asof_tol: q_asof_phys's scenario with a STALENESS TOLERANCE —
    * a match older than the tolerance no longer "explains" the event
    * (kdb wj / QuestDB ASOF TOLERANCE semantics). The testdata's
    * event-to-order gaps span ≈26–32 years (TPC-H dates vs 2024
    * events), so a 27-year tolerance genuinely SPLITS the match set:
    * recent-order matches survive, older ones drop. One codegen'd
    * post-filter over the exec's at-most-one match per left row; the
    * join's shuffle/sort shape is unchanged. */
  def qAsofTol(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(
      F.col("event_id"), F.col("user_id"),
      F.unix_micros(F.col("ts")).as("etu"))
    val ord = t(s, dir, "orders").select(
      F.col("o_custkey").cast("long").as("ocust"),
      F.unix_micros(F.col("o_orderdate").cast("timestamp")).as("otu"),
      F.col("o_orderkey").cast("long").as("o_orderkey"),
      F.col("o_totalprice"))
    graft.plans.AsOfJoin.asofTolerance(ev, ord,
        "user_id", "etu", "ocust", "otu", "o_orderkey",
        tolerance = 852000000000000L) // ≈27 years in micros
      .select(F.col("event_id"), F.col("user_id"),
        F.col("o_orderkey"), out2(F.col("o_totalprice")).as("o_totalprice"))
  }

  val qAsofTolSql: String =
    """WITH u AS (
      |  SELECT user_id AS k, epoch_us(ts) AS tu, event_id, 1 AS is_event,
      |   CAST(NULL AS BIGINT) AS okey, CAST(NULL AS DOUBLE) AS oprice,
      |   CAST(NULL AS BIGINT) AS otu FROM events
      |  UNION ALL
      |  SELECT o_custkey AS k, epoch_us(o_orderdate) AS tu, CAST(NULL AS BIGINT) AS event_id, 0 AS is_event,
      |   o_orderkey AS okey, o_totalprice AS oprice,
      |   epoch_us(o_orderdate) AS otu FROM orders
      |), lv AS (
      |  SELECT *,
      |   LAST_VALUE(okey IGNORE NULLS) OVER (PARTITION BY k ORDER BY tu ASC, is_event ASC, okey ASC NULLS LAST
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_okey,
      |   LAST_VALUE(oprice IGNORE NULLS) OVER (PARTITION BY k ORDER BY tu ASC, is_event ASC, okey ASC NULLS LAST
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_oprice,
      |   LAST_VALUE(otu IGNORE NULLS) OVER (PARTITION BY k ORDER BY tu ASC, is_event ASC, okey ASC NULLS LAST
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_otu
      |  FROM u)
      |SELECT event_id, k AS user_id, last_okey AS o_orderkey,
      | CAST(CAST(last_oprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
      |FROM lv WHERE is_event = 1 AND last_okey IS NOT NULL
      |  AND tu - last_otu <= 852000000000000""".stripMargin

  /** q_range_sql: the band join written as a PLAIN declarative SQL
    * theta join, planned to IntervalJoinExec by AutoIntervalJoinStrategy
    * (the band side is a small range, so it is broadcastable) — the
    * SQL-visible face of the interval operator (shares q_range_join's
    * oracle). */
  def qRangeSql(s: SparkSession, dir: String): DataFrame = {
    val maxBand = t(s, dir, "orders")
      .agg(F.floor(F.max("o_totalprice") / 10000.0).cast("long")).head().getLong(0)
    s.range(0, maxBand + 1).toDF("band")
      .withColumn("lo", F.col("band") * 1000000L)
      .withColumn("hi", (F.col("band") + 1) * 1000000L)
      .createOrReplaceTempView("rsql_bands")
    t(s, dir, "orders")
      .select(F.col("o_totalprice"),
        (dec2(F.col("o_totalprice")) * 100).cast("long").as("vc"))
      .createOrReplaceTempView("rsql_pts")
    s.sql(
      """SELECT band, COUNT(*) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
        |FROM rsql_pts JOIN rsql_bands ON vc >= lo AND vc < hi
        |GROUP BY band""".stripMargin)
  }

  val qRangeJoinSql: String =
    """SELECT CAST(floor(o_totalprice / 10000) AS BIGINT) AS band,
      | COUNT(*) AS n_orders, CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
      |FROM orders GROUP BY 1""".stripMargin

  /** (name, query, oracle) triples — oracle None = rows-only check. */
  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("q1_agg", q1Agg _, Some(q1Sql)),
    ("q3_topn", q3TopN _, Some(q3Sql)),
    ("q5_join5", q5Join5 _, Some(q5Sql)),
    ("q6_filter", q6Filter _, Some(q6Sql)),
    ("q_window_topn", qWindowTopN _, Some(qWindowTopNSql)),
    ("q_tumble", qTumble _, Some(qTumbleSql)),
    ("q_hop", qHop _, Some(qHopSql)),
    ("q_sessionize", qSessionize _, Some(qSessionizeSql)),
    ("q_distinct", qDistinct _, Some(qDistinctSql)),
    ("q_approx_distinct", qApproxDistinct _, Some(qApproxDistinctSql)),
    ("q_approx_distinct_err", qApproxDistinctErr _, Some(qApproxDistinctErrSql)),
    ("q_percentile", qPercentile _, Some(qPercentileSql)),
    ("q_rollup", qRollup _, Some(qRollupSql)),
    ("q_grouping_sets", qGroupingSets _, Some(qGroupingSetsSql)),
    ("q_asof", qAsof _, Some(qAsofSql)),
    ("q_asof_phys", qAsofPhys _, Some(qAsofSql)),
    ("q_asof_sql", qAsofSqlEntry _, Some(qAsofSql)),
    ("q_asof_left", qAsofLeft _, Some(qAsofLeftSql)),
    ("q_asof_near", qAsofNear _, Some(qAsofNearSql)),
    ("q_range_join", qRangeJoin _, Some(qRangeJoinSql)),
    ("q_range_phys", qRangePhys _, Some(qRangeJoinSql)),
    ("q_range_sql", qRangeSql _, Some(qRangeJoinSql)),
    ("q_asof_tol", qAsofTol _, Some(qAsofTolSql)))
}
