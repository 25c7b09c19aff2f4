package graft.olap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}

import graft.{ScenarioDirs, Tables}
import graft.Tables.{dec2, out2}
import graft.streaming.{SessionFold, SessionFunnelStream}

/** Additional OLAP shapes beyond the core set: correlated-min subquery
  * (TPC-H Q2 shape) and semi/anti-join existence queries (EXISTS / NOT
  * EXISTS) — both common ClickHouse-style analytics the reference's
  * deployments run. */
object OlapExtraQueries {
  type Q = (SparkSession, String) => DataFrame

  /** q_minsub: for each large part, the supplier(s) achieving the minimum
    * extended price — correlated aggregate decorrelated into a join with
    * a grouped min (exactly what Catalyst does to the EXISTS form).
    * part and the part-keyed mins aggregate both grow with SF, so neither
    * is hinted — AQE broadcasts them while they fit and shuffles beyond. */
  def qMinSub(s: SparkSession, dir: String): DataFrame = {
    val part = Tables(s, dir, "part").filter(F.col("p_size") >= 40)
      .select("p_partkey", "p_name")
    val li = Tables(s, dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice")
    val mins = li.join(part, F.col("l_partkey") === F.col("p_partkey"))
      .groupBy("p_partkey", "p_name")
      .agg(F.min(dec2(F.col("l_extendedprice"))).as("min_price"))
    li.join(mins,
        F.col("l_partkey") === F.col("p_partkey") &&
          dec2(F.col("l_extendedprice")) === F.col("min_price"))
      .groupBy("p_partkey", "p_name", "min_price")
      .agg(F.min("l_suppkey").as("best_suppkey"))
      .select(F.col("p_partkey"), F.col("p_name"),
        out2(F.col("min_price")).as("min_price"), F.col("best_suppkey"))
  }

  val qMinSubSql: String =
    """WITH pp AS (SELECT p_partkey, p_name FROM part WHERE p_size >= 40),
      |mins AS (
      |  SELECT p_partkey, p_name, MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS min_price
      |  FROM lineitem JOIN pp ON l_partkey = p_partkey
      |  GROUP BY 1, 2)
      |SELECT m.p_partkey, m.p_name, CAST(CAST(m.min_price AS DECIMAL(18,2)) AS DOUBLE) AS min_price,
      |  MIN(l.l_suppkey) AS best_suppkey
      |FROM lineitem l JOIN mins m
      |  ON l.l_partkey = m.p_partkey AND CAST(l.l_extendedprice AS DECIMAL(18,2)) = m.min_price
      |GROUP BY 1, 2, 3""".stripMargin

  /** q_semi_anti: customers with ≥1 order in 1996 (semi) and no order
    * over 300k ever (anti), counted per market segment. Semi/anti joins
    * never widen rows — Spark keeps them build-side broadcast when the
    * filtered orders side is small. */
  def qSemiAnti(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer")
    val orders = Tables(s, dir, "orders")
    val in96 = orders.filter(
      F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp") &&
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
      .select("o_custkey")
    val big = orders.filter(F.col("o_totalprice") > 300000.0).select("o_custkey")
    cust
      .join(in96, F.col("c_custkey") === in96("o_custkey"), "left_semi")
      .join(big, F.col("c_custkey") === big("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(F.count(F.lit(1)).as("n_cust"))
  }

  val qSemiAntiSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_cust
      |FROM customer c
      |WHERE EXISTS (
      |    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      |      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00')
      |  AND NOT EXISTS (
      |    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      |      AND o.o_totalprice > 300000.0)
      |GROUP BY 1""".stripMargin

  /** q_json: semi-structured extraction (ClickHouse JSONExtract shape) —
    * pull `props.k` out of the JSON string column and aggregate it.
    * get_json_object is codegen'd; the path never leaves the scan
    * projection, so this stays a single map + partial-agg pass. */
  def qJson(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select(F.col("event_type"),
        F.get_json_object(F.col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(F.count(F.lit(1)).as("n"), F.sum("k").as("sum_k"),
        F.min("k").as("min_k"), F.max("k").as("max_k"))

  val qJsonSql: String =
    """SELECT event_type, COUNT(*) AS n,
      | CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
      | MIN(CAST(props->>'k' AS BIGINT)) AS min_k,
      | MAX(CAST(props->>'k' AS BIGINT)) AS max_k
      |FROM events GROUP BY 1""".stripMargin

  /** q_cube: full CUBE grouping-sets over two dimensions. */
  def qCube(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(out2(F.sum(dec2(F.col("l_quantity")))).as("sum_qty"),
        F.count(F.lit(1)).as("n"))

  val qCubeSql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty, COUNT(*) AS n
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin

  /** q_approx_pct: sketch-based percentiles (ClickHouse quantileTDigest
    * shape), ORACLE-BACKED since r10 (r9 verdict #2) at the FINER
    * (l_returnflag, l_linestatus) granularity than q_approx_pct_err:
    * per cell, the GK sketch's p50/p90 values must sit in their exact
    * rank-feasible interval (same p-scaled BIGINT rule as the err gate)
    * and the cell's exact row count rides the oracle hash. Mergeable
    * sketches keep this one partial-agg pass at any scale; the rank
    * check adds one broadcast join + one conditional-sum pass. */
  def qApproxPct(s: SparkSession, dir: String): DataFrame =
    gkRankGate(s, dir, Seq("l_returnflag", "l_linestatus"))

  val qApproxPctSql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      | CAST(1 AS BIGINT) AS ok50, CAST(1 AS BIGINT) AS ok90
      |FROM lineitem GROUP BY 1, 2""".stripMargin

  /** q_approx_pct_err: the sketch-percentile path under the HASH GATE
    * (q_histogram_eqd_cuts' rank-feasibility rule): per group, ok = 1
    * iff the GK value's feasible rank interval [count(<x)+1, count(≤x)]
    * meets the exact target p·n within the sketch tolerance n/accuracy
    * (+2 rounding slack) — exact BIGINT via p-scaled ranks (p=0.5 → ×2,
    * p=0.9 → ×10). Runs on integer cents so both the sketch input and
    * the rank counts are engine-exact; the group's exact row count rides
    * the oracle hash. One pass for the cuts + one broadcast-join
    * conditional-sum pass — no sort, no window. */
  def qApproxPctErr(s: SparkSession, dir: String): DataFrame =
    gkRankGate(s, dir, Seq("l_returnflag"))

  /** The GK rank-feasibility gate, parameterized on the grouping keys —
    * ONE body for q_approx_pct (per (flag, status) cell) and
    * q_approx_pct_err (per flag): the p-scaled BIGINT inequalities and
    * the n/accuracy+2 tolerance live in exactly one place. */
  private def gkRankGate(s: SparkSession, dir: String,
                         groups: Seq[String]): DataFrame = {
    val accuracy = 10000
    val gcols = groups.map(F.col)
    val v = Tables(s, dir, "lineitem")
      .select(gcols :+
        (Tables.dec2(F.col("l_extendedprice")) * 100).cast("long").as("vc"): _*)
    val ap = v.groupBy(gcols: _*).agg(
      F.percentile_approx(F.col("vc"), F.lit(0.5), F.lit(accuracy)).as("ap50"),
      F.percentile_approx(F.col("vc"), F.lit(0.9), F.lit(accuracy)).as("ap90"))
    v.join(F.broadcast(ap), groups)
      .groupBy(gcols: _*)
      .agg(F.count(F.lit(1)).as("n"),
        F.sum(F.when(F.col("vc") < F.col("ap50"), 1L).otherwise(0L)).as("lt50"),
        F.sum(F.when(F.col("vc") <= F.col("ap50"), 1L).otherwise(0L)).as("le50"),
        F.sum(F.when(F.col("vc") < F.col("ap90"), 1L).otherwise(0L)).as("lt90"),
        F.sum(F.when(F.col("vc") <= F.col("ap90"), 1L).otherwise(0L)).as("le90"))
      .select(gcols ++ Seq(F.col("n"),
        F.when(
          F.lit(2L) * F.col("le50") >= F.col("n") - F.lit(2L) * tolC(accuracy) &&
          F.lit(2L) * (F.col("lt50") + 1L) <= F.col("n") + F.lit(2L) * tolC(accuracy) + 2L,
          1L).otherwise(0L).as("ok50"),
        F.when(
          F.lit(10L) * F.col("le90") >= F.lit(9L) * F.col("n") - F.lit(10L) * tolC(accuracy) &&
          F.lit(10L) * (F.col("lt90") + 1L) <= F.lit(9L) * F.col("n") + F.lit(10L) * tolC(accuracy) + 10L,
          1L).otherwise(0L).as("ok90")): _*)
  }

  private def tolC(accuracy: Int): Column =
    F.expr(s"n div $accuracy") + F.lit(2L)

  val qApproxPctErrSql: String =
    """SELECT l_returnflag, COUNT(*) AS n, CAST(1 AS BIGINT) AS ok50,
      | CAST(1 AS BIGINT) AS ok90
      |FROM lineitem GROUP BY 1""".stripMargin

  /** q_funnel: ClickHouse `windowFunnel` — deepest click→view→purchase
    * sequence per user completed within 1 hour of the first click, then
    * user counts per funnel depth. ONE grouped pass: per user, fold the
    * time-sorted event sequence through the funnel state machine
    * (`aggregate` over `sort_array(collect_list(...))`). Processing
    * ascending makes "first qualifying event" ≡ "min qualifying event",
    * so this is value-identical to the staged conditional-min-join form —
    * but with a single shuffle on user_id instead of three joins (and a
    * user_id-bucketed events table makes even that one shuffle-free).
    * Per-user state is 3 timestamps; the collected sequence is one
    * user's events (the same bound the streaming funnel holds). */
  def qFunnel(s: SparkSession, dir: String): DataFrame = {
    val Win = 3600L * 1000000L // 1 hour in µs
    // "unset" sentinel: far above any epoch-µs yet small enough that
    // NoT + Win cannot overflow (ANSI mode turns wraparound into errors)
    val NoT = Long.MaxValue / 4
    val ev = Tables(s, dir, "events")
      .filter(F.col("event_type").isin("click", "view", "purchase"))
      .select(F.col("user_id"),
        F.struct(F.unix_micros(F.col("ts")).as("tu"),
          F.when(F.col("event_type") === "click", 0)
            .when(F.col("event_type") === "view", 1)
            .otherwise(2).as("step")).as("e"))
    val folded = ev.groupBy("user_id")
      .agg(F.sort_array(F.collect_list("e")).as("seq"))
      .select(F.col("user_id"), F.aggregate(
        F.col("seq"),
        F.struct(F.lit(NoT).as("t1"), F.lit(NoT).as("t2"), F.lit(NoT).as("t3")),
        (st, e) => {
          val (t1, t2, t3) = (st("t1"), st("t2"), st("t3"))
          val (tu, step) = (e("tu"), e("step"))
          F.struct(
            F.when(step === 0 && tu < t1, tu).otherwise(t1).as("t1"),
            F.when(step === 1 && t1 =!= NoT && tu > t1
              && tu <= t1 + Win && t2 === NoT, tu).otherwise(t2).as("t2"),
            F.when(step === 2 && t2 =!= NoT && tu > t2
              && tu <= t1 + Win && t3 === NoT, tu).otherwise(t3).as("t3"))
        }).as("st"))
      .filter(F.col("st.t1") =!= NoT)
      .select(F.col("user_id"),
        (F.lit(1L) + F.when(F.col("st.t2") =!= NoT, 1L).otherwise(0L)
          + F.when(F.col("st.t3") =!= NoT, 1L).otherwise(0L)).as("level"))
    folded.groupBy("level").agg(F.count(F.lit(1)).as("n_users"))
  }

  /** q_funnel_strict: ClickHouse `windowFunnel(strict_order)` semantics
    * (windowless): the click→view→purchase chain must run in order with
    * NO other funnel event interleaved — reduce each user's time-ordered
    * funnel events to a step string ('c','v','p' under the (ts, event_id)
    * total order) and the strict level is the longest of 'cvp'/'cv'/'c'
    * occurring as a CONTIGUOUS substring. One grouped pass builds the
    * string (per-user state = that user's funnel events, same bound as
    * q_funnel); the substring tests are constant-time per user. */
  def qFunnelStrict(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .filter(F.col("event_type").isin("click", "view", "purchase"))
      .select(F.col("user_id"),
        F.struct(F.unix_micros(F.col("ts")).as("tu"), F.col("event_id"),
          F.when(F.col("event_type") === "click", "c")
            .when(F.col("event_type") === "view", "v")
            .otherwise("p").as("st")).as("e"))
    ev.groupBy("user_id")
      .agg(F.concat_ws("", F.expr("transform(sort_array(collect_list(e)), x -> x.st)"))
        .as("seq"))
      .select(F.col("user_id"),
        F.when(F.instr(F.col("seq"), "cvp") > 0, 3L)
          .when(F.instr(F.col("seq"), "cv") > 0, 2L)
          .when(F.instr(F.col("seq"), "c") > 0, 1L)
          .otherwise(0L).as("level"))
      .groupBy("level").agg(F.count(F.lit(1)).as("n_users"))
  }

  val qFunnelStrictSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS tu, event_id,
      |    CASE event_type WHEN 'click' THEN 'c' WHEN 'view' THEN 'v' ELSE 'p' END AS st
      |  FROM events WHERE event_type IN ('click', 'view', 'purchase')),
      |seqs AS (
      |  SELECT user_id, string_agg(st, '' ORDER BY tu, event_id) AS seq
      |  FROM ev GROUP BY 1)
      |SELECT level, COUNT(*) AS n_users FROM (
      |  SELECT CASE WHEN strpos(seq, 'cvp') > 0 THEN 3
      |              WHEN strpos(seq, 'cv') > 0 THEN 2
      |              WHEN strpos(seq, 'c') > 0 THEN 1 ELSE 0 END AS level
      |  FROM seqs)
      |GROUP BY 1""".stripMargin

  /** q_funnel_dedup: ClickHouse `windowFunnel(strict_dedup)` semantics
    * (windowless): the greedy click→view→purchase chain is INTERRUPTED
    * when a duplicate of an already-matched step arrives before the next
    * step — a second 'c' before the 'v' freezes the user at level 1; a
    * 'c' or 'v' before the 'p' freezes at level 2. Rides the same
    * per-user step string as q_funnel_strict; the dedup walk is three
    * constant-time position probes per user (first 'c'; first of {c,v}
    * after it must be 'v'; first of {c,v,p} after that must be 'p'). */
  def qFunnelDedup(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .filter(F.col("event_type").isin("click", "view", "purchase"))
      .select(F.col("user_id"),
        F.struct(F.unix_micros(F.col("ts")).as("tu"), F.col("event_id"),
          F.when(F.col("event_type") === "click", "c")
            .when(F.col("event_type") === "view", "v")
            .otherwise("p").as("st")).as("e"))
    val seqs = ev.groupBy("user_id")
      .agg(F.concat_ws("", F.expr("transform(sort_array(collect_list(e)), x -> x.st)"))
        .as("seq"))
    // after the anchor, the NEXT occurrence among the contenders decides:
    // advance if it is the wanted step, interrupt if it is a repeat
    val rest1 = F.expr("substr(seq, instr(seq, 'c') + 1)")
    val levels = seqs
      .withColumn("l1", F.instr(F.col("seq"), "c") > 0)
      .withColumn("r1", rest1)
      .withColumn("pv", F.instr(F.col("r1"), "v"))
      .withColumn("pc", F.instr(F.col("r1"), "c"))
      .withColumn("l2", F.col("l1") && F.col("pv") > 0 &&
        (F.col("pc") === 0 || F.col("pv") < F.col("pc")))
      .withColumn("r2", F.expr("substr(r1, pv + 1)"))
      .withColumn("pp", F.instr(F.col("r2"), "p"))
      .withColumn("pc2", F.instr(F.col("r2"), "c"))
      .withColumn("pv2", F.instr(F.col("r2"), "v"))
      .withColumn("l3", F.col("l2") && F.col("pp") > 0 &&
        (F.col("pc2") === 0 || F.col("pp") < F.col("pc2")) &&
        (F.col("pv2") === 0 || F.col("pp") < F.col("pv2")))
    levels.select(
      (F.when(F.col("l3"), 3L).when(F.col("l2"), 2L)
        .when(F.col("l1"), 1L).otherwise(0L)).as("level"))
      .groupBy("level").agg(F.count(F.lit(1)).as("n_users"))
  }

  val qFunnelDedupSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS tu, event_id,
      |    CASE event_type WHEN 'click' THEN 'c' WHEN 'view' THEN 'v' ELSE 'p' END AS st
      |  FROM events WHERE event_type IN ('click', 'view', 'purchase')),
      |seqs AS (
      |  SELECT user_id, string_agg(st, '' ORDER BY tu, event_id) AS seq
      |  FROM ev GROUP BY 1),
      |walk AS (
      |  SELECT user_id, strpos(seq, 'c') > 0 AS l1,
      |    substr(seq, strpos(seq, 'c') + 1) AS r1
      |  FROM seqs),
      |w2 AS (
      |  SELECT *, strpos(r1, 'v') AS pv, strpos(r1, 'c') AS pc,
      |    l1 AND strpos(r1, 'v') > 0 AND
      |      (strpos(r1, 'c') = 0 OR strpos(r1, 'v') < strpos(r1, 'c')) AS l2,
      |    substr(r1, strpos(r1, 'v') + 1) AS r2
      |  FROM walk),
      |w3 AS (
      |  SELECT *, l2 AND strpos(r2, 'p') > 0 AND
      |      (strpos(r2, 'c') = 0 OR strpos(r2, 'p') < strpos(r2, 'c')) AND
      |      (strpos(r2, 'v') = 0 OR strpos(r2, 'p') < strpos(r2, 'v')) AS l3
      |  FROM w2)
      |SELECT CAST(CASE WHEN l3 THEN 3 WHEN l2 THEN 2 WHEN l1 THEN 1 ELSE 0 END
      |    AS BIGINT) AS level,
      |  COUNT(*) AS n_users
      |FROM w3 GROUP BY 1""".stripMargin

  val qFunnelSql: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tu FROM events),
      |s1 AS (SELECT user_id, MIN(tu) AS t1 FROM ev WHERE event_type = 'click' GROUP BY 1),
      |s2 AS (SELECT e.user_id, MIN(e.tu) AS t2, MIN(s1.t1) AS t1b
      |  FROM ev e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'view' AND e.tu > s1.t1 AND e.tu <= s1.t1 + 3600000000
      |  GROUP BY 1),
      |s3 AS (SELECT e.user_id, MIN(e.tu) AS t3
      |  FROM ev e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND e.tu > s2.t2 AND e.tu <= s2.t1b + 3600000000
      |  GROUP BY 1)
      |SELECT level, COUNT(*) AS n_users FROM (
      |  SELECT s1.user_id,
      |    CAST(1 + (CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END)
      |           + (CASE WHEN s3.user_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS level
      |  FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
      |          LEFT JOIN s3 ON s1.user_id = s3.user_id)
      |GROUP BY 1""".stripMargin

  /** q_retention: ClickHouse `retention` — of the users active in the
    * first observed hour, how many came back in each of the next 3 hours.
    * One pass: per-user conditional ORs, then column sums. */
  def qRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(F.col("user_id"), F.unix_micros(F.col("ts")).as("tu"))
    val H = 3600L * 1000000L
    val base = ev.agg(F.min("tu")).head().getLong(0)
    val flags = ev.groupBy("user_id").agg(
      F.max(F.when(F.col("tu") < base + H, 1).otherwise(0)).as("h0"),
      F.max(F.when(F.col("tu") >= base + H && F.col("tu") < base + 2 * H, 1).otherwise(0)).as("h1"),
      F.max(F.when(F.col("tu") >= base + 2 * H && F.col("tu") < base + 3 * H, 1).otherwise(0)).as("h2"),
      F.max(F.when(F.col("tu") >= base + 3 * H && F.col("tu") < base + 4 * H, 1).otherwise(0)).as("h3"))
    flags.filter(F.col("h0") === 1).agg(
      F.count(F.lit(1)).as("cohort"),
      F.sum("h1").cast("long").as("ret_h1"),
      F.sum("h2").cast("long").as("ret_h2"),
      F.sum("h3").cast("long").as("ret_h3"))
  }

  val qRetentionSql: String =
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS tu FROM events),
      |b AS (SELECT MIN(tu) AS t0 FROM ev),
      |flags AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN tu < t0 + 3600000000 THEN 1 ELSE 0 END) AS h0,
      |    MAX(CASE WHEN tu >= t0 + 3600000000 AND tu < t0 + 7200000000 THEN 1 ELSE 0 END) AS h1,
      |    MAX(CASE WHEN tu >= t0 + 7200000000 AND tu < t0 + 10800000000 THEN 1 ELSE 0 END) AS h2,
      |    MAX(CASE WHEN tu >= t0 + 10800000000 AND tu < t0 + 14400000000 THEN 1 ELSE 0 END) AS h3
      |  FROM ev, b GROUP BY 1)
      |SELECT COUNT(*) AS cohort,
      |  CAST(SUM(h1) AS BIGINT) AS ret_h1,
      |  CAST(SUM(h2) AS BIGINT) AS ret_h2,
      |  CAST(SUM(h3) AS BIGINT) AS ret_h3
      |FROM flags WHERE h0 = 1""".stripMargin

  /** q_topk_heap: the q_window_topn result computed by the bounded-heap
    * TopKPairs aggregate instead of a window sort — shuffle carries
    * O(groups × k) entries, not every row (graft.operators.TopK). Same
    * oracle as the window form: results must be identical. */
  def qTopkHeap(s: SparkSession, dir: String): DataFrame = {
    // customer grows with SF: unhinted join, AQE decides the strategy.
    val joined = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer"),
        F.col("o_custkey") === F.col("c_custkey"))
    graft.operators.TopK.perGroup(joined, Seq("c_mktsegment"),
        F.col("o_totalprice"), F.col("o_orderkey"), k = 3)
      .select(F.col("c_mktsegment"), F.col("rnk"),
        F.col("id").as("o_orderkey"), out2(F.col("score")).as("price"))
  }

  val qTopkHeapSql: String =
    """SELECT c_mktsegment, rnk, o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
      |FROM (
      |  SELECT c_mktsegment, o_orderkey, o_totalprice,
      |   ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
      |  FROM orders JOIN customer ON o_custkey = c_custkey) x
      |WHERE rnk <= 3""".stripMargin

  /** q_argmax: ClickHouse `argMax`/`argMin` — the order achieving the
    * extreme price per market segment. One aggregation pass: max/min over
    * (price, key) structs gives the extreme AND its witness with a
    * deterministic tie-break (max key for argMax, min key for argMin) —
    * no second join back, partial-aggregatable at any scale. */
  def qArgMax(s: SparkSession, dir: String): DataFrame = {
    // customer grows with SF: unhinted join, AQE decides the strategy.
    val j = Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer"), F.col("o_custkey") === F.col("c_custkey"))
      .select(F.col("c_mktsegment"), F.col("o_orderkey"), dec2(F.col("o_totalprice")).as("p"))
    j.groupBy("c_mktsegment")
      .agg(
        F.max(F.struct(F.col("p"), F.col("o_orderkey").as("k"))).as("mx"),
        F.min(F.struct(F.col("p"), F.col("o_orderkey").as("k"))).as("mn"))
      .select(F.col("c_mktsegment"),
        out2(F.col("mx.p")).as("max_price"), F.col("mx.k").as("argmax_key"),
        out2(F.col("mn.p")).as("min_price"), F.col("mn.k").as("argmin_key"))
  }

  val qArgMaxSql: String =
    """WITH j AS (
      |  SELECT c_mktsegment, o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS p
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |r AS (
      |  SELECT *,
      |   ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY p DESC, o_orderkey DESC) AS rx,
      |   ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY p ASC, o_orderkey ASC) AS rn
      |  FROM j)
      |SELECT c_mktsegment,
      | CAST(MAX(CASE WHEN rx = 1 THEN p END) AS DOUBLE) AS max_price,
      | MAX(CASE WHEN rx = 1 THEN o_orderkey END) AS argmax_key,
      | CAST(MAX(CASE WHEN rn = 1 THEN p END) AS DOUBLE) AS min_price,
      | MAX(CASE WHEN rn = 1 THEN o_orderkey END) AS argmin_key
      |FROM r GROUP BY 1""".stripMargin

  /** q_seqmatch: ClickHouse `sequenceMatch('(?1).*(?2)')` — per user,
    * does a click occur strictly before a purchase? For a 2-step pattern
    * this is exactly min(click ts) < max(purchase ts), so it's ONE
    * grouped pass over events (deeper patterns are q_funnel's staged
    * form). Emits cohort size + matched count. */
  def qSeqMatch(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(F.col("user_id"), F.col("event_type"), F.unix_micros(F.col("ts")).as("tu"))
    ev.groupBy("user_id")
      .agg(
        F.min(F.when(F.col("event_type") === "click", F.col("tu"))).as("tc"),
        F.max(F.when(F.col("event_type") === "purchase", F.col("tu"))).as("tp"))
      .agg(
        F.count(F.lit(1)).as("n_users"),
        F.sum(F.when(F.col("tc").isNotNull && F.col("tp").isNotNull
          && F.col("tc") < F.col("tp"), 1L).otherwise(0L)).as("n_matched"))
  }

  val qSeqMatchSql: String =
    """WITH g AS (
      |  SELECT user_id,
      |   MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS tc,
      |   MAX(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tp
      |  FROM events GROUP BY 1)
      |SELECT COUNT(*) AS n_users,
      | CAST(SUM(CASE WHEN tc IS NOT NULL AND tp IS NOT NULL AND tc < tp
      |          THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
      |FROM g""".stripMargin

  /** q_movsum: window-frame aggregation (moving 3-event sum of value per
    * user, ordered by time) — the ROWS BETWEEN frame shape. Sums run in
    * exact decimal inside the frame so the emitted doubles are
    * partition-order-independent. */
  def qMovSum(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(F.col("tu").asc, F.col("event_id").asc)
      .rowsBetween(-2, org.apache.spark.sql.expressions.Window.currentRow)
    Tables(s, dir, "events")
      .select(F.col("user_id"), F.col("event_id"),
        F.unix_micros(F.col("ts")).as("tu"), F.col("value"))
      .select(F.col("user_id"), F.col("event_id"),
        out2(F.sum(dec2(F.col("value"))).over(w)).as("mov3"))
  }

  val qMovSumSql: String =
    """SELECT user_id, event_id,
      | CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
      |   PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC
      |   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DECIMAL(18,2)) AS DOUBLE) AS mov3
      |FROM events""".stripMargin

  /** q_grouparray: ClickHouse `groupArray` (bounded form) — the first 5
    * event ids per event type in time order, emitted as a CSV string
    * (array stringification differs between pandas and DuckDB df()).
    * Computed with the bounded-heap TopKPairs aggregate on score = -tu
    * (max-heap on negated time ≡ min-k by time): state per group is 5
    * entries, where collect_list would buffer EVERY row of the group —
    * the difference between O(groups×k) and O(rows) aggregation state. */
  def qGroupArray(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(F.col("event_type"),
        (-F.unix_micros(F.col("ts"))).cast("double").as("negtu"),
        F.col("event_id"))
    graft.operators.TopK.perGroup(ev, Seq("event_type"),
        F.col("negtu"), F.col("event_id"), k = 5)
      .groupBy("event_type")
      .agg(F.concat_ws(",", F.transform(
        F.sort_array(F.collect_list(F.struct(F.col("rnk"), F.col("id")))),
        p => p("id").cast("string"))).as("first5"))
  }

  val qGroupArraySql: String =
    """SELECT event_type,
      | array_to_string((list(event_id ORDER BY epoch_us(ts) ASC, event_id ASC))[1:5], ',') AS first5
      |FROM events GROUP BY 1""".stripMargin

  /** q_full_join: FULL OUTER reconciliation — per nation, the count of
    * BUILDING-segment customers against the count of overdrawn suppliers;
    * nations present on only one side survive with the other side NULLed
    * (COALESCEd to 0 — both engines agree on absent-side semantics). The
    * two inputs pre-aggregate to |nations| rows each, so the outer join
    * itself is dimension-sized at any fact-table scale. */
  def qFullJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
      .filter(F.col("c_mktsegment") === "BUILDING")
      .groupBy(F.col("c_nationkey").as("ck")).agg(F.count(F.lit(1)).as("n_cust"))
    val p = Tables(s, dir, "supplier")
      .filter(F.col("s_acctbal") < 0)
      .groupBy(F.col("s_nationkey").as("sk")).agg(F.count(F.lit(1)).as("n_supp"))
    c.join(p, F.col("ck") === F.col("sk"), "full_outer")
      .select(F.coalesce(F.col("ck"), F.col("sk")).as("nationkey"),
        F.coalesce(F.col("n_cust"), F.lit(0L)).as("n_cust"),
        F.coalesce(F.col("n_supp"), F.lit(0L)).as("n_supp"))
  }

  val qFullJoinSql: String =
    """WITH c AS (
      |  SELECT c_nationkey AS ck, COUNT(*) AS n_cust FROM customer
      |  WHERE c_mktsegment = 'BUILDING' GROUP BY 1),
      |p AS (
      |  SELECT s_nationkey AS sk, COUNT(*) AS n_supp FROM supplier
      |  WHERE s_acctbal < 0 GROUP BY 1)
      |SELECT COALESCE(ck, sk) AS nationkey,
      | CAST(COALESCE(n_cust, 0) AS BIGINT) AS n_cust,
      | CAST(COALESCE(n_supp, 0) AS BIGINT) AS n_supp
      |FROM c FULL OUTER JOIN p ON ck = sk""".stripMargin

  /** q_any_join: ClickHouse `LEFT ANY JOIN` — each left row pairs with AT
    * MOST ONE right match, deterministically the lexicographic-minimum
    * (linenumber, partkey, price) line of the order (the full struct is
    * the tiebreak: this corpus has duplicate (orderkey, linenumber)
    * pairs, so linenumber alone would be an ambiguous pick). Spark-first
    * formulation: the right side collapses
    * to one row per key via a min-struct aggregate BEFORE the join, so
    * the join itself is 1:≤1 — no post-join dedup, no row_number over the
    * full fact table on the probe side. */
  def qAnyJoin(s: SparkSession, dir: String): DataFrame = {
    val firstLine = Tables(s, dir, "lineitem")
      .select(F.col("l_orderkey"),
        F.struct(F.col("l_linenumber"), F.col("l_partkey").as("pk"),
          dec2(F.col("l_extendedprice")).as("px")).as("ln"))
      .groupBy("l_orderkey").agg(F.min("ln").as("ln"))
    Tables(s, dir, "orders")
      .filter(F.col("o_orderpriority") === "1-URGENT")
      .select(F.col("o_orderkey"), F.col("o_custkey"))
      .join(firstLine, F.col("o_orderkey") === F.col("l_orderkey"), "left_outer")
      .select(F.col("o_orderkey"), F.col("o_custkey"),
        F.col("ln.pk").as("first_partkey"), out2(F.col("ln.px")).as("first_price"))
  }

  val qAnyJoinSql: String =
    """WITH fl AS (
      |  SELECT l_orderkey, l_partkey, px FROM (
      |    SELECT l_orderkey, l_partkey, CAST(l_extendedprice AS DECIMAL(18,2)) AS px,
      |     ROW_NUMBER() OVER (PARTITION BY l_orderkey
      |       ORDER BY l_linenumber ASC, l_partkey ASC, CAST(l_extendedprice AS DECIMAL(18,2)) ASC) AS rn
      |    FROM lineitem) WHERE rn = 1)
      |SELECT o_orderkey, o_custkey, fl.l_partkey AS first_partkey,
      | CAST(fl.px AS DOUBLE) AS first_price
      |FROM orders LEFT JOIN fl ON o_orderkey = fl.l_orderkey
      |WHERE o_orderpriority = '1-URGENT'""".stripMargin

  /** q_sample_by: the ClickHouse `SAMPLE k OFFSET m` clause — consistent
    * KEY-hash sampling (every row of a sampled user is in or out
    * together, so per-user aggregates stay coherent — the property row
    * sampling lacks). The sampling expression is a content-independent
    * hash band: md5(user_id) landing in [OFFSET, OFFSET+k) of the hex
    * space. Deterministic, composable (disjoint offsets → disjoint
    * samples), and map-only before the aggregate — the scan is the only
    * full-data pass at any scale. Emits per-type stats of the ~1/8 user
    * band with the sample-expansion estimate (count × 8). */
  def qSampleBy(s: SparkSession, dir: String): DataFrame = {
    val band = F.substring(F.md5(F.concat(F.col("user_id").cast("string"),
      F.lit(":smp")).cast("binary")), 1, 2)
    Tables(s, dir, "events")
      .filter(band >= "20" && band < "60") // 4/16 of the hex space = 1/4
      .groupBy("event_type")
      .agg(F.count(F.lit(1)).as("n_sampled"),
        (F.count(F.lit(1)) * 4).as("n_est"),
        F.countDistinct(F.col("user_id")).as("n_users"),
        F.min(F.col("user_id")).as("min_user"))
  }

  val qSampleBySql: String =
    """SELECT event_type, COUNT(*) AS n_sampled, COUNT(*) * 4 AS n_est,
      |  COUNT(DISTINCT user_id) AS n_users, min(user_id) AS min_user
      |FROM events
      |WHERE substring(md5(CAST(user_id AS VARCHAR) || ':smp'), 1, 2) >= '20'
      |  AND substring(md5(CAST(user_id AS VARCHAR) || ':smp'), 1, 2) < '60'
      |GROUP BY 1""".stripMargin

  /** q_paste_join: ClickHouse PASTE JOIN — positional pairing of two
    * result sets by row number. Position only means something under an
    * explicit total order, so the Spark-first form pairs two bounded
    * top-20 rankings (customers by revenue vs customers by order count,
    * both from ONE shared aggregate): each side is TakeOrdered(20) with
    * a deterministic tie-break, rank assignment is a window over the
    * 20 surviving rows (single partition by construction, same argument
    * as d_vocab_coverage), and the paste is an equi-join on rank. */
  def qPasteJoin(s: SparkSession, dir: String): DataFrame = {
    val agg = Tables(s, dir, "orders")
      .select(F.col("o_custkey"),
        (dec2(F.col("o_totalprice")) * 100).cast("long").as("c0"))
      .groupBy("o_custkey")
      .agg(F.sum("c0").as("cents"), F.count(F.lit(1)).as("n_orders"))
    // single-partition window over 20 rows BY CONSTRUCTION (the limit
    // precedes it). pmod(key, 1) — constant 0 per row but NOT foldable —
    // keeps the partition spec through the optimizer (a lit(0) spec is
    // constant-folded to EMPTY, which Spark logs as the all-to-one-task
    // window warning and the hygiene spec rejects)
    val byRev = agg.orderBy(F.col("cents").desc, F.col("o_custkey")).limit(20)
      .select(F.col("o_custkey").as("rev_cust"), F.col("cents"))
      .withColumn("rnk", F.row_number().over(
        Window.partitionBy(F.pmod(F.col("rev_cust"), F.lit(1)))
          .orderBy(F.col("cents").desc, F.col("rev_cust"))).cast("long"))
    val byCnt = agg.orderBy(F.col("n_orders").desc, F.col("o_custkey")).limit(20)
      .select(F.col("o_custkey").as("cnt_cust"), F.col("n_orders"))
      .withColumn("rnk", F.row_number().over(
        Window.partitionBy(F.pmod(F.col("cnt_cust"), F.lit(1)))
          .orderBy(F.col("n_orders").desc, F.col("cnt_cust"))).cast("long"))
    byRev.join(byCnt, "rnk")
      .select("rnk", "rev_cust", "cents", "cnt_cust", "n_orders")
  }

  val qPasteJoinSql: String =
    """WITH agg AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents,
      |    COUNT(*) AS n_orders
      |  FROM orders GROUP BY 1),
      |rev AS (
      |  SELECT o_custkey AS rev_cust, cents,
      |    CAST(ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey) AS BIGINT) AS rnk
      |  FROM agg ORDER BY cents DESC, o_custkey LIMIT 20),
      |cnt AS (
      |  SELECT o_custkey AS cnt_cust, n_orders,
      |    CAST(ROW_NUMBER() OVER (ORDER BY n_orders DESC, o_custkey) AS BIGINT) AS rnk
      |  FROM agg ORDER BY n_orders DESC, o_custkey LIMIT 20)
      |SELECT rnk, rev_cust, cents, cnt_cust, n_orders
      |FROM rev JOIN cnt USING (rnk)""".stripMargin

  /** q_dictget: ClickHouse external-dictionary lookups
    * (`dictGetOrDefault` + a 2-level `dictGetHierarchy` walk) in their
    * Spark-first form — broadcast LEFT joins against genuinely bounded
    * dimension relations with a COALESCE default on the miss path.
    * The probe key (s_nationkey + 20) forces real misses (nation keys
    * stop at 24), so the default branch is exercised, not decorative.
    * nation/region are fixed 25/5-row relations at every SF — these
    * broadcast hints are safe at 100 TB, unlike the SF-scaled ones this
    * repo dropped. Output is the bounded rollup (≤ 25·2 groups). */
  def qDictGet(s: SparkSession, dir: String): DataFrame = {
    val nation = Tables(s, dir, "nation")
      .select(F.col("n_nationkey"), F.col("n_name"), F.col("n_regionkey"))
    val region = Tables(s, dir, "region")
      .select(F.col("r_regionkey"), F.col("r_name"))
    val probe = nation.select(F.col("n_nationkey").as("p_key"),
      F.col("n_name").as("p_name"))
    Tables(s, dir, "supplier")
      .select(F.col("s_suppkey"), F.col("s_nationkey"))
      .join(F.broadcast(nation),
        F.col("s_nationkey") === F.col("n_nationkey"), "left")
      .join(F.broadcast(region),
        F.col("n_regionkey") === F.col("r_regionkey"), "left")
      .join(F.broadcast(probe),
        F.col("s_nationkey") + 20 === F.col("p_key"), "left")
      .groupBy(
        F.coalesce(F.col("n_name"), F.lit("UNKNOWN")).as("nation_name"),
        F.coalesce(F.col("r_name"), F.lit("UNKNOWN")).as("region_name"),
        F.coalesce(F.col("p_name"), F.lit("UNKNOWN")).as("probe_name"))
      .agg(F.count(F.lit(1)).as("n_supp"),
        F.min(F.col("s_suppkey")).as("min_supp"))
  }

  val qDictGetSql: String =
    """SELECT
      |  COALESCE(n.n_name, 'UNKNOWN') AS nation_name,
      |  COALESCE(r.r_name, 'UNKNOWN') AS region_name,
      |  COALESCE(p.n_name, 'UNKNOWN') AS probe_name,
      |  COUNT(*) AS n_supp, min(s.s_suppkey) AS min_supp
      |FROM supplier s
      |LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
      |LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
      |LEFT JOIN nation p ON s.s_nationkey + 20 = p.n_nationkey
      |GROUP BY 1, 2, 3""".stripMargin

  /** q_collapsing: (Versioned)CollapsingMergeTree semantics — the one
    * ClickHouse table-engine behavior not yet covered elsewhere (Summing
    * → q_summap/q_state_merge, Aggregating → -State/-Merge, Replacing →
    * kv_compact, TTL → KVDeltaStore.expire, SAMPLE BY → q_sample_by).
    *
    * Fixture: the signed row stream a collapsing ingest produces — every
    * event is a `+1` state row (version = event_id); every superseded
    * event additionally gets a `-1` cancel row (emitted by its
    * successor). The OPERATOR is the collapse itself, generic over
    * (key, version, sign): net = Σsign per (key, version); versions with
    * net ≤ 0 vanish; FINAL keeps the max surviving version per key.
    * Shape: the cancel stream is one lead() window per key (the same
    * exchange the collapse groupBy needs — AQE reuses the partitioning),
    * then ONE two-level aggregate; no joins, no second pass over the
    * fact table. Value rides through untouched (no arithmetic → no
    * cross-engine float risk). */
  def qCollapsing(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("k").orderBy("ver")
    val st = Tables(s, dir, "events")
      .select(F.col("user_id").as("k"), F.col("event_id").as("ver"),
        F.col("value"))
      .withColumn("nxt", F.lead("ver", 1).over(w))
    val signed = st.select(F.col("k"), F.col("ver"), F.col("value"),
        F.lit(1L).as("sign"))
      .unionAll(st.filter(F.col("nxt").isNotNull)
        .select(F.col("k"), F.col("ver"), F.col("value"),
          F.lit(-1L).as("sign")))
    val collapsed = signed.groupBy("k", "ver")
      .agg(F.sum("sign").as("net"), F.max("value").as("value"),
        F.count(F.lit(1)).as("n_rows"))
    collapsed.groupBy("k")
      .agg(
        F.max(F.when(F.col("net") > 0, F.struct(F.col("ver"), F.col("value"))))
          .as("last"),
        F.sum("n_rows").as("n_raw_rows"),
        F.sum(F.when(F.col("net") <= 0, 1L).otherwise(0L)).as("n_cancelled"))
      .select(F.col("k").as("user_id"),
        F.col("last.ver").as("last_ver"), F.col("last.value").as("last_value"),
        F.col("n_raw_rows"), F.col("n_cancelled"))
  }

  val qCollapsingSql: String =
    """WITH st AS (
      |  SELECT user_id AS k, event_id AS ver, value,
      |    lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS nxt
      |  FROM events),
      |signed AS (
      |  SELECT k, ver, value, 1 AS sign FROM st
      |  UNION ALL
      |  SELECT k, ver, value, -1 FROM st WHERE nxt IS NOT NULL),
      |coll AS (
      |  SELECT k, ver, SUM(sign) AS net, MAX(value) AS value,
      |    COUNT(*) AS n_rows
      |  FROM signed GROUP BY 1, 2)
      |SELECT k AS user_id,
      |  CAST(arg_max(ver, ver) FILTER (WHERE net > 0) AS BIGINT) AS last_ver,
      |  arg_max(value, ver) FILTER (WHERE net > 0) AS last_value,
      |  CAST(SUM(n_rows) AS BIGINT) AS n_raw_rows,
      |  CAST(COUNT(*) FILTER (WHERE net <= 0) AS BIGINT) AS n_cancelled
      |FROM coll GROUP BY 1""".stripMargin

  /** q_attribution: multi-touch marketing attribution — every purchase
    * credits the click/view touches of the SAME user in the 7 days
    * strictly before it: LAST-touch (latest tt, tie → largest event_id),
    * FIRST-touch (earliest, tie → smallest id), and LINEAR credit
    * (floor(10⁶/n) ppm per touch — the floor is the spec, so sums are
    * integer-exact). One per-user temporal join (candidates bounded by
    * per-user activity in the window — the q_asof family's shuffle
    * shape, never a global product) + two window ranks per conversion.
    */
  def qAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val conv = ev.filter(F.col("event_type") === "purchase")
      .select(F.col("user_id"), F.unix_micros(F.col("ts")).as("ct"),
        F.col("event_id").as("cid"))
    val touch = ev.filter(F.col("event_type").isin("click", "view"))
      .select(F.col("user_id"), F.unix_micros(F.col("ts")).as("tt"),
        F.col("event_id").as("tid"), F.col("event_type").as("ttype"))
    val Win = 7L * 86400L * 1000000L
    val cand = conv.join(touch, Seq("user_id"))
      .filter(F.col("tt") < F.col("ct") && F.col("tt") >= F.col("ct") - Win)
    val wLast = Window.partitionBy("cid")
      .orderBy(F.col("tt").desc, F.col("tid").desc)
    val wFirst = Window.partitionBy("cid")
      .orderBy(F.col("tt").asc, F.col("tid").asc)
    val wN = Window.partitionBy("cid")
    cand
      .withColumn("r_last", F.row_number().over(wLast))
      .withColumn("r_first", F.row_number().over(wFirst))
      .withColumn("n", F.count(F.lit(1)).over(wN))
      .groupBy("ttype")
      .agg(
        F.sum(F.when(F.col("r_last") === 1, 1L).otherwise(0L)).as("n_last"),
        F.sum(F.when(F.col("r_first") === 1, 1L).otherwise(0L)).as("n_first"),
        F.sum(F.expr("1000000 div n")).as("linear_ppm"),
        F.count(F.lit(1)).as("n_touches"))
  }

  val qAttributionSql: String =
    """WITH conv AS (
      |  SELECT user_id, epoch_us(ts) AS ct, event_id AS cid
      |  FROM events WHERE event_type = 'purchase'),
      |touch AS (
      |  SELECT user_id, epoch_us(ts) AS tt, event_id AS tid,
      |   event_type AS ttype
      |  FROM events WHERE event_type IN ('click', 'view')),
      |cand AS (
      |  SELECT c.cid, t.ttype, t.tt, t.tid
      |  FROM conv c JOIN touch t ON t.user_id = c.user_id
      |  WHERE t.tt < c.ct AND t.tt >= c.ct - CAST(604800000000 AS BIGINT)),
      |ranked AS (
      |  SELECT ttype,
      |   ROW_NUMBER() OVER (PARTITION BY cid ORDER BY tt DESC, tid DESC) AS r_last,
      |   ROW_NUMBER() OVER (PARTITION BY cid ORDER BY tt ASC, tid ASC) AS r_first,
      |   COUNT(*) OVER (PARTITION BY cid) AS n
      |  FROM cand)
      |SELECT ttype,
      | CAST(SUM(CASE WHEN r_last = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_last,
      | CAST(SUM(CASE WHEN r_first = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
      | CAST(SUM(1000000 // n) AS BIGINT) AS linear_ppm,
      | COUNT(*) AS n_touches
      |FROM ranked GROUP BY 1""".stripMargin

  /** q_session_funnel: the funnel WITHIN sessions — sessionize (30-min
    * inactivity gap, q_sessionize's rule) and score each session's
    * strict-contiguous funnel depth (q_funnel_strict's step-string
    * probe), i.e. "did the user click→view→purchase within one visit",
    * the composition a product-analytics user actually asks for.
    * Session assignment = SessionFold's lag + running-sum windows per
    * user; the funnel = one ordered string per (user, session); per-level
    * session counts — the maintained SessionFunnelStream's own step
    * projection and level rule. Two window passes + one aggregate — no
    * joins at all. */
  def qSessionFunnel(s: SparkSession, dir: String): DataFrame =
    SessionFunnelStream.levelCounts(SessionFold.sessionized(
      SessionFunnelStream.steps(Tables(s, dir, "events"))))

  /** q_session_funnel_inc: the SAME per-level session histogram, but
    * MAINTAINED by SessionFunnelStream.applyBatch (watermark-buffered
    * close rule, durable per-level counts, open-buffer tail folded at
    * read) — events replayed as three TIME-SPLIT batches with one batch
    * replayed and the last 15 minutes of the middle slice DELAYED into
    * the final batch (the q_journey_inc scenario exactly). Gated under
    * q_session_funnel's own batch oracle. */
  def qSessionFunnelInc(s: SparkSession, dir: String): DataFrame =
    ScenarioDirs.run("graft_funnel") { snap =>
      val fDir = snap.resolve("funnel").toString
      val ev = Tables(s, dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
      val us = F.unix_micros(F.col("ts"))
      val Array(lo, hi) = ev.select(us.as("tu"))
        .stat.approxQuantile("tu", Array(0.33, 0.66), 0.0)
      val lateLo = math.max(lo, hi - 900e6)
      graft.streaming.SessionFunnelStream.applyBatch(
        ev.filter(us <= lo), fDir, 0L)
      graft.streaming.SessionFunnelStream.applyBatch(
        ev.filter(us > lo && us <= lateLo), fDir, 1L)
      graft.streaming.SessionFunnelStream.applyBatch(
        ev.filter(us > lo && us <= lateLo), fDir, 1L) // replay
      graft.streaming.SessionFunnelStream.applyBatch(
        ev.filter(us > hi || (us > lateLo && us <= hi)), fDir, 2L)
      graft.streaming.SessionFunnelStream.readLevels(s, fDir)
    }

  val qSessionFunnelSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS tu, event_id,
      |    CASE event_type WHEN 'click' THEN 'c' WHEN 'view' THEN 'v' ELSE 'p' END AS st
      |  FROM events WHERE event_type IN ('click', 'view', 'purchase')),
      |brk AS (
      |  SELECT user_id, tu, event_id, st,
      |   CASE WHEN LAG(tu) OVER w IS NULL
      |         OR tu - LAG(tu) OVER w > 1800000000 THEN 1 ELSE 0 END AS b
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)),
      |sess AS (
      |  SELECT user_id, st, tu, event_id,
      |   SUM(b) OVER (PARTITION BY user_id ORDER BY tu, event_id
      |     ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM brk),
      |seqs AS (
      |  SELECT user_id, sess, string_agg(st, '' ORDER BY tu, event_id) AS seq
      |  FROM sess GROUP BY 1, 2)
      |SELECT level, COUNT(*) AS n_sessions FROM (
      |  SELECT CASE WHEN strpos(seq, 'cvp') > 0 THEN 3
      |              WHEN strpos(seq, 'cv') > 0 THEN 2
      |              WHEN strpos(seq, 'c') > 0 THEN 1
      |              ELSE 0 END AS level
      |  FROM seqs) x GROUP BY 1""".stripMargin

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("q_session_funnel", qSessionFunnel _, Some(qSessionFunnelSql)),
    ("q_session_funnel_inc", qSessionFunnelInc _, Some(qSessionFunnelSql)),
    ("q_attribution", qAttribution _, Some(qAttributionSql)),
    ("q_collapsing", qCollapsing _, Some(qCollapsingSql)),
    ("q_dictget", qDictGet _, Some(qDictGetSql)),
    ("q_paste_join", qPasteJoin _, Some(qPasteJoinSql)),
    ("q_sample_by", qSampleBy _, Some(qSampleBySql)),
    ("q_full_join", qFullJoin _, Some(qFullJoinSql)),
    ("q_any_join", qAnyJoin _, Some(qAnyJoinSql)),
    ("q_grouparray", qGroupArray _, Some(qGroupArraySql)),
    ("q_topk_heap", qTopkHeap _, Some(qTopkHeapSql)),
    ("q_argmax", qArgMax _, Some(qArgMaxSql)),
    ("q_seqmatch", qSeqMatch _, Some(qSeqMatchSql)),
    ("q_movsum", qMovSum _, Some(qMovSumSql)),
    ("q_minsub", qMinSub _, Some(qMinSubSql)),
    ("q_semi_anti", qSemiAnti _, Some(qSemiAntiSql)),
    ("q_json", qJson _, Some(qJsonSql)),
    ("q_cube", qCube _, Some(qCubeSql)),
    ("q_approx_pct", qApproxPct _, Some(qApproxPctSql)),
    ("q_approx_pct_err", qApproxPctErr _, Some(qApproxPctErrSql)),
    ("q_funnel", qFunnel _, Some(qFunnelSql)),
    ("q_funnel_strict", qFunnelStrict _, Some(qFunnelStrictSql)),
    ("q_funnel_dedup", qFunnelDedup _, Some(qFunnelDedupSql)),
    ("q_retention", qRetention _, Some(qRetentionSql)))
}
