package graft.plans

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.{functions => F}

import graft.SparkSpec

/** The custom as-of physical operator must (1) actually plan as
  * AsOfJoinExec with one exchange per side and nothing else, (2) agree
  * row-for-row with the union+window formulation on real data, and
  * (3) implement the tie contract (equal right times → largest tie id). */
class AsOfJoinSpec extends SparkSpec {

  // AQE wraps stages in QueryStageExec leaves whose inner plan is not a
  // child — flatten through them to see the real operators
  private def flatten(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
      case q: QueryStageExec => p +: flatten(q.plan)
      case _ => p +: p.children.flatMap(flatten)
    }
  }

  test("plans as AsOfJoinExec with exactly one exchange per side") {
    import spark.implicits._
    val l = Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "t", "pay")
    val r = Seq((1L, 5L, 100L), (2L, 6L, 200L)).toDF("rk", "rt", "rid")
    val j = AsOfJoin.asof(l, r, "k", "t", "rk", "rt", "rid")
    j.collect() // finalize the adaptive plan
    val nodes = flatten(j.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[AsOfJoinExec]),
      s"AsOfJoinExec missing from plan:\n${j.queryExecution.executedPlan}")
    val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeExec])
    assert(shuffles == 2,
      s"expected 2 exchanges, got $shuffles:\n${j.queryExecution.executedPlan}")
  }

  test("AsOfJoinExec reports its output rows") {
    import spark.implicits._
    val l = Seq((1L, 10L, "a"), (1L, 3L, "b"), (2L, 20L, "c"), (3L, 9L, "d"))
      .toDF("k", "t", "pay")
    val r = Seq((1L, 5L, 100L), (2L, 6L, 200L)).toDF("rk", "rt", "rid")
    for (leftOuter <- Seq(false, true)) {
      val j = AsOfJoin.asof(l, r, "k", "t", "rk", "rt", "rid", leftOuter)
      val n = j.collect().length
      val counted = collectExec(j) { case e: AsOfJoinExec => e.metrics("numOutputRows").value }
      assert(n == (if (leftOuter) 4 else 2) && counted == Seq(n.toLong), counted)
    }
  }

  test("equals the union+window q_asof formulation on sf0.001") {
    val viaWindow = graft.olap.OlapQueries.qAsof(spark, SF)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val viaExec = graft.olap.OlapQueries.qAsofPhys(spark, SF)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(viaExec.nonEmpty)
    assert(viaExec === viaWindow)
  }

  test("tie-break: equal right times resolve to the largest tie id") {
    import spark.implicits._
    val l = Seq((7L, 100L, 1L), (7L, 70L, 2L), (7L, 50L, 4L), (8L, 100L, 3L))
      .toDF("k", "t", "lid")
    val r = Seq(
      (7L, 100L, 11L), (7L, 100L, 12L), // tie at t=100 → 12 wins
      (7L, 60L, 13L),
      (8L, 101L, 14L)) // after the only left row for k=8 → no match
      .toDF("rk", "rt", "rid")
    val got = AsOfJoin.asof(l, r, "k", "t", "rk", "rt", "rid")
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    // lid=4 at t=50 precedes every k=7 order (min rt=60) → unmatched;
    // lid=2 at t=70 takes rt=60; lid=1 at t=100 takes the (100, max id) tie
    assert(got === Set((1L, 12L), (2L, 13L)))
  }

  test("column pruning pushes through the custom node to the parquet scans") {
    // read both sides WIDE from parquet, select only 2 columns after the
    // join: the injected AsOfJoinPruning rule must narrow both scans
    val ev = graft.Tables(spark, SF, "events")
      .select(F.col("event_id"), F.col("user_id"),
        F.unix_micros(F.col("ts")).as("etu"), F.col("event_type"),
        F.col("props"))
    val ord = graft.Tables(spark, SF, "orders")
      .select(F.col("o_custkey").cast("long").as("ocust"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).as("otu"),
        F.col("o_orderkey").cast("long").as("okey"),
        F.col("o_totalprice"), F.col("o_orderpriority"))
    val j = AsOfJoin.asof(ev, ord, "user_id", "etu", "ocust", "otu", "okey")
      .select("event_id", "okey")
    val scans = flatten(j.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.schema.fieldNames.toSet
    }
    assert(scans.nonEmpty)
    val all = scans.flatten.toSet
    assert(!all.contains("props") && !all.contains("event_type"),
      s"event columns not pruned: $scans")
    assert(!all.contains("o_orderpriority") && !all.contains("o_totalprice"),
      s"order columns not pruned: $scans")
    assert(j.count() > 0)
  }

  test("left-outer: unmatched left rows surface with a null right side") {
    import spark.implicits._
    val l = Seq((7L, 100L, 1L), (7L, 10L, 2L), (9L, 50L, 3L))
      .toDF("k", "t", "lid")
    val r = Seq((7L, 60L, 13L)).toDF("rk", "rt", "rid")
    val got = AsOfJoin.asof(l, r, "k", "t", "rk", "rt", "rid", leftOuter = true)
      .select("lid", "rid").collect()
      .map(x => (x.getLong(0), if (x.isNullAt(1)) None else Some(x.getLong(1))))
      .toSet
    assert(got === Set((1L, Some(13L)), (2L, None), (3L, None)))
  }

  test("randomized: merge agrees with the brute-force reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val nk = 5 + rnd.nextInt(5)
      val left = Seq.fill(120)((rnd.nextInt(nk).toLong,
        rnd.nextInt(40).toLong, rnd.nextLong().abs))
      val right = Seq.fill(80)((rnd.nextInt(nk).toLong,
        rnd.nextInt(40).toLong, rnd.nextInt(30).toLong))
      val got = AsOfJoin.asof(
        left.toDF("k", "t", "lid"), right.toDF("rk", "rt", "rid"),
        "k", "t", "rk", "rt", "rid")
        .select("lid", "rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val expect = left.flatMap { case (k, t, lid) =>
        val m = right.filter(r => r._1 == k && r._2 <= t)
        if (m.isEmpty) None else Some((lid, m.max(Ordering.by((r: (Long, Long, Long)) => (r._2, r._3)))._3))
      }.toSet
      assert(got === expect, s"trial $trial mismatch")
    }
  }

  test("stays correct when a side is pre-aggregated (AQE re-planning)") {
    import spark.implicits._
    // right side behind an aggregate: exercises planning under AQE's
    // stage-wise re-optimization with a non-trivial child plan
    val l = Seq((1L, 10L), (1L, 20L), (2L, 10L)).toDF("k", "t")
    val rRaw = Seq((1L, 5L, 1L), (1L, 5L, 2L), (1L, 15L, 3L), (2L, 30L, 4L))
      .toDF("rk", "rt0", "x")
    val r = rRaw.groupBy("rk", "rt0").agg(F.max("x").as("rid"))
      .select(F.col("rk"), F.col("rt0").as("rt"), F.col("rid"))
    val got = AsOfJoin.asof(l, r, "k", "t", "rk", "rt", "rid")
      .select("t", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got === Set((10L, 2L), (20L, 3L)))
  }

  test("tolerance: stale matches drop (inner) or null-pad (left outer)") {
    import spark.implicits._
    val l = Seq((1L, 100L, "a"), (1L, 110L, "b"), (2L, 100L, "c"))
      .toDF("k", "t", "pay")
    // k=1 has a match at rt=95: fresh for t=100 (gap 5), STALE for t=110
    // (gap 15 > tol 10); k=2's only match is at rt=50 (gap 50, stale)
    val r = Seq((1L, 95L, 7L), (2L, 50L, 8L)).toDF("rk", "rt", "rid")
    val inner = AsOfJoin.asofTolerance(l, r, "k", "t", "rk", "rt", "rid",
        tolerance = 10L)
      .select("pay", "rid").collect().map(x => (x.getString(0), x.getLong(1)))
    assert(inner.toSet === Set(("a", 7L)))
    val outer = AsOfJoin.asofTolerance(l, r, "k", "t", "rk", "rt", "rid",
        tolerance = 10L, leftOuter = true)
      .select("pay", "rid").collect()
    assert(outer.length == 3)
    assert(outer.filter(_.getString(0) == "a").head.getLong(1) == 7L)
    assert(outer.filter(r => r.getString(0) == "b" || r.getString(0) == "c")
      .forall(_.isNullAt(1)), "stale matches must null-pad under leftOuter")
  }
}
