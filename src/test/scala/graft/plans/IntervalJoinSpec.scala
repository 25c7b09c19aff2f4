package graft.plans

import org.apache.spark.sql.{functions => F}

import graft.SparkSpec

/** The custom interval-join operator: plan shape (IntervalJoinExec +
  * broadcast, NO shuffle of the point side), the half-open contract on
  * overlapping interval sets, a randomized brute-force reference, and
  * when a plain band join plans to it. */
class IntervalJoinSpec extends SparkSpec {

  private def flatten(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
      case q: QueryStageExec => p +: flatten(q.plan)
      case _ => p +: p.children.flatMap(flatten)
    }
  }

  test("plans as IntervalJoinExec with a broadcast and zero shuffles") {
    import spark.implicits._
    val pts = Seq((5L, "a"), (15L, "b")).toDF("vc", "pay")
    val ivs = Seq((0L, 10L, 100L), (10L, 20L, 200L)).toDF("lo", "hi", "iid")
    val j = IntervalJoin.join(pts, ivs, "vc", "lo", "hi")
    j.collect()
    val nodes = flatten(j.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[IntervalJoinExec]),
      j.queryExecution.executedPlan.toString)
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeExec]),
      j.queryExecution.executedPlan.toString)
    assert(!nodes.exists(_.isInstanceOf[ShuffleExchangeExec]),
      "the point side must not shuffle")
  }

  test("overlapping intervals, half-open bounds, and unmatched points") {
    import spark.implicits._
    val pts = Seq((0L, 1L), (5L, 2L), (10L, 3L), (19L, 4L), (20L, 5L), (25L, 6L))
      .toDF("vc", "pid")
    val ivs = Seq(
      (0L, 10L, 100L),   // [0,10)
      (5L, 20L, 200L),   // [5,20) — overlaps the first
      (5L, 8L, 300L),    // [5,8)  — nested
      (30L, 40L, 400L))  // matches nothing
      .toDF("lo", "hi", "iid")
    val got = IntervalJoin.join(pts, ivs, "vc", "lo", "hi")
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Set(
      (1L, 100L),                       // v=0: only [0,10)
      (2L, 100L), (2L, 200L), (2L, 300L), // v=5: all three
      (3L, 200L),                       // v=10: [0,10) excludes hi
      (4L, 200L))                       // v=19; v=20 excluded (half-open), v=25 unmatched
    assert(got == expected, got)
  }

  test("matches the conditional-join formulation on random data") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val ptRows = (1 to 500).map(i => (rng.nextInt(1000).toLong, i.toLong))
    val ivRows = (1 to 200).map { i =>
      val lo = rng.nextInt(950).toLong
      (lo, lo + 1 + rng.nextInt(80), i.toLong)
    }
    val viaExec = IntervalJoin.join(ptRows.toDF("vc", "pid"),
        ivRows.toDF("lo", "hi", "iid"), "vc", "lo", "hi")
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the reference is a brute force on the driver: a plain band join
    // would plan through the same strategy
    val bruteForce = (for {
      (vc, pid) <- ptRows
      (lo, hi, iid) <- ivRows
      if vc >= lo && vc < hi
    } yield (pid, iid)).toSet
    assert(viaExec == bruteForce)
    assert(viaExec.nonEmpty)
  }

  test("auto mode: a PLAIN band join plans to IntervalJoinExec when enabled") {
    import spark.implicits._
    val pts = Seq((5L, 1L), (15L, 2L), (25L, 3L)).toDF("vc", "pid")
    val ivs = Seq((0L, 10L, 100L), (10L, 20L, 200L)).toDF("lo", "hi", "iid")
    def run() = pts.join(ivs, F.col("vc") >= F.col("lo") && F.col("vc") < F.col("hi"))
      .select("pid", "iid")
    def planned(df: org.apache.spark.sql.DataFrame) =
      flatten(df.queryExecution.executedPlan).exists(_.isInstanceOf[IntervalJoinExec])
    val expected = Set((1L, 100L), (2L, 200L))
    val on = run()
    assert(on.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == expected)
    assert(planned(on), on.queryExecution.executedPlan.toString)
    // swapped sides: points on the RIGHT still work, column order kept
    val swapped = ivs.join(pts, F.col("vc") >= F.col("lo") && F.col("vc") < F.col("hi"))
    swapped.collect()
    assert(planned(swapped))
    assert(swapped.columns.toSeq == Seq("lo", "hi", "iid", "vc", "pid"))
    assert(swapped.collect().map(r => (r.getLong(2), r.getLong(4))).toSet ==
      Set((100L, 1L), (200L, 2L)))
    // a NON-band condition is left to Spark's own planning
    val other = pts.join(ivs, F.col("vc") >= F.col("lo"))
    other.collect()
    assert(!planned(other))
    // an interval side over the broadcast threshold, with no hint, is
    // left to Spark's own planning too
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(threshold)
    spark.conf.set(threshold, "1")
    try {
      val off = run()
      assert(off.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == expected)
      assert(!planned(off), off.queryExecution.executedPlan.toString)
    } finally spark.conf.set(threshold, prev)
  }

  test("IntervalJoinExec reports its output rows") {
    import spark.implicits._
    val pts = Seq((0L, 1L), (5L, 2L), (19L, 3L), (40L, 4L)).toDF("vc", "pid")
    val ivs = Seq((0L, 10L, 100L), (5L, 20L, 200L)).toDF("lo", "hi", "iid")
    val j = IntervalJoin.join(pts, ivs, "vc", "lo", "hi")
    val n = j.collect().length
    val counted = collectExec(j) { case e: IntervalJoinExec => e.metrics("numOutputRows").value }
    assert(n == 4 && counted == Seq(n.toLong), counted)
  }

  test("q_range_phys equals q_range_join on sf0.001") {
    val a = graft.olap.OlapQueries.qRangeJoin(spark, SF)
      .collect().map(_.toSeq).toSet
    val b = graft.olap.OlapQueries.qRangePhys(spark, SF)
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("column pruning narrows both sides through the custom node") {
    // IntervalJoin.join builds a plain Join: Catalyst's own ColumnPruning applies
    import spark.implicits._
    val pts = Seq((5L, "a", "wide1"), (15L, "b", "wide2"))
      .toDF("vc", "pay", "unused_p")
    val ivs = Seq((0L, 10L, 100L, "wide3"), (10L, 20L, 200L, "wide4"))
      .toDF("lo", "hi", "iid", "unused_i")
    val j = IntervalJoin.join(pts, ivs, "vc", "lo", "hi").select("pay", "iid")
    assert(j.collect().length == 2)
    val optimized = j.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("unused_p") || !optimized.contains("unused_i"),
      optimized)
  }
}
