package graft.operators

import org.apache.spark.sql.{functions => F}

import graft.SparkSpec

class ThetaSketchSpec extends SparkSpec {

  private val K = 256

  private def df(parts: Int, groups: Seq[(Long, Int)]) = {
    import spark.implicits._
    // group g has `n` distinct ids, each repeated twice
    groups.flatMap { case (g, n) =>
      (0 until n).flatMap(i => Seq.fill(2)((g, g * 1000000L + i)))
    }.toDF("g", "uid").repartition(parts)
  }

  test("exact below capacity, bounded relative error above it") {
    val got = df(8, Seq((1L, 40), (2L, 255), (3L, 5000), (4L, 50000)))
      .groupBy("g")
      .agg(ThetaSketch.estimateCol(ThetaSketch.agg(F.col("uid"), K), K).as("est"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 40L) // below k: the sketch IS the set
    assert(got(2L) == 255L)
    // KMV rel error ~ 1/sqrt(k-2) ≈ 0.063 at k=256; 3 sigma ≈ 0.19
    for ((g, n) <- Seq((3L, 5000L), (4L, 50000L))) {
      val rel = math.abs(got(g).toDouble - n) / n
      assert(rel < 0.19, s"group $g: est ${got(g)} vs $n (rel $rel)")
    }
  }

  test("estimate is partition-invariant (k-smallest state is a set)") {
    val groups = Seq((1L, 40), (2L, 9000))
    val a = df(1, groups).groupBy("g")
      .agg(ThetaSketch.estimateCol(ThetaSketch.agg(F.col("uid"), K), K).as("est"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = df(13, groups).groupBy("g")
      .agg(ThetaSketch.estimateCol(ThetaSketch.agg(F.col("uid"), K), K).as("est"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("union and intersection estimates track the exact set algebra") {
    import spark.implicits._
    // A = [0, 6000), B = [4000, 10000): |A|=|B|=6000, |A∪B|=10000, |A∩B|=2000
    val a = (0 until 6000).map(i => ("a", i.toLong)).toDF("s", "uid")
    val b = (4000 until 10000).map(i => ("b", i.toLong)).toDF("s", "uid")
    val sk = a.unionByName(b).repartition(7).groupBy("s")
      .agg(ThetaSketch.agg(F.col("uid"), K).as("sk"))
    val row = sk.filter(F.col("s") === "a").select(F.col("sk").as("ska"))
      .crossJoin(sk.filter(F.col("s") === "b").select(F.col("sk").as("skb")))
      .select(
        ThetaSketch.unionEstimateCol(F.col("ska"), F.col("skb"), K).as("u"),
        ThetaSketch.intersectEstimateCol(F.col("ska"), F.col("skb"), K).as("i"))
      .head()
    val (u, i) = (row.getLong(0), row.getLong(1))
    assert(math.abs(u - 10000.0) / 10000.0 < 0.19, s"union est $u")
    // intersection error is relative to the UNION size at this overlap ratio
    assert(math.abs(i - 2000.0) / 10000.0 < 0.19, s"intersect est $i")
  }

  test("intersection is exact when both sketches are below capacity") {
    import spark.implicits._
    val a = (0 until 100).map(i => ("a", i.toLong)).toDF("s", "uid")
    val b = (70 until 180).map(i => ("b", i.toLong)).toDF("s", "uid")
    val sk = a.unionByName(b).groupBy("s")
      .agg(ThetaSketch.agg(F.col("uid"), K).as("sk"))
    val i = sk.filter(F.col("s") === "a").select(F.col("sk").as("ska"))
      .crossJoin(sk.filter(F.col("s") === "b").select(F.col("sk").as("skb")))
      .select(ThetaSketch.intersectEstimateCol(F.col("ska"), F.col("skb"), K).as("i"))
      .head().getLong(0)
    assert(i == 30L)
  }

  test("the SQL registration path matches the Column API") {
    df(5, Seq((1L, 40), (2L, 9000))).createOrReplaceTempView("theta_in")
    // lgNomEntries 8 = log2(K)
    val viaSql = spark.sql(
      "SELECT g, theta_sketch_estimate(theta_sketch_agg(uid, 8)) AS est " +
        "FROM theta_in GROUP BY g")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaApi = df(5, Seq((1L, 40), (2L, 9000))).groupBy("g")
      .agg(ThetaSketch.estimateCol(ThetaSketch.agg(F.col("uid"), K), K).as("est"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaSql == viaApi)
  }

  test("q_theta_sketch pins exact twins and its in-plan gates hold") {
    val dir = "/root/testdata/sf0.001"
    val est = graft.olap.OlapStatQueries.qThetaSketch(spark, dir)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val exact = graft.Tables(spark, dir, "events")
      .groupBy("event_type").agg(F.count_distinct(F.col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.nonEmpty)
    for ((et, (n, only, okEst, okDiff)) <- est) {
      assert(n == exact(et), s"$et users")
      assert(only >= 0 && only <= n, s"$et difference bounds")
      // sf0.001 has 15 users — far below k, so everything is exact and
      // both gates must hold trivially
      assert(okEst == 1L && okDiff == 1L, s"$et gates")
    }
  }
}
