package graft.pipeline

import graft.SparkSpec

/** The distributed IRLS trainer must reproduce a driver-side replica on
  * the same feature rows (identical Newton algebra, ridge and step
  * count), and the fitted gate must actually predict the label better
  * than the majority class. */
class QualityModelSpec extends SparkSpec {

  private def refTrain(rows: Array[(Double, Double, Double, Double)],
                       steps: Int, ridge: Double): Array[Double] = {
    var beta = Array.fill(4)(0.0)
    for (_ <- 1 to steps) {
      val h = Array.ofDim[Double](4, 4)
      val g = new Array[Double](4)
      for ((y, x1, x2, x3) <- rows) {
        val xs = Array(1.0, x1, x2, x3)
        val z = xs.zip(beta).map { case (x, b) => x * b }.sum
        val p = 1.0 / (1.0 + math.exp(-z))
        val w = p * (1.0 - p)
        for (i <- 0 until 4) {
          g(i) += (y - p) * xs(i)
          for (j <- 0 until 4) h(i)(j) += w * xs(i) * xs(j)
        }
      }
      for (i <- 0 until 4) { h(i)(i) += ridge; g(i) -= ridge * beta(i) }
      beta = beta.zip(QualityModel.solve4(h, g)).map { case (b, d) => b + d }
    }
    beta
  }

  test("distributed IRLS equals the driver replica; gate beats majority") {
    val feats = QualityModel.features(spark, SF)
    val rows = feats.select("y", "x1", "x2", "x3").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val expect = refTrain(rows, QualityModel.Steps, QualityModel.Ridge)
    val got = QualityModel.train(feats)
    for (i <- 0 until 4)
      assert(math.abs(got(i) - expect(i)) < 1e-6,
        s"beta($i): got=${got(i)} expect=${expect(i)}")
    // the gate must at least match always-predict-majority (strictly
    // beating it depends on feature/label correlation in the corpus)
    val audit = QualityModel.dQualityAudit(spark, SF).collect()
    val n = audit.map(_.getLong(1)).sum
    val correct = audit.map(_.getLong(3)).sum
    val pos = rows.count(_._1 > 0.5).toLong
    val majority = math.max(pos, n - pos)
    assert(correct >= majority, s"correct=$correct majority=$majority n=$n")
  }

  test("training leaves none of its checkpoints persisted") {
    val feats = QualityModel.features(spark, SF)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assert(QualityModel.train(feats).length == 4)
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"RDDs left persisted: $left")
  }
}
