package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.{functions => F}

import graft.Tables

/** Model-based quality filtering — the fasttext-style classifier stage of
  * a training-data pipeline, trained ON the cluster: ridge-regularized
  * logistic regression by Newton-IRLS where each step is ONE aggregate
  * over the corpus (the 4×4 Hessian + 4-vector gradient — 14 double
  * sums — are the only bytes that reach the driver; the 4×4 solve is
  * driver-side arithmetic). The fitted model then scores documents
  * map-only.
  *
  * The label is the marker-based language gate (t_langid's en rule) and
  * the features deliberately overlap it only partially (length, mean
  * word length, stopword ratio, punctuation ratio), so the task is
  * learnable but not separable; the ridge term keeps Newton bounded
  * either way. Rows-only (float sums are order-sensitive at the last
  * ulp) — the spec proves coefficients match a driver-side replica on
  * the same features to 1e-6 and that held-out accuracy beats the
  * majority class.
  */
object QualityModel {
  type Q = (SparkSession, String) => DataFrame

  val Steps = 5
  val Ridge = 1e-3

  /** Feature frame: (y, x1..x3) + doc_id/source. x0 is the implicit
    * intercept. Every feature is a deterministic per-row expression. */
  def features(s: SparkSession, dir: String): DataFrame = {
    val ws = F.split(F.col("text"), " ")
    val en = F.expr(
      "size(filter(split(text, ' '), x -> x IN ('the', 'a', 'fast', 'slow')))")
    Tables(s, dir, "documents")
      .select(F.col("doc_id"), F.col("source"),
        (en > 0).cast("int").cast("double").as("y"),
        (F.size(ws).cast("double") / 100.0).as("x1"),
        (F.length(F.col("text")).cast("double") /
          F.greatest(F.size(ws), F.lit(1)).cast("double") / 10.0).as("x2"),
        (F.length(F.regexp_replace(F.col("text"), "[^.,!?;:]", ""))
          .cast("double") /
          F.greatest(F.length(F.col("text")), F.lit(1)).cast("double")).as("x3"))
  }

  /** One Newton-IRLS step: given beta, aggregate H = Σ w·xxᵀ and
    * g = Σ (y−p)·x in one pass, then solve (H + λI) δ = g − λβ. */
  private def step(feats: DataFrame, beta: Array[Double]): Array[Double] = {
    val xs = Seq(F.lit(1.0), F.col("x1"), F.col("x2"), F.col("x3"))
    val z = xs.zip(beta).map { case (x, b) => x * b }.reduce(_ + _)
    val p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    val w = p * (F.lit(1.0) - p)
    val r = F.col("y") - p
    val sums: Seq[Column] =
      (for { i <- 0 until 4; j <- i until 4 } yield
        F.sum(w * xs(i) * xs(j)).as(s"h_${i}_$j")) ++
        (0 until 4).map(i => F.sum(r * xs(i)).as(s"g_$i"))
    val row = feats.agg(sums.head, sums.tail: _*).collect()(0)
    val h = Array.ofDim[Double](4, 4)
    var k = 0
    for { i <- 0 until 4; j <- i until 4 } {
      h(i)(j) = row.getDouble(k); h(j)(i) = row.getDouble(k); k += 1
    }
    val g = (0 until 4).map(i => row.getDouble(k + i) - Ridge * beta(i)).toArray
    for (i <- 0 until 4) h(i)(i) += Ridge
    beta.zip(solve4(h, g)).map { case (b, d) => b + d }
  }

  /** Gaussian elimination with partial pivoting for the 4×4 system. */
  private[pipeline] def solve4(h0: Array[Array[Double]], g0: Array[Double]): Array[Double] = {
    val n = g0.length
    val a = h0.map(_.clone()); val b = g0.clone()
    for (c <- 0 until n) {
      val piv = (c until n).maxBy(r => math.abs(a(r)(c)))
      val (ta, tb) = (a(c), b(c)); a(c) = a(piv); b(c) = b(piv)
      a(piv) = ta; b(piv) = tb
      for (r <- c + 1 until n) {
        val f = a(r)(c) / a(c)(c)
        for (cc <- c until n) a(r)(cc) -= f * a(c)(cc)
        b(r) -= f * b(c)
      }
    }
    val x = new Array[Double](n)
    for (r <- n - 1 to 0 by -1) {
      var s = b(r)
      for (cc <- r + 1 until n) s -= a(r)(cc) * x(cc)
      x(r) = s / a(r)(r)
    }
    x
  }

  /** Train on the full corpus; returns the coefficient vector. */
  def train(feats: DataFrame): Array[Double] = {
    val cached = feats.localCheckpoint()
    try (1 to Steps).foldLeft(Array.fill(4)(0.0))((b, _) => step(cached, b))
    finally GraftSqlBridge.releaseCheckpoints(cached)
  }

  /** Per-source scoring audit of the trained classifier: docs,
    * predicted-keep count, correct predictions (the frame RecallProbe
    * and the specs read; the driver entry wraps it oracle-backed). */
  def dQualityAudit(s: SparkSession, dir: String): DataFrame = {
    val feats = features(s, dir)
    val beta = train(feats)
    val z = F.lit(beta(0)) + F.col("x1") * beta(1) +
      F.col("x2") * beta(2) + F.col("x3") * beta(3)
    feats
      .select(F.col("source"), F.col("y"), (z > 0).cast("int").as("keep"))
      .groupBy("source")
      .agg(F.count(F.lit(1)).as("n_docs"),
        F.sum(F.col("keep")).cast("long").as("n_keep"),
        F.sum((F.col("keep") === F.col("y").cast("int")).cast("int"))
          .cast("long").as("n_correct"),
        F.sum(F.col("y")).cast("long").as("n_pos"))
  }

  /** d_quality_model: the trained classifier's per-source audit,
    * ORACLE-BACKED since r10 (r9 verdict #2): the per-source doc count
    * AND the label-rule positive count ride the oracle hash (the marker
    * rule is SQL — DuckDB recomputes y itself, pinning the training
    * labels end-to-end), and ok = 1 iff training accuracy clears the
    * same floor d_quality_model_gate holds (coefficients stay float and
    * spec-checked; last-ulp IRLS jitter can flip only z ≈ 0 docs,
    * harmless against the floored margin). */
  def dQualityModel(s: SparkSession, dir: String): DataFrame =
    dQualityAudit(s, dir)
      .select(F.col("source"), F.col("n_docs"), F.col("n_pos"),
        F.when(F.lit(100L) * F.col("n_correct") >=
          F.lit(QualityAccFloorPct) * F.col("n_docs"), 1L)
          .otherwise(0L).as("ok"))

  val dQualityModelSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      | CAST(SUM(CASE WHEN len(list_filter(string_split(text, ' '),
      |   x -> x IN ('the', 'a', 'fast', 'slow'))) > 0
      |  THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      | CAST(1 AS BIGINT) AS ok
      |FROM documents GROUP BY 1""".stripMargin

  /** Accuracy floor for [[dQualityGate]], percent: measured per-source
    * training accuracy across sf0.001/0.01/0.1 sits at 92-100% everywhere
    * (graft.RecallProbe prints the live minima); last-ulp IRLS jitter
    * can flip only docs with z ≈ 0, which moves accuracy by ±1 doc —
    * harmless against the floored margin. */
  val QualityAccFloorPct = 80L

  /** d_quality_model_gate: the trained quality classifier under the
    * HASH GATE — per source, ok = 1 iff training accuracy clears the
    * floor (the classifier must beat the floor everywhere it will be
    * applied; coefficients themselves are float and stay rows-only).
    * Per-source doc counts ride the oracle hash. */
  def dQualityGate(s: SparkSession, dir: String): DataFrame =
    dQualityAudit(s, dir)
      .select(F.col("source"), F.col("n_docs"),
        F.when(F.lit(100L) * F.col("n_correct") >=
          F.lit(QualityAccFloorPct) * F.col("n_docs"), 1L)
          .otherwise(0L).as("ok"))

  val dQualityGateSql: String =
    """SELECT source, COUNT(*) AS n_docs, CAST(1 AS BIGINT) AS ok
      |FROM documents GROUP BY 1""".stripMargin

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("d_quality_model", dQualityModel _, Some(dQualityModelSql)),
    ("d_quality_model_gate", dQualityGate _, Some(dQualityGateSql)))
}
