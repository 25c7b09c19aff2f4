package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{FloatMatSignBuckets, FloatMatTopCentroids, FloatVecCosine, FloatVecDot, RollingMinHash, WordShingleMinHash, WordSimHash}

/** Spark session extension registering graft's custom Catalyst
  * expressions as SQL functions, so `spark.sql("... float_vec_dot(a, b)")`
  * works cluster-wide:
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions        // via config, or
  *   SparkSession.builder().withExtensions(new GraftExtensions) // in code
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // whole-operator extension (tier c): AsOfJoinNode → AsOfJoinExec,
    // plus column pruning through the custom node (Catalyst's own
    // ColumnPruning stops at nodes it doesn't know)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.AutoIntervalJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.AsOfJoinPruning)
    // ASOF [LEFT] JOIN SQL syntax: token rewrite in the injected parser,
    // marker-tagged Join → AsOfJoinNode at resolution time (must happen
    // before the optimizer constant-folds the marker conjunct away)
    ext.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
    ext.injectResolutionRule(_ => graft.plans.ResolveAsofJoin)
    // Session defaults ride the check-rule builder: it runs once per
    // session, when the session state (analyzer) is first built — i.e.
    // before the first query's optimization/planning reads any of these
    // confs. This way EVERY session carrying graft's extensions gets
    // them, not just graft's own mains (the returned rule itself is a
    // no-op).
    ext.injectCheckRule { session =>
      GraftExtensions.applySessionDefaults(session)
      _ => ()
    }
  }
}

object GraftExtensions {
  /** The session confs graft depends on, declared once. A key the user
    * set — in the SparkConf, or in the session before the first query —
    * is left alone. Nothing in graft sets a session conf around a query.
    *
    * `objectHashAggregate.sortBased.fallbackThreshold`: all of graft's
    * TypedImperativeAggregates (TopKPairs, Misra-Gries, Roaring
    * bitmaps, uniqUpTo) carry BOUNDED per-group state, so hash
    * aggregation is safe at any group count — Spark's default threshold
    * (128 groups) silently falls back to SORT-based aggregation and
    * sorts the whole fact stream (measured: s_knn_graph 44.8 s → 19.7 s
    * at 3×·sf0.1 when raised). The conf is global to the session, and a
    * user query running an UNBOUNDED TypedImperativeAggregate
    * (collect_list / percentile over millions of groups) holds that many
    * groups in the hash map before falling back to sort, so the default
    * is only 65536 (64 Ki bounded-state groups ≈ a few MB). graft's own
    * mains (Bench/Verify), whose aggregates are all bounded-state, set
    * 1000000 in their builders; other deployments opt in the same way.
    *
    * `catalog.graftkv`: [[graft.sources.kvconnector.KVCatalog]], so
    * `spark.table("graftkv.`<store path>`")` resolves in every session.
    *
    * `v2.bucketing.shuffle.enabled`: lets ONE side of a join shuffle to
    * the other side's key-grouped partitioning (storage-partitioned
    * join), so it never adds an exchange. Only catalog reads of
    * `bucket`-layout graft-kv stores report that partitioning; path reads
    * through `format("graft-kv")` have no function catalog. */
  val sessionDefaults: Seq[(String, String)] = Seq(
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
    "spark.sql.catalog.graftkv" ->
      classOf[graft.sources.kvconnector.KVCatalog].getName,
    "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true")

  def applySessionDefaults(session: SparkSession): Unit = {
    // the SparkConf is merged into the session conf before this runs
    val conf = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf
    sessionDefaults.foreach { case (k, v) =>
      if (!conf.contains(k)) session.conf.set(k, v)
    }
  }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    // ASOF JOIN plumbing: the marker the SQL rewriter injects and the
    // tie-column tag — both stripped by ResolveAsofJoin, never evaluated
    (new FunctionIdentifier("graft_asof_marker"),
      new ExpressionInfo(classOf[graft.plans.GraftAsofMarker].getName, "graft_asof_marker"),
      (_: Seq[Expression]) => graft.plans.GraftAsofMarker()),
    (new FunctionIdentifier("graft_asof_tie"),
      new ExpressionInfo(classOf[graft.plans.GraftAsofTie].getName, "graft_asof_tie"),
      (args: Seq[Expression]) => graft.plans.GraftAsofTie(args(0))),
    (new FunctionIdentifier("graft_asof_using"),
      new ExpressionInfo(classOf[graft.plans.GraftAsofUsing].getName, "graft_asof_using"),
      (args: Seq[Expression]) => graft.plans.GraftAsofUsing(args)),
    (new FunctionIdentifier("graft_asof_tolerance"),
      new ExpressionInfo(classOf[graft.plans.GraftAsofTolerance].getName, "graft_asof_tolerance"),
      (args: Seq[Expression]) => graft.plans.GraftAsofTolerance(args(0))),
    (new FunctionIdentifier("float_vec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "float_vec_dot"),
      (args: Seq[Expression]) => FloatVecDot(args(0), args(1))),
    (new FunctionIdentifier("float_vec_cosine"),
      new ExpressionInfo(classOf[FloatVecCosine].getName, "float_vec_cosine"),
      (args: Seq[Expression]) => FloatVecCosine(args(0), args(1))),
    (new FunctionIdentifier("float_mat_top_centroids"),
      new ExpressionInfo(classOf[FloatMatTopCentroids].getName, "float_mat_top_centroids"),
      (args: Seq[Expression]) => FloatMatTopCentroids(args(0), args(1), args(2))),
    (new FunctionIdentifier("rolling_min_hash"),
      new ExpressionInfo(classOf[RollingMinHash].getName, "rolling_min_hash"),
      (args: Seq[Expression]) => RollingMinHash(args(0), args(1), args(2))),
    (new FunctionIdentifier("word_shingle_min_hash"),
      new ExpressionInfo(classOf[WordShingleMinHash].getName, "word_shingle_min_hash"),
      (args: Seq[Expression]) => WordShingleMinHash(args(0), args(1), args(2))),
    (new FunctionIdentifier("word_sim_hash"),
      new ExpressionInfo(classOf[WordSimHash].getName, "word_sim_hash"),
      (args: Seq[Expression]) => WordSimHash(args(0))),
    (new FunctionIdentifier("float_mat_sign_buckets"),
      new ExpressionInfo(classOf[FloatMatSignBuckets].getName, "float_mat_sign_buckets"),
      (args: Seq[Expression]) => FloatMatSignBuckets(args(0), args(1), args(2))),
    // aggregates register as bare AggregateFunctions — the analyzer wraps
    // them in AggregateExpression during resolution, so
    // `spark.sql("SELECT bitmap_cardinality(bitmap_build(id)) ...")` works
    (new FunctionIdentifier("bitmap_build"),
      new ExpressionInfo(classOf[graft.operators.BitmapBuildAgg].getName, "bitmap_build"),
      (args: Seq[Expression]) => graft.operators.BitmapBuildAgg(args(0))),
    (new FunctionIdentifier("bitmap_or"),
      new ExpressionInfo(classOf[graft.operators.BitmapOrAgg].getName, "bitmap_or"),
      (args: Seq[Expression]) => graft.operators.BitmapOrAgg(args(0))),
    (new FunctionIdentifier("bitmap_cardinality"),
      new ExpressionInfo(classOf[graft.operators.BitmapCardinality].getName, "bitmap_cardinality"),
      (args: Seq[Expression]) => graft.operators.BitmapCardinality(args(0))),
    (new FunctionIdentifier("bitmap_and_cardinality"),
      new ExpressionInfo(classOf[graft.operators.BitmapAndCardinality].getName, "bitmap_and_cardinality"),
      (args: Seq[Expression]) => graft.operators.BitmapAndCardinality(args(0), args(1))),
    (new FunctionIdentifier("bitmap_andnot_cardinality"),
      new ExpressionInfo(classOf[graft.operators.BitmapAndNotCardinality].getName, "bitmap_andnot_cardinality"),
      (args: Seq[Expression]) => graft.operators.BitmapAndNotCardinality(args(0), args(1))),
    (new FunctionIdentifier("bitmap_andnot"),
      new ExpressionInfo(classOf[graft.operators.BitmapAndNot].getName, "bitmap_andnot"),
      (args: Seq[Expression]) => graft.operators.BitmapAndNot(args(0), args(1))),
    (new FunctionIdentifier("bitmap_xor_cardinality"),
      new ExpressionInfo(classOf[graft.operators.BitmapXorCardinality].getName, "bitmap_xor_cardinality"),
      (args: Seq[Expression]) => graft.operators.BitmapXorCardinality(args(0), args(1))),
    (new FunctionIdentifier("topk_pairs"),
      new ExpressionInfo(classOf[graft.operators.TopKPairs].getName, "topk_pairs"),
      (args: Seq[Expression]) => graft.operators.TopKPairs(
        args(0), args(1), intLiteral(args(2), "topk_pairs(score, id, k)"))),
    (new FunctionIdentifier("uniq_up_to"),
      new ExpressionInfo(classOf[graft.operators.UniqUpToAgg].getName, "uniq_up_to"),
      (args: Seq[Expression]) => graft.operators.UniqUpToAgg(args(0), intLiteral(args(1), "uniq_up_to(ids, n)")),
    ),
    (new FunctionIdentifier("freq_items_sketch"),
      new ExpressionInfo(classOf[graft.operators.FreqItemsSketch].getName, "freq_items_sketch"),
      (args: Seq[Expression]) => graft.operators.FreqItemsSketch(
        args(0), intLiteral(args(1), "freq_items_sketch(term, capacity)"))),
    (new FunctionIdentifier("freq_items_weighted"),
      new ExpressionInfo(classOf[graft.operators.FreqItemsWeightedSketch].getName, "freq_items_weighted"),
      (args: Seq[Expression]) => graft.operators.FreqItemsWeightedSketch(
        args(0), args(1), intLiteral(args(2), "freq_items_weighted(term, weight, capacity)"))))

  private def intLiteral(e: Expression, usage: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case _ => throw new IllegalArgumentException(
      s"$usage requires a literal INT, got $e")
  }

  /** Register on an already-built session (e.g. a REPL). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      org.apache.spark.sql.graftbridge.GraftSqlBridge
        .registerFunction(spark, id, info, builder)
    }
}
