package graft

/** The scale-regime contract of GraftExtensions: a BARE
  * `SparkSession.builder().withExtensions(new GraftExtensions)` session —
  * which is exactly what SparkSpec.session builds, with none of the
  * Bench/Verify explicit configs — must come up in the safe aggregation
  * regime for graft's bounded-state TypedImperativeAggregates. Guards the
  * 128-group ObjectHashAggregate sort-fallback cliff (s_knn_graph
  * 44.8 s → 19.7 s at 3×·sf0.1) for LIBRARY USERS, not just graft's own
  * mains.
  */
class GraftExtensionsSpec extends SparkSpec {

  test("a bare withExtensions session gets the bounded-state hash-agg threshold") {
    // trigger session-state build (the check-rule hook) with any query.
    // 65536, not the mains' 1000000: the conf is session-global, and an
    // unbounded user aggregate (collect_list over many groups) would
    // hold that many groups in memory — the full value is opt-in
    // (spark.graft.scaleDefaults=full, or set it like Bench/Verify do).
    spark.sql("SELECT 1").collect()
    assert(spark.conf.get(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "65536")
  }

  test("a user value set before the first query is respected") {
    val s2 = spark.newSession() // fresh session state, same extensions
    s2.conf.set(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
    s2.sql("SELECT 1").collect() // session-state build runs the hook
    assert(s2.conf.get(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "4096")
  }

  test("a user value set after session start is never clobbered") {
    val s2 = spark.newSession()
    s2.sql("SELECT 1").collect()
    s2.conf.set(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "512")
    s2.sql("SELECT 1").collect()
    assert(s2.conf.get(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "512")
  }

  test("no graft SQL function shadows a Spark built-in") {
    // injectFunction silently replaces a built-in of the same name
    val builtin = org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
      .listFunction().map(_.funcName).toSet
    val ours = GraftExtensions.functions.map(_._1.funcName).toSet
    assert(ours.nonEmpty && builtin.contains("theta_sketch_agg"))
    assert((ours intersect builtin).isEmpty)
  }
}
