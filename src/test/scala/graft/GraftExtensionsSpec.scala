package graft

/** The session-defaults contract of GraftExtensions: a BARE
  * `SparkSession.builder().withExtensions(new GraftExtensions)` session —
  * which is exactly what SparkSpec.session builds, with none of the
  * Bench/Verify explicit configs — must come up in the safe aggregation
  * regime for graft's bounded-state TypedImperativeAggregates (the
  * 128-group ObjectHashAggregate sort-fallback cliff: s_knn_graph
  * 44.8 s → 19.7 s at 3×·sf0.1), with the graftkv catalog and one-side
  * SPJ shuffles on, for LIBRARY USERS, not just graft's own mains; and
  * a value the user set wins.
  */
class GraftExtensionsSpec extends SparkSpec {

  test("a bare withExtensions session gets the bounded-state hash-agg threshold") {
    // trigger session-state build (the check-rule hook) with any query.
    // 65536, not the mains' 1000000: the conf is session-global, and an
    // unbounded user aggregate (collect_list over many groups) would
    // hold that many groups in memory — a deployment that wants the
    // full value sets it in its builder, like Bench/Verify do.
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

  private val catalogKey = "spark.sql.catalog.graftkv"
  private val spjShuffleKey = "spark.sql.sources.v2.bucketing.shuffle.enabled"

  test("a bare withExtensions session gets the graftkv catalog and one-side SPJ shuffles") {
    spark.sql("SELECT 1").collect()
    assert(spark.conf.get(catalogKey) ==
      classOf[graft.sources.kvconnector.KVCatalog].getName)
    assert(spark.conf.get(spjShuffleKey) == "true")
  }

  test("a fresh session's first action can read a graftkv table") {
    import org.apache.spark.sql.{functions => F}
    val dir = java.nio.file.Files.createTempDirectory("graft_extkv").toString
    graft.sources.kvconnector.KVSegmentStore.write(
      spark.range(0, 40).select(
        graft.kv.KVStore.encLong(F.col("id") % 4).as("k"),
        graft.kv.KVStore.encLong(F.col("id")).as("c"),
        F.col("id").cast("string").cast("binary").as("v")),
      dir, 4, "bucket")
    val s2 = spark.newSession()
    assert(s2.table(s"graftkv.`$dir`").count() == 40)
  }

  test("a SparkConf value for each key wins") {
    // a new session merges the SparkContext's conf into its own before
    // the hook runs; SparkEnv's conf is that same SparkConf object
    val sparkConf = org.apache.spark.SparkEnv.get.conf
    val mine = Seq(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "2048",
      catalogKey -> "graft.NoSuchCatalog",
      spjShuffleKey -> "false")
    assert(mine.map(_._1).toSet == GraftExtensions.sessionDefaults.map(_._1).toSet)
    mine.foreach { case (k, _) => assert(!sparkConf.contains(k), k) }
    val s2 = try {
      mine.foreach { case (k, v) => sparkConf.set(k, v) }
      val s = spark.newSession()
      s.sql("SELECT 1").collect()
      s
    } finally mine.foreach { case (k, _) => sparkConf.remove(k) }
    mine.foreach { case (k, v) => assert(s2.conf.get(k) == v, k) }
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
