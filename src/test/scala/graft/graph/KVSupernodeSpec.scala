package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}

import graft.SparkSpec
import graft.kv.KVStore.encLong
import graft.sources.kvconnector.KVSegmentStore

/** Supernode handling (r14 verdict #3): a hub vertex's adjacency all
  * shares one key, so a key-partitioned hop puts the whole celebrity
  * list in ONE task — this spec constructs a 10⁵-edge hub, shows the
  * skew on the plain shuffle join, and proves the salted hop spreads
  * the hub over many reducers with identical rows. */
class KVSupernodeSpec extends SparkSpec {

  private val HubDegree = 100000L

  /** A store with one 10⁵-degree hub (vid 0) and 1000 background
    * vertices of degree 3. */
  private lazy val hubStore: String = {
    import spark.implicits._
    val hub = spark.range(1, HubDegree + 1).select(
      encLong(F.lit(0L)).as("k"),
      F.concat(encLong(F.lit(1L)), encLong(F.col("id"))).as("c"),
      encLong(F.lit(1L)).as("v"))
    val bg = spark.range(1, 1001).select(F.col("id"),
        F.explode(F.array(F.lit(1L), F.lit(2L), F.lit(3L))).as("j"))
      .select(
        encLong(F.col("id")).as("k"),
        F.concat(encLong(F.lit(1L)), encLong(F.col("id") * 7 + F.col("j"))).as("c"),
        encLong(F.lit(1L)).as("v"))
    val seg = suiteTempDir("graft_hubspec")
    KVSegmentStore.write(hub.unionByName(bg), seg, 16)
    seg
  }

  /** The frontier: the hub plus 50 background vertices — too varied to
    * pretend the hub is the only key, small enough to salt-replicate. */
  private def frontier = spark.range(0, 51).select(
    encLong(F.col("id")).as("k"), F.col("id").as("src_vid"))

  /** Rows-per-shuffle-partition of a join's output (the straggler
    * measure: the partition that owns the hub). */
  private def partitionLoads(joined: DataFrame): Seq[Long] =
    joined.select(F.spark_partition_id().as("pid"))
      .groupBy("pid").count().collect().map(_.getLong(1)).toSeq

  /** Run `body` with broadcast joins and AQE's small-output coalescing
    * off — the distribution measure needs the REAL reducer partitions
    * a large corpus would produce, not the one merged partition AQE
    * gives 100k rows. */
  private def withShuffledJoins[T](body: => T): T = {
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("the plain key-partitioned hop puts the whole hub in one task") {
    val adj = spark.read.format("graft-kv").load(hubStore)
    withShuffledJoins {
      // force the key-partitioned (non-broadcast) execution a big
      // frontier would get at scale
      val joined = adj.hint("shuffle_hash").join(frontier, Seq("k"))
        .localCheckpoint(true)
      assert(joined.count() == HubDegree + 50 * 3)
      val loads = partitionLoads(joined)
      // one straggler owns the hub: the max partition carries at least
      // the hub's whole adjacency
      assert(loads.max >= HubDegree,
        s"expected a hub-owning straggler, loads: ${loads.sorted.reverse.take(5)}")
    }
  }

  test("saltedHop spreads the hub over many reducers with identical rows") {
    val adj = spark.read.format("graft-kv").load(hubStore)
    withShuffledJoins {
      val buckets = 8
      val salted = KVGraphQueries.saltedHop(adj, frontier, buckets)
        .localCheckpoint(true)
      assert(salted.count() == HubDegree + 50 * 3)
      val loads = partitionLoads(salted)
      // the hub's 10⁵ cells spread over min(buckets, shuffle
      // partitions) reducers — no partition owns more than ~half the
      // hub (the spec session runs 4 shuffle partitions, so the even
      // spread is ~25k per reducer)
      assert(loads.size >= 2 && loads.max <= HubDegree / 2,
        s"salted hop still skewed, loads: ${loads.sorted.reverse.take(5)}")
      // and the rows are EXACTLY the plain join's (SaltedJoin contract)
      val plain = adj.join(frontier, Seq("k"))
        .select(F.col("src_vid"), graft.kv.KVStore.decLong(F.col("c"), 9).as("dst"))
      val s2 = salted
        .select(F.col("src_vid"), graft.kv.KVStore.decLong(F.col("c"), 9).as("dst"))
      assert(s2.exceptAll(plain).isEmpty && plain.exceptAll(s2).isEmpty)
    }
  }

  test("the DSL hop over a graph with saltBuckets returns identical rows") {
    // the declared supernode path (g_kv_dsl_rev salts its reverse hop):
    // same traversal, salt on vs off, row-identical
    import graft.kv.KVStore.encLong
    val e = PropertyGraph(spark, SF).edges
    withTempDir("graft_saltdsl") { seg =>
      KVSegmentStore.write(
        KVGraphMutations.edgeAdditions(e)
          .unionByName(KVGraphMutations.edgeRevAdditions(e)),
        seg, 8)
      val g = KVGraphQueries.kvBackedGraphBoth(spark, SF, seg)
      def run(g: PropertyGraph.G): Seq[String] = Traversal.V(g)
        .hasLabel("nation").value("name", "n_name").as("n_vid")
        .in("in_nation").hasLabel("supplier").as("s_vid")
        .select("n_vid", "n_name", "s_vid")
        .df.collect().map(_.toString).sorted.toSeq
      val plain = run(g)
      val salted = run(g.copy(saltBuckets = 4))
      assert(plain.nonEmpty && salted == plain)
    }
  }

  test("the broadcast frontier hop has no reducer skew to salt away") {
    // the DEFAULT path for dimension-sized frontiers: the store side
    // never shuffles at all — each scan task streams its own segments,
    // so the hub costs one task O(hub cells) of LOCAL read, no exchange;
    // salting only matters once the frontier outgrows broadcast
    val adj = spark.read.format("graft-kv").load(hubStore)
    val joined = adj.join(F.broadcast(frontier), Seq("k"))
    assert(joined.count() == HubDegree + 50 * 3)
    val shuffles = collectExec(joined) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty, "broadcast hop should plan zero exchanges")
  }
}
