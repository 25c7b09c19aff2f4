package graft.graph

import org.apache.spark.sql.{functions => F}

import graft.SparkSpec
import graft.sources.kvconnector.KVSegmentStore

/** The vertex-schema DESCRIPTOR (r14 verdict #4): a SECOND corpus —
  * different labels, different properties — must ride the same vertex
  * codecs (vertexAdditions / vertexPropAdditions / storeVertices /
  * vpropSlice / indexAdditions) by passing its own descriptor, with
  * the default descriptor keeping every historical entry byte-stable. */
class KVSchemaSpec extends SparkSpec {

  /** A two-label corpus disjoint from the TPC-H one: docs and sites,
    * with a property set (title, score, lang) the default schema has
    * never seen. */
  private val schema2 = VertexSchema(
    labelMod = 2L,
    labels = Seq("doc" -> 0L, "site" -> 1L),
    props = Seq(
      VertexSchema.Prop("title", 1L),
      VertexSchema.Prop("score", 2L, isDouble = true),
      VertexSchema.Prop("lang", 3L)))

  private def corpus2 = {
    import spark.implicits._
    val docs = (1 to 40).map(i =>
      (i.toLong * 2, "doc", s"title_$i", i * 1.25,
        if (i % 3 == 0) "en" else "de"))
    val sites = (1 to 10).map(i =>
      (i.toLong * 2 + 1, "site", s"site_$i", i * 10.5, null.asInstanceOf[String]))
    (docs ++ sites).toDF("vid", "vlabel", "title", "score", "lang")
  }

  test("a two-label corpus round-trips through the descriptor-driven codecs") {
    val v = corpus2
    withTempDir("graft_schspec") { seg =>
      KVSegmentStore.write(
        KVGraphMutations.vertexAdditions(v, schema2)
          .unionByName(KVGraphMutations.vertexPropAdditions(v, schema2)),
        seg, 8)
      val decoded = KVGraphQueries.storeVertices(
        spark.read.format("graft-kv").load(seg), schema2)
      assert(decoded.columns.toSeq == Seq("vid", "vlabel", "title", "score", "lang"))
      def canon(df: org.apache.spark.sql.DataFrame) = df.select(
        F.col("vid"), F.col("vlabel"), F.col("title"),
        graft.Tables.dec2(F.col("score")).cast("string").as("sc"), F.col("lang"))
        .collect().map(_.toString).sorted.toSeq
      assert(canon(decoded) == canon(v) && decoded.count() == 50)
      // the property slice works under the second descriptor too: lang
      // cells exist only where set (sites wrote none)
      val (lo, hi) = KVGraphMutations.vpropSlice("lang", schema2)
      val langCells = spark.read.format("graft-kv").load(seg)
        .filter(F.col("c") >= lo && F.col("c") < hi)
      assert(langCells.count() == 40)
    }
  }

  test("the graphindex routes a start set over the second corpus") {
    val v = corpus2
    withTempDir("graft_schidx") { wh =>
      val mgr = new graft.kv.KVStoreManager(spark, wh)
      mgr.writeSegmentStore("vertexprops",
        KVGraphMutations.vertexAdditions(v, schema2)
          .unionByName(KVGraphMutations.vertexPropAdditions(v, schema2)),
        8, familyRanged = true)
      mgr.writeSegmentStore(KVGraphQueries.indexStoreName("doc", "lang"),
        KVGraphMutations.indexAdditions(
          v.filter(F.col("vlabel") === "doc"), "lang", schema2), 4)
      // an edge-free graph: the start set is the whole query here
      val g = PropertyGraph.G(
        vertices = KVGraphQueries.storeVertices(
          mgr.openSegmentStore("vertexprops"), schema2),
        edges = corpus2.limit(0).select(
          F.col("vid").as("src"), F.col("vid").as("dst"),
          F.lit("x").as("elabel"), F.lit(1L).as("w")),
        vertexIndex = Some(KVGraphQueries.kvVertexIndex(spark, s"$wh/vertexprops",
          Map(("doc", "lang") -> s"$wh/${KVGraphQueries.indexStoreName("doc", "lang")}"),
          schema2)))
      val rows = Traversal.V(g)
        .hasLabel("doc").has("lang", "en")
        .value("title", "t").as("d")
        .select("d", "t").df.collect()
      val expect = v.filter(F.col("vlabel") === "doc" && F.col("lang") === "en")
      assert(rows.length == expect.count() && rows.nonEmpty)
      val titles = expect.select("title").collect().map(_.getString(0)).toSet
      assert(rows.map(_.getString(1)).toSet == titles)
    }
  }

  test("a frame/descriptor type disagreement fails loudly") {
    val v = corpus2.withColumn("score", F.col("score").cast("string"))
    val e = intercept[IllegalArgumentException] {
      KVGraphMutations.vertexPropAdditions(v, schema2)
    }
    assert(e.getMessage.contains("score"))
  }

  test("the default descriptor is the historical layout") {
    assert(KVGraphMutations.VPropIds ==
      Seq("name" -> 1L, "acctbal" -> 2L, "mktsegment" -> 3L))
    assert(VertexSchema.Default.labelMod == 4L)
    // duplicate ids / out-of-range label codes are rejected
    intercept[IllegalArgumentException] {
      VertexSchema(2L, Seq("a" -> 0L, "b" -> 5L), Seq.empty)
    }
    intercept[IllegalArgumentException] {
      VertexSchema(2L, Seq("a" -> 0L),
        Seq(VertexSchema.Prop("x", 0L)))
    }
  }
}
