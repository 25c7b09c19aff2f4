package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

import graft.Tables

/** Property graph derived from the star schema — the JanusGraph surface the
  * reference backs (its KCV store holds exactly such a graph; see
  * /root/reference ClickhouseKeyColumnValueStore.java:57 and SURVEY.md §3).
  *
  * Vertex id scheme: vid = key*4 + typecode (customer=0, supplier=1,
  * nation=2, region=3) — collision-free, pure arithmetic, so the DuckDB
  * oracles can rebuild the identical graph in SQL.
  *
  * Scale notes: vertices/edges are plain DataFrames; every algorithm keys
  * its joins on vid so a persisted graph bucketed by vid co-locates all
  * iterations. Dimension-sized vertex sets (nation/region) broadcast.
  */
object PropertyGraph {

  /** A vertex-centric edge-index provider — JanusGraph's buildEdgeIndex
    * surface (a label may carry SEVERAL property-sorted adjacency
    * layouts; the query planner picks by predicate): given the edge
    * label, the predicated property, and an INCLUSIVE upper bound,
    * return the edge frame served from the property-sorted family, or
    * None when no index covers that (label, property). The frame must
    * expose the same edge-shaped columns as `G.edges` (src, dst,
    * elabel, the indexed property; plus [[Traversal.KvKeyCol]] when
    * kv-backed) with the bound ALREADY applied — the caller treats it
    * as a pre-sliced replacement for the primary adjacency. */
  trait EdgeIndex {
    /** The frame of `label` edges whose indexed `prop` lies in the
      * INCLUSIVE range [lo, upTo] — None when no index covers
      * (label, prop). Equality is lo == upTo; a pure upper bound
      * passes lo = 0 (the index covers non-negative values only), a
      * pure lower bound passes upTo = Long.MaxValue. */
    def lookup(label: String, prop: String, lo: Long, upTo: Long): Option[DataFrame]
  }

  /** A GLOBAL composite-index provider — JanusGraph's `graphindex`
    * surface (buildIndex(...).addKey(prop).indexOnly(label): an
    * equality start set `g.V().has(prop, value)` is answered from a
    * store keyed on the property VALUE, never by scanning the vertex
    * space): given the label, the predicated property, and the equality
    * value set, return the START-SET VERTEX FRAME served from the index
    * — same columns as `G.vertices`, the (label, prop ∈ values)
    * predicate ALREADY applied — or None when no index covers that
    * (label, property). Mirrors [[EdgeIndex]]: the caller treats the
    * frame as a pre-restricted replacement for the vertex frame, so a
    * kv-backed provider restricts the CELL frame before any pivot (the
    * index's vid set joins the vertex store on its own key — runtime
    * segment pruning — and the pivot aggregates only matched cells,
    * O(matches) instead of O(all vertices)). */
  trait VertexIndex {
    /** The vertex frame of `label` vertices whose `prop` equals one of
      * `values`; None when no index covers (label, prop). */
    def lookup(label: String, prop: String, values: Seq[Any]): Option[DataFrame]
  }

  /** A PER-PROPERTY vertex read — JanusGraph's property getSlice
    * surface (a vertex property read is getSlice(vertex, [propId,
    * propId+1)) against the store, never a whole-vertex materialize):
    * when a graph carries this hook, the DSL's fused property step
    * serves each pending has()/value() from the property's OWN cell
    * slice — a (key, vid, value) frame the traversal joins on the
    * scan's raw key, so the connector prunes segments to the frontier
    * at execution and NO vertex pivot runs — instead of joining the
    * O(all vertices) pivoted frame. hasLabel() becomes a pure
    * expression on the vid scheme (zero joins). Filters use inner
    * joins (every P predicate is null-rejecting, so inner-join
    * semantics ≡ the pivot's filter semantics — vertices without the
    * cell fail the predicate either way); taps use LEFT joins (a
    * vertex without the property taps null, exactly the pivot's
    * column). */
  trait VertexPropSource {
    /** The (Traversal.KvKeyCol, vid, value) frame of one property —
      * value already decoded to the property's frame type; None when
      * the store does not carry `prop` (the step then falls back to
      * the vertex-frame join). */
    def slice(prop: String): Option[DataFrame]

    /** The (Traversal.KvKeyCol, vid) frame of LIVE vertices — the
      * existence-cell slice (JanusGraph's hidden VertexExists
      * property, one cell per vertex in a folded store), so a start
      * set that needs no real property — `g.V(ids…)`, a bare
      * `g.V()`, label-only filters — materializes with ZERO
      * aggregates: the pivot's groupBy existed only to collapse many
      * property cells into one row, and the existence family is
      * single-cell by construction. */
    def existing: DataFrame

    /** vlabel as a pure expression of a vid column (the vid scheme's
      * label code — no join, no cell read). */
    def labelOf(vid: Column): Column
  }

  /** `revEdges`: the REVERSE-oriented edge frame of a dual-adjacency
    * kv-backed graph (JanusGraph writes every edge into both endpoints'
    * adjacency lists) — same columns as `edges`, plus
    * [[Traversal.KvKeyCol]] = be(dst), so an incoming hop keys its join
    * on the scan's own store key and the connector prunes segments for
    * `in()` exactly as it does for `out()`. None on frame graphs and
    * single-direction stores (reverse hops then scan the primary
    * family, unpruned but correct).
    *
    * `saltBuckets`: b > 0 runs every kv-keyed traversal hop over this
    * graph as the supernode-safe salted join (see Traversal's hop); 0
    * keeps the plain key-partitioned join. */
  final case class G(vertices: DataFrame, edges: DataFrame,
                     edgeIndex: Option[EdgeIndex] = None,
                     revEdges: Option[DataFrame] = None,
                     vertexIndex: Option[VertexIndex] = None,
                     vertexProps: Option[VertexPropSource] = None,
                     saltBuckets: Int = 0) {
    /** Symmetrized distinct edge list for undirected algorithms. */
    def undirected: DataFrame = {
      val e = edges.select("src", "dst")
      e.unionByName(e.select(F.col("dst").as("src"), F.col("src").as("dst"))).distinct()
    }

    /** Symmetrized edges KEEPING the weight property (w is symmetric in
      * (src, dst) by construction, so the distinct collapses mirror
      * pairs to one weight exactly as `undirected` collapses them). */
    def weightedUndirected: DataFrame = {
      val e = edges.select("src", "dst", "w")
      e.unionByName(e.select(F.col("dst").as("src"), F.col("src").as("dst"),
        F.col("w"))).distinct()
    }
  }

  def apply(s: SparkSession, dir: String): G = {
    val cust = Tables(s, dir, "customer").select(
      (F.col("c_custkey").cast("long") * 4).as("vid"),
      F.lit("customer").as("vlabel"),
      F.col("c_name").as("name"),
      F.col("c_acctbal").as("acctbal"),
      F.col("c_mktsegment").as("mktsegment"))
    val supp = Tables(s, dir, "supplier").select(
      (F.col("s_suppkey").cast("long") * 4 + 1).as("vid"),
      F.lit("supplier").as("vlabel"),
      F.col("s_name").as("name"),
      F.col("s_acctbal").as("acctbal"),
      F.lit(null).cast("string").as("mktsegment"))
    val nat = Tables(s, dir, "nation").select(
      (F.col("n_nationkey").cast("long") * 4 + 2).as("vid"),
      F.lit("nation").as("vlabel"),
      F.col("n_name").as("name"),
      F.lit(null).cast("double").as("acctbal"),
      F.lit(null).cast("string").as("mktsegment"))
    val reg = Tables(s, dir, "region").select(
      (F.col("r_regionkey").cast("long") * 4 + 3).as("vid"),
      F.lit("region").as("vlabel"),
      F.col("r_name").as("name"),
      F.lit(null).cast("double").as("acctbal"),
      F.lit(null).cast("string").as("mktsegment"))
    val vertices = cust.unionByName(supp).unionByName(nat).unionByName(reg)

    val eCust = Tables(s, dir, "customer").select(
      (F.col("c_custkey").cast("long") * 4).as("src"),
      (F.col("c_nationkey").cast("long") * 4 + 2).as("dst"),
      F.lit("in_nation").as("elabel"))
    val eSupp = Tables(s, dir, "supplier").select(
      (F.col("s_suppkey").cast("long") * 4 + 1).as("src"),
      (F.col("s_nationkey").cast("long") * 4 + 2).as("dst"),
      F.lit("in_nation").as("elabel"))
    val eNat = Tables(s, dir, "nation").select(
      (F.col("n_nationkey").cast("long") * 4 + 2).as("src"),
      (F.col("n_regionkey").cast("long") * 4 + 3).as("dst"),
      F.lit("in_region").as("elabel"))
    // supplier peer edges (same nation, both directions => undirected)
    val sa = Tables(s, dir, "supplier").select(
      F.col("s_suppkey").cast("long").as("ka"), F.col("s_nationkey").as("na"))
    val sb = Tables(s, dir, "supplier").select(
      F.col("s_suppkey").cast("long").as("kb"), F.col("s_nationkey").as("nb"))
    val ePeer = sa.join(sb, F.col("na") === F.col("nb") && F.col("ka") =!= F.col("kb"))
      .select((F.col("ka") * 4 + 1).as("src"), (F.col("kb") * 4 + 1).as("dst"),
        F.lit("peer").as("elabel"))
    // edge PROPERTY: a deterministic weight w = 1 + (src+dst) mod 5 —
    // the derivation g_wsssp always used, now carried ON the edge frame
    // (r11 verdict #7: a property-graph user expects outE().has("w", …)
    // and edge value() taps, not per-query arithmetic). Arithmetic
    // derivation keeps the DuckDB oracles able to rebuild the identical
    // weighted graph in the shared prelude.
    val edges = eCust.unionByName(eSupp).unionByName(eNat).unionByName(ePeer)
      .withColumn("w", (F.col("src") + F.col("dst")) % 5 + 1)
    G(vertices, edges)
  }

  /** The same graph, as a DuckDB SQL prelude (shared by all graph oracles). */
  val sqlPrelude: String =
    """verts(vid, vlabel, name, acctbal, mktsegment) AS (
      |  SELECT CAST(c_custkey*4 AS BIGINT), 'customer', c_name, c_acctbal, c_mktsegment FROM customer
      |  UNION ALL SELECT CAST(s_suppkey*4+1 AS BIGINT), 'supplier', s_name, s_acctbal, NULL FROM supplier
      |  UNION ALL SELECT CAST(n_nationkey*4+2 AS BIGINT), 'nation', n_name, NULL, NULL FROM nation
      |  UNION ALL SELECT CAST(r_regionkey*4+3 AS BIGINT), 'region', r_name, NULL, NULL FROM region
      |), edges0(src, dst, elabel) AS (
      |  SELECT CAST(c_custkey*4 AS BIGINT), CAST(c_nationkey*4+2 AS BIGINT), 'in_nation' FROM customer
      |  UNION ALL SELECT CAST(s_suppkey*4+1 AS BIGINT), CAST(s_nationkey*4+2 AS BIGINT), 'in_nation' FROM supplier
      |  UNION ALL SELECT CAST(n_nationkey*4+2 AS BIGINT), CAST(n_regionkey*4+3 AS BIGINT), 'in_region' FROM nation
      |  UNION ALL SELECT CAST(a.s_suppkey*4+1 AS BIGINT), CAST(b.s_suppkey*4+1 AS BIGINT), 'peer'
      |    FROM supplier a JOIN supplier b ON a.s_nationkey = b.s_nationkey AND a.s_suppkey <> b.s_suppkey
      |), edges(src, dst, elabel, w) AS (
      |  SELECT src, dst, elabel, (src + dst) % 5 + 1 FROM edges0
      |), uedges(src, dst) AS (
      |  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
      |)""".stripMargin
}
