package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Triangle counting over the co-purchase graph — the graph-shape
  * statistic next to [[PageRank]]: per-node triangle participation is
  * the core of clustering-coefficient spam/community detection on
  * web-scale link graphs (a crawl frontier whose neighborhoods close
  * into triangles is a community; one that never closes is a spam
  * farm or a star). Reference scope: the engine's graph family ships
  * rank (PageRank) and cohesion (this) over the same derived edges.
  *
  * Scale design — degree-ordered orientation (the standard
  * m^(3/2)-bounded algorithm): every undirected edge is oriented from
  * its lower-(degree, id) endpoint to the higher one, wedges are
  * enumerated ONLY at each node's oriented out-edges (out-degree ≤
  * √(2m) for every node under this orientation), and each wedge probes
  * the canonical edge set once via a hash equi-join. Every step is an
  * equi-join or keyed aggregate — no node's full neighborhood is ever
  * collected, no driver state, and the hot-node blowup a naive
  * wedge-at-every-node enumeration hits (a celebrity node with 10⁸
  * neighbors contributes 10¹⁶ wedges) is structurally excluded: the
  * celebrity is the wedge TARGET, never the wedge CENTER.
  */
object Triangles {

  /** Distinct undirected co-purchase edges, canonical `a < b`: two
    * parts are adjacent iff some order contains both. The per-order
    * self-join is bounded by (items per order)² — basket size, not
    * corpus size — and the distinct collapses repeat pairs into one
    * edge before any downstream work. */
  def coPurchaseEdges(lineitem: DataFrame): DataFrame =
    weightedCoPurchaseEdges(lineitem).select(col("a"), col("b"))

  /** Canonical co-purchase edges WITH their distinct-order support
    * count `w` — the single basket self-join every graph-family
    * derivation reduces to: the unweighted edge set is its projection
    * and the support-filtered graph (X143) its filter, so a sweep pays
    * the quadratic-in-basket-size work exactly once. */
  def weightedCoPurchaseEdges(lineitem: DataFrame): DataFrame = {
    val op = lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct()
    op.select(col("ok"), col("p").as("a"))
      .join(op.select(col("ok"), col("p").as("b")), Seq("ok"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).cast("long").as("w"))
  }

  /** Session-cached weighted edges for the lineitem table at `dir`. */
  def sharedWeightedEdges(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.core.SessionCache.cached(spark, s"copurchase_w:$dir")(
      weightedCoPurchaseEdges(graft.core.Tables(spark, dir, "lineitem")))

  /** Session-cached co-purchase edges for the lineitem table at `dir`:
    * the triangle and community queries start from the same ~m-row
    * edge derivation, so a Bench/Verify sweep materializes it once
    * (the [[graft.dedup.Dedup.sharedShingles]] family-cache pattern). */
  def sharedCoPurchaseEdges(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.core.SessionCache.cached(spark, s"copurchase:$dir")(
      sharedWeightedEdges(spark, dir).select(col("a"), col("b")))

  /** Undirected expansion of canonical edges: both directions of every
    * `(a, b)` edge, as `(u, v)`. */
  def undirected(edges: DataFrame): DataFrame =
    edges.select(col("a").as("u"), col("b").as("v"))
      .unionByName(edges.select(col("b").as("u"), col("a").as("v")))

  /** Session-cached undirected expansion of [[sharedCoPurchaseEdges]]:
    * [[Communities.labelPropagation]] and [[KCore.kCore]] — the two
    * most expensive graph queries — both start every round from this
    * same 2m-row frame, so a Bench/Verify sweep materializes it ONCE
    * instead of once per query (VERDICT r7 #5). Priced as its own
    * `[cache:graph.und]` tier in Bench.
    *
    * Cached HASH-PARTITIONED ON `v` — the LPA rounds' join key: a
    * cached frame keeps its outputPartitioning, so each of the 4
    * label-propagation joins reads the 2m-row side exchange-free and
    * only the (|V|-row) label frame shuffles per round. One exchange
    * paid at cache build buys one per round for every consumer joining
    * on v; consumers joining on other keys shuffle exactly as an
    * unpartitioned cache would. */
  def sharedUndirectedEdges(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.core.SessionCache.cached(spark, s"copurchase_und:$dir")(
      undirected(sharedCoPurchaseEdges(spark, dir)).repartition(col("v")))

  /** Per-node degree and triangle participation count over canonical
    * `(a, b)` edges (`a < b`). Nodes in no triangle report 0. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // persistence belongs to the CALLER: the registry passes the
    // session-shared co-purchase cache (re-persisting it here would
    // hand it to the end-of-query release and evict the family
    // cache mid-sweep); spec-sized frames don't need it
    val e = edges
    val und = e.select(col("a").as("u"), col("b").as("v"))
      .unionByName(e.select(col("b").as("u"), col("a").as("v")))
    val deg = graft.core.SessionCache.transient(
      und.groupBy(col("u")).agg(count(lit(1)).cast("long").as("deg")))
    val tris = triangleFrame(e, und, deg)
    val perNode = tris
      .select(explode(array(col("x"), col("y"), col("z"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).cast("long").as("c"))
    deg.join(perNode.select(col("n").as("u"), col("c")), Seq("u"), "left")
      .select(col("u").as("part"), col("deg"),
        coalesce(col("c"), lit(0L)).as("n_tri"))
  }

  /** The oriented-wedge triangle enumeration shared by
    * [[triangleCounts]] and [[edgeEmbeddedness]]: one row per
    * triangle as `(x, y, z)` with x the wedge center and y < z the
    * probed edge. See the object scaladoc for the m^(3/2) bound. */
  private[graph] def triangleFrame(e: DataFrame, und: DataFrame,
      deg: DataFrame): DataFrame = {
    // orient u→v iff (deg_u, u) < (deg_v, v): a strict total order, so
    // each undirected edge appears exactly once and out-degree ≤ √(2m)
    val oriented = graft.core.SessionCache.transient(
      und.join(deg, Seq("u"))
        .join(deg.select(col("u").as("v"), col("deg").as("deg_v")), Seq("v"))
        .filter(col("deg") < col("deg_v") ||
          (col("deg") === col("deg_v") && col("u") < col("v")))
        .select(col("u"), col("v")))
    // wedges centered at the LOW end: two out-edges of u; canonical
    // (least, greatest) of the two tips probes the edge set
    val wedges = oriented.select(col("u"), col("v").as("v1"))
      .join(oriented.select(col("u"), col("v").as("v2")), Seq("u"))
      .filter(col("v1") < col("v2"))
    wedges.join(e.select(col("a"), col("b")),
      wedges("v1") === col("a") && wedges("v2") === col("b"))
      .select(col("u").as("x"), col("v1").as("y"), col("v2").as("z"))
  }

  /** X314: per-edge EMBEDDEDNESS and local-bridge flag — the
    * Granovetter tie-strength read the node-grain triangle count
    * cannot give: an edge's embeddedness is the number of triangles
    * through it (common neighbors of its endpoints), and an edge
    * with embeddedness 0 is a LOCAL BRIDGE — the weak tie whose
    * removal disconnects its endpoints' neighborhoods (in link-graph
    * curation: the cross-community citation worth keeping vs the
    * in-clique echo; in basket analysis: the cross-category
    * co-purchase that merchandising actually wants). Emitted beside
    * the co-purchase support weight `w`, because the interesting
    * anomaly is a STRONG tie (high w) with zero embeddedness.
    *
    * Scale shape: the same m^(3/2)-bounded oriented-wedge triangle
    * enumeration as [[triangleCounts]] ([[triangleFrame]] is shared),
    * plus one explode to the 3 canonical edges per triangle and one
    * edge-keyed hash aggregate — linear in the triangle count. The
    * oracle recomputes embeddedness as an independent common-neighbor
    * join (NOT the orientation transcription). */
  def edgeEmbeddedness(weighted: DataFrame): DataFrame = {
    val e = weighted.select(col("a"), col("b"), col("w"))
    val und = e.select(col("a").as("u"), col("b").as("v"))
      .unionByName(e.select(col("b").as("u"), col("a").as("v")))
    val deg = graft.core.SessionCache.transient(
      und.groupBy(col("u")).agg(count(lit(1)).cast("long").as("deg")))
    val tris = triangleFrame(e, und, deg)
    val support = tris.select(explode(array(
        struct(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b")),
        struct(least(col("x"), col("z")).as("a"),
          greatest(col("x"), col("z")).as("b")),
        struct(least(col("y"), col("z")).as("a"),
          greatest(col("y"), col("z")).as("b")))).as("eg"))
      .select(col("eg.a").as("a"), col("eg.b").as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).cast("long").as("n_triangles"))
    e.join(support, Seq("a", "b"), "left")
      .select(col("a"), col("b"), col("w"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(coalesce(col("n_triangles"), lit(0L)) === 0L, 1L)
          .otherwise(0L).as("is_local_bridge"))
  }

  /** Degree histogram in power-of-2 buckets (X246) — the graph-side
    * Zipf read: real co-occurrence graphs are heavy-tailed, and the
    * log-bucketed degree histogram is the one-glance check that the
    * graph still LOOKS like one (a missing tail = over-aggressive
    * edge support filtering; a fat head = a hub explosion that will
    * dominate every triangle/path query downstream). Buckets by
    * bit_length (the X110 floor-log2 device) so the histogram replays
    * bit-identically; counts + integer-ppm node share.
    *
    * Scale: one degree aggregate over the undirected expansion (the
    * same map-side-combinable shuffle every graph query starts with),
    * one ≤64-bucket rollup, 1-row total broadcast. */
  def degreeHistogram(edges: DataFrame): DataFrame = {
    val b = undirected(edges)
      .groupBy(col("u")).agg(count(lit(1)).cast("long").as("deg"))
      .select(length(bin(col("deg"))).cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_nodes"))
    b.crossJoin(broadcast(
        b.agg(sum(col("n_nodes")).cast("long").as("n_total"))))
      .select(col("bucket"), col("n_nodes"),
        expr("(n_nodes * 1000000) div greatest(n_total, 1)")
          .cast("long").as("share_ppm"))
  }

  /** Per-node local clustering coefficient (X212, Watts & Strogatz
    * 1998) — how much of each node's neighborhood closes into
    * triangles: `cc = 2·tri / (deg·(deg−1))`, in exact integer ppm.
    * The per-node read of the same statistic [[triangleCounts]]
    * computes globally: cc ≈ 1 = tight community member, cc ≈ 0 at
    * high degree = a hub wiring strangers together (the spam-farm /
    * aggregator-page signature in link-graph curation). Degree-1
    * nodes have no wedge to close and report 0 by convention.
    *
    * Scale: one projection over [[triangleCounts]]' m^(3/2)-bounded
    * frame — no new joins; the 2·10⁶·tri scaling and the deg² lower
    * term are both Long-guarded: n_tri must stay ≤
    * Long.MaxValue div 2·10⁶ = 4 611 686 018 427 so `n_tri * 2000000`
    * is Long-exact (a ~3·10⁶-degree hub with dense closure trips the
    * assert loudly rather than wrapping), and deg ≤ 3 037 000 499
    * keeps `deg·(deg−1)` exact. */
  def clusteringCoefficients(edges: DataFrame): DataFrame =
    triangleCounts(edges)
      .select(col("part"), col("deg"), col("n_tri"),
        when(col("deg") < 2L, lit(0L))
          .otherwise(expr(
            "coalesce(cast(assert_true(" +
              "n_tri <= 4611686018427 and deg <= 3037000499, " +
              "'clustering-coefficient terms exceed the Long-exact " +
              "range') as bigint), 0) + " +
              "(n_tri * 2000000) div (deg * (deg - 1))"))
          .cast("long").as("cc_e6"))
}
