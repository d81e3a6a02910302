package graft.graph

import graft.core.SessionCache.Checkpointable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Strongly-connected components over a DIRECTED graph (X302, VERDICT
  * r13 #7) — the directed sequel to [[Components]]' undirected CC: in
  * link-graph curation an SCC separates MUTUAL-link cores (pages that
  * cite each other — the community signal) from drive-by links (one
  * page citing another that never links back), the distinction HITS
  * scores softly and CC cannot see at all (every drive-by link fuses
  * an undirected component).
  *
  * Fixture instance: the nation-grain TRADE graph — a directed edge
  * customer-nation → supplier-nation exists when that flow carries at
  * least the UNIFORM share of total order flow (`w·10⁶ ≥ total·
  * [[MeanSharePpm]]`, the integer-only self-scaling threshold: 10⁶/25²
  * ppm is one 625th — what a flat flow matrix would put on every
  * pair). The SCC then reads as the mutual-trade core (nations that
  * both buy from and sell to the core above the bar) vs drive-by
  * trade partners.
  *
  * Algorithm, Fleischer/Orzan style — deterministic and
  * SQL-replayable at every step:
  *
  *  - TRIM: a remaining node with no in-edges or no out-edges in the
  *    remaining subgraph cannot sit in a ≥2-cycle — all such nodes
  *    are singleton SCCs, removed together in one pass per round;
  *  - COLOR: forward min-label propagation to fixpoint — `f(v)` =
  *    the minimum node that reaches v (the one scalar label-sum
  *    aggregate per hop detects the fixpoint, the [[Components]]
  *    device); nodes with `f(v) = v` are this round's pivots, one
  *    per color class, chosen by MIN id (deterministic);
  *  - BACKWARD: reachability TO the pivot WITHIN its color class
  *    (the class is forward-closed: any path from the pivot stays in
  *    the class, so mutual reachability with the pivot ≡ membership
  *    in its SCC); marked nodes emit `(node, scc_id = pivot)`;
  *  - PEEL: remove the found SCCs, restrict the edges, repeat. The
  *    global min node is always its own pivot and always emits, so
  *    every round makes progress; rounds are bounded by the pivot
  *    chain depth (trim collapses the long-tail case of chains).
  *
  * Scale shape: every step is a keyed equi-join or a
  * map-side-combinable aggregate over the CURRENT edge frame — no
  * adjacency collected, no global sort; per-round frames
  * `localCheckpoint` eagerly (the CC-loop discipline: truncate the
  * lineage, never self-join an evolving plan). Below
  * [[graft.core.UnionFind.LocalMaxEdges]] edges, one driver Tarjan
  * pass replaces the loop (the r12-blessed small-graph gate — the
  * trade instance is nation-grain, so the registry query takes this
  * path; the distributed loop stays and engages past the gate, and
  * the spec proves both paths agree on planted graphs).
  *
  * The DuckDB oracle recomputes SCCs from first principles — a
  * recursive transitive closure (`UNION` dedup terminates it on
  * cycles) and `scc_id(v) = min({v} ∪ {u : v↔u mutually reachable})`
  * — rather than replaying the peeling loop: on the bounded trade
  * graph the closure is exact and cheap, and an independent
  * derivation is a stronger check than a transcription. */
object Scc {

  /** Peel/hop bounds — generous vs the ≤25-node trade instance and
    * the spec graphs; the loops REQUIRE convergence rather than
    * silently emitting a half-peeled labeling. */
  val MaxPeelRounds = 64
  val MaxHops = 64

  /** Uniform-share edge bar: 10⁶ / 25² ppm — a flow must carry at
    * least what a flat matrix would give every pair. */
  val MeanSharePpm = 1600L

  /** Directed nation-trade edges above the uniform-share bar.
    * `w` = distinct orders carrying any lineitem from a supplier of
    * `dst` to a customer of `src`'s nation; self-loops excluded (a
    * nation trivially trades with itself). */
  def tradeEdges(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame, supplier: DataFrame): DataFrame = {
    val flows = lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .select(col("c_nationkey").cast("long").as("src"),
        col("s_nationkey").cast("long").as("dst"),
        col("l_orderkey").as("ok"))
      .distinct()
    val pc = flows.groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).cast("long").as("w"))
    // 1-row total broadcast (the documented scalar-broadcast pattern)
    pc.crossJoin(broadcast(pc.agg(sum(col("w")).cast("long").as("t"))))
      .filter(col("src") =!= col("dst") &&
        col("w") * lit(1000000L) >= col("t") * lit(MeanSharePpm))
      .select(col("src"), col("dst"))
  }

  /** Session-cached [[tradeEdges]] for the tables at `dir` (VERDICT
    * r14 #1): graph_scc and graph_reciprocity both start from the
    * same lineitem-grain 4-table join + distinct — the
    * [[Triangles.sharedCoPurchaseEdges]] family-cache pattern, so a
    * Bench/Verify sweep (and any future directed-graph operator) pays
    * the fact-scan derivation ONCE per session instead of once per
    * query. At 100 TB that is one full lineitem scan, not two.
    * Priced as its own `[cache:graph.trade]` tier in Bench. */
  def sharedTradeEdges(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.core.SessionCache.cached(spark, s"tradeedges:$dir")(
      tradeEdges(graft.core.Tables(spark, dir, "lineitem"),
        graft.core.Tables(spark, dir, "orders"),
        graft.core.Tables(spark, dir, "customer"),
        graft.core.Tables(spark, dir, "supplier")))

  /** Per-node SCC labels `(node, scc_id)` over arbitrary directed
    * `(src, dst)` edges; `scc_id` = the SCC's minimum member id.
    * Nodes are DEFINED by the edge set (either endpoint). */
  def stronglyConnected(edges: DataFrame,
      maxRounds: Int = MaxPeelRounds,
      localMaxEdges: Long = graft.core.UnionFind.LocalMaxEdges)
      : DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = graft.core.SessionCache.transient(
      edges.select(col("src"), col("dst")).distinct())
    if (e.count() <= localMaxEdges) {
      val labels = localScc(e.as[(Long, Long)].collect())
      return labels.toSeq.toDF("node", "scc_id")
    }
    distributedScc(e, maxRounds)
  }

  /** Driver-side iterative Tarjan (explicit DFS stack — no recursion
    * depth limit); label = min member, which is independent of visit
    * order, so the result is deterministic by construction. */
  private[graft] def localScc(es: Array[(Long, Long)])
      : Array[(Long, Long)] = {
    val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    val nodes = mutable.SortedSet.empty[Long]
    es.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += b
      nodes += a; nodes += b
    }
    val index = mutable.HashMap.empty[Long, Int]
    val low = mutable.HashMap.empty[Long, Int]
    val onStack = mutable.HashSet.empty[Long]
    val stack = mutable.ArrayBuffer.empty[Long]
    val dfs = mutable.ArrayBuffer.empty[(Long, Iterator[Long])]
    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    var idx = 0
    def push(v: Long): Unit = {
      index(v) = idx; low(v) = idx; idx += 1
      stack += v; onStack += v
      dfs += ((v, adj.getOrElse(v, mutable.ArrayBuffer.empty)
        .sorted.iterator))
    }
    for (root <- nodes if !index.contains(root)) {
      push(root)
      while (dfs.nonEmpty) {
        val (v, it) = dfs.last
        if (it.hasNext) {
          val w = it.next()
          if (!index.contains(w)) push(w)
          else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          dfs.remove(dfs.length - 1)
          if (dfs.nonEmpty) {
            val p = dfs.last._1
            low(p) = math.min(low(p), low(v))
          }
          if (low(v) == index(v)) {
            val members = mutable.ArrayBuffer.empty[Long]
            var w = 0L
            while ({ w = stack.remove(stack.length - 1); onStack -= w
              members += w; w != v }) ()
            val lbl = members.min
            members.foreach(m => out += ((m, lbl)))
          }
        }
      }
    }
    out.toArray
  }

  /** Forward min-label fixpoint: `f(v)` = min node with a directed
    * path to v (including v). Label sum strictly decreases until
    * convergence — one scalar aggregate per hop. */
  private def minReachFixpoint(edges: DataFrame,
      nodes: DataFrame): DataFrame = {
    var f = nodes.select(col("node"), col("node").as("f"))
      .trackedCheckpoint()
    var prev = f.agg(sum(col("f"))).head().getLong(0)
    var converged = false
    var i = 0
    while (!converged && i < MaxHops) {
      val nbr = edges
        .join(f.select(col("node").as("src"), col("f").as("fs")),
          Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(min(col("fs")).as("nf"))
      val next = f.join(nbr, Seq("node"), "left")
        .select(col("node"),
          least(col("f"), coalesce(col("nf"), col("f"))).as("f"))
        .trackedCheckpoint()
      val s = next.agg(sum(col("f"))).head().getLong(0)
      converged = s == prev
      prev = s; f = next; i += 1
    }
    require(converged,
      s"SCC forward reachability did not converge in $MaxHops hops")
    f
  }

  /** Backward reachability to the pivot WITHIN each color class:
    * marked count strictly increases until convergence. */
  private def backwardMark(edges: DataFrame, f: DataFrame): DataFrame = {
    val ec = edges
      .join(f.select(col("node").as("src"), col("f").as("fs")),
        Seq("src"))
      .join(f.select(col("node").as("dst"), col("f").as("fd")),
        Seq("dst"))
      .filter(col("fs") === col("fd"))
      .select(col("src"), col("dst"))
      .trackedCheckpoint()
    var m = f.select(col("node"), col("f"),
      when(col("node") === col("f"), 1L).otherwise(0L).as("m"))
      .trackedCheckpoint()
    var prev = m.agg(sum(col("m"))).head().getLong(0)
    var converged = false
    var i = 0
    while (!converged && i < MaxHops) {
      val nbr = ec
        .join(m.filter(col("m") === 1L)
          .select(col("node").as("dst")), Seq("dst"), "left_semi")
        .select(col("src").as("node")).distinct()
        .withColumn("nm", lit(1L))
      val next = m.join(nbr, Seq("node"), "left")
        .select(col("node"), col("f"),
          greatest(col("m"), coalesce(col("nm"), lit(0L))).as("m"))
        .trackedCheckpoint()
      val s = next.agg(sum(col("m"))).head().getLong(0)
      converged = s == prev
      prev = s; m = next; i += 1
    }
    require(converged,
      s"SCC backward reachability did not converge in $MaxHops hops")
    m
  }

  private def distributedScc(e0: DataFrame, maxRounds: Int): DataFrame = {
    var edges = e0.trackedCheckpoint()
    var rem = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node")))
      .distinct().trackedCheckpoint()
    var remCount = rem.count()
    val found = mutable.ArrayBuffer.empty[DataFrame]
    var round = 0
    while (remCount > 0 && round < maxRounds) {
      // TRIM: no out-edges or no in-edges in the remaining subgraph
      // -> singleton SCC, all removed together
      val trivial = rem
        .join(edges.select(col("src").as("node")), Seq("node"),
          "left_anti")
        .unionByName(rem.join(edges.select(col("dst").as("node")),
          Seq("node"), "left_anti"))
        .distinct().trackedCheckpoint()
      if (trivial.count() > 0) {
        found += trivial.select(col("node"), col("node").as("scc_id"))
        rem = rem.join(trivial, Seq("node"), "left_anti")
          .trackedCheckpoint()
        remCount = rem.count()
        edges = restrict(edges, rem)
      }
      if (remCount > 0) {
        val f = minReachFixpoint(edges, rem)
        val scc = backwardMark(edges, f)
          .filter(col("m") === 1L)
          .select(col("node"), col("f").as("scc_id"))
          .trackedCheckpoint()
        found += scc
        rem = rem.join(scc.select(col("node")), Seq("node"), "left_anti")
          .trackedCheckpoint()
        remCount = rem.count()
        if (remCount > 0) edges = restrict(edges, rem)
      }
      round += 1
    }
    require(remCount == 0,
      s"SCC peeling did not converge in $maxRounds rounds")
    found.reduce(_ unionByName _)
  }

  private def restrict(edges: DataFrame, rem: DataFrame): DataFrame =
    edges
      .join(rem.select(col("node").as("src")), Seq("src"), "left_semi")
      .join(rem.select(col("node").as("dst")), Seq("dst"), "left_semi")
      .select(col("src"), col("dst"))
      .trackedCheckpoint()

  /** X303: per-nation trade reciprocity — the edge-level mutuality
    * read beside [[tradeScc]]'s component-level one (a standard
    * link-spam signal in web-graph curation: organic link
    * neighborhoods reciprocate, drive-by/spam ones don't): per
    * nation, out-edges above the uniform-share bar, how many are
    * reciprocated (the reverse edge also clears the bar), and the
    * reciprocity ppm. One self-semi-join of the bounded edge frame on
    * the swapped key + two keyed aggregates — linear in |E|. */
  def tradeReciprocity(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame, supplier: DataFrame,
      nation: DataFrame): DataFrame =
    tradeReciprocity(graft.core.SessionCache.transient(
      tradeEdges(lineitem, orders, customer, supplier)), nation)

  /** Core face over a pre-derived (ideally [[sharedTradeEdges]]-
    * cached) edge frame — the registry entry point, so the sweep
    * never rebuilds the fact-grain derivation per query. */
  def tradeReciprocity(edges: DataFrame, nation: DataFrame)
      : DataFrame = {
    // ADVICE r15: the mutual-pair self-join consumes this frame twice;
    // persist the projection so an UNPERSISTED caller doesn't pay the
    // fact-grain derivation twice in one query (on the SessionCache-
    // backed registry path the persist is a cheap projection of the
    // cached parent)
    val e = graft.core.SessionCache.transient(
      edges.select(col("src"), col("dst")))
    val mut = e.join(
      e.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    val out = e.groupBy(col("src"))
      .agg(count(lit(1)).cast("long").as("n_out"))
    val m = mut.groupBy(col("src"))
      .agg(count(lit(1)).cast("long").as("n_mutual"))
    out.join(m, Seq("src"), "left")
      .select(col("src"), col("n_out"),
        coalesce(col("n_mutual"), lit(0L)).as("n_mutual"))
      .join(broadcast(nation.select(
        col("n_nationkey").cast("long").as("src"), col("n_name"))),
        Seq("src"))
      .select(col("n_name"), col("src").as("nationkey"),
        col("n_out"), col("n_mutual"),
        expr("(n_mutual * 1000000) div n_out").cast("long")
          .as("reciprocity_ppm"))
  }

  /** The registry face: per-nation SCC labels over [[tradeEdges]],
    * with the SCC size and the mutual-core flag. */
  def tradeScc(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame, supplier: DataFrame,
      nation: DataFrame): DataFrame =
    tradeScc(tradeEdges(lineitem, orders, customer, supplier), nation)

  /** Core face over a pre-derived (ideally [[sharedTradeEdges]]-
    * cached) edge frame. */
  def tradeScc(edges: DataFrame, nation: DataFrame): DataFrame = {
    val labels = stronglyConnected(edges)
    val sizes = labels.groupBy(col("scc_id"))
      .agg(count(lit(1)).cast("long").as("n_members"))
    labels.join(sizes, Seq("scc_id"))
      .join(broadcast(nation.select(
        col("n_nationkey").cast("long").as("node"), col("n_name"))),
        Seq("node"))
      .select(col("n_name"), col("node").as("nationkey"),
        col("scc_id"), col("n_members"),
        when(col("n_members") > 1L, 1L).otherwise(0L)
          .as("in_mutual_core"))
  }
}
