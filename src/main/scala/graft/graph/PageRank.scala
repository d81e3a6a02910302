package graft.graph

import graft.core.SessionCache.Checkpointable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Integer-exact PageRank over a bipartite interaction graph — the
  * authority-scoring primitive a curation pipeline runs over its
  * domain/link graph (rank web domains by who references them, weight
  * crawl priority, damp low-authority sources before quality scoring).
  * The fixture graph is the purchase graph: customer↔supplier edges
  * from `orders ⋈ lineitem`, symmetrized so no node is a dangling
  * sink.
  *
  * All arithmetic is INTEGER micro-units: every node starts at 10⁶,
  * one step is `r' = (1−d)·10⁶ + d · Σ_{u→v} (r(u) div outdeg(u))`
  * with d = 85/100 applied as `(85 · Σ) div 100`. Floor division
  * loses ≤1 µunit per edge, deterministically and identically in any
  * engine and any accumulation order — so a DuckDB oracle can replay
  * the exact values, which float PageRank (whose sums reassociate
  * per-partition) never hash-matches.
  *
  * Scale shape: one iteration = one equi-join of the edge list with
  * the rank table on `src` (both hash-partitioned on the same key
  * after the first shuffle) + one `groupBy(dst)` sum — the standard
  * distributed PageRank step, linear in |E| per iteration, no
  * adjacency ever collected. The edge list and degree table persist
  * once per query ([[graft.core.SessionCache.transient]]) and are
  * reused by every iteration;
  * in [[purchaseRanks]] the iteration count is a small constant so the
  * unrolled lineage stays shallow, and [[purchaseRanksConverged]] is
  * the open-ended tolerance-driven loop with `localCheckpoint` per
  * round (the [[graft.dedup.Dedup]] CC-loop shape).
  *
  * Reference-free addition (SURVEY §2.11 X81): the reference has no
  * graph operator; this is the training-data-pipeline authority
  * signal re-expressed Spark-first.
  */
object PageRank {

  val Iters = 3
  val BaseE6 = 1000000L
  /** (1−d)·10⁶ and the d = 85/100 rational, as integers. */
  val RestartE6 = 150000L
  val DampNum = 85L
  val DampDen = 100L

  /** Node encoding: customers at 2·key, suppliers at 2·key+1 keeps the
    * two id spaces disjoint in one integer column. */
  def purchaseRanks(orders: DataFrame, lineitem: DataFrame,
      iters: Int = Iters,
      graph: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val (edges, deg) = graph.getOrElse(purchaseGraph(orders, lineitem))
    var rank = deg.select(col("src").as("node"), lit(BaseE6).as("pr"))
    for (_ <- 1 to iters) rank = step(edges, deg, rank)
    present(rank)
  }

  /** Convergence-driven variant: iterate until the max per-node rank
    * move drops to `tolE6` µunits (or `maxIters`), instead of a blind
    * constant — the form a 100 TB graph runs, where the right
    * iteration count isn't knowable up front. Each round
    * `localCheckpoint`s eagerly (the [[graft.dedup.Dedup]] CC-loop
    * shape): the lineage is truncated so analysis cost doesn't
    * compound, and the delta aggregate joins two MATERIALIZED rank
    * frames (never a self-join of an evolving plan). Per round that
    * adds one keyed equi-join and a scalar max — same linear-in-|E|
    * cost class as the step itself; the only driver state is one Long
    * per round. Returns the final ranks plus the per-round max-delta
    * trace (the convergence evidence a monitoring job records). */
  def purchaseRanksConverged(orders: DataFrame, lineitem: DataFrame,
      tolE6: Long = 1000L, maxIters: Int = 20): (DataFrame, Seq[Long]) = {
    val (edges, deg) = purchaseGraph(orders, lineitem)
    var rank = deg.select(col("src").as("node"), lit(BaseE6).as("pr"))
      .trackedCheckpoint()
    val deltas = ArrayBuffer.empty[Long]
    var converged = false
    while (deltas.size < maxIters && !converged) {
      val next = step(edges, deg, rank).trackedCheckpoint()
      val delta = next
        .join(rank.select(col("node"), col("pr").as("prev")), Seq("node"))
        .agg(max(abs(col("pr") - col("prev"))).cast("long"))
        .first().getLong(0)
      deltas += delta
      rank = next
      converged = delta <= tolE6
    }
    (present(rank), deltas.toSeq)
  }

  private def rawPurchaseEdges(orders: DataFrame,
      lineitem: DataFrame): DataFrame = {
    val cs = lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).cast("long").as("src"),
        (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
      .distinct()
    // symmetrize: every node has out-edges, so no dangling-mass term
    cs.unionByName(cs.select(col("dst").as("src"), col("src").as("dst")))
  }

  private def degreesOf(edges: DataFrame): DataFrame =
    edges.groupBy(col("src"))
      .agg(count(lit(1)).cast("long").as("outdeg"))

  private[graph] def purchaseGraph(orders: DataFrame,
      lineitem: DataFrame): (DataFrame, DataFrame) = {
    val edges = graft.core.SessionCache.transient(
      rawPurchaseEdges(orders, lineitem))
    (edges, graft.core.SessionCache.transient(degreesOf(edges)))
  }

  /** Session-cached purchase graph for the tables at `dir`: pagerank
    * (X81), personalized pagerank (X184) and BFS hops (X188) all start
    * from the same customer↔supplier edge derivation, so a
    * Bench/Verify sweep materializes it once (the
    * [[graft.graph.Triangles.sharedCoPurchaseEdges]] family-cache
    * pattern); priced as its own `[cache:graph.purchase]` Bench
    * tier. */
  def sharedPurchaseGraph(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    // cached hash-partitioned on `src` — the key every iterative
    // consumer joins or aggregates on (PageRank/PPR contribution
    // joins, BFS frontier joins, HITS' hub leg, the degree rollup):
    // one exchange at cache build, one saved per round per consumer
    // (the sharedUndirectedEdges trade)
    val edges = graft.core.SessionCache.cached(spark,
      s"purchase_edges:$dir")(rawPurchaseEdges(
        graft.core.Tables(spark, dir, "orders"),
        graft.core.Tables(spark, dir, "lineitem"))
        .repartition(col("src")))
    (edges, graft.core.SessionCache.cached(spark,
      s"purchase_deg:$dir")(degreesOf(edges)))
  }

  private def step(edges: DataFrame, deg: DataFrame,
      rank: DataFrame): DataFrame = {
    val contrib = edges
      .join(deg, Seq("src"))
      .join(rank.withColumnRenamed("node", "src"), Seq("src"))
      .groupBy(col("dst"))
      .agg(sum(expr("pr div outdeg")).cast("long").as("c"))
    deg.select(col("src").as("node"))
      .join(contrib, col("node") === col("dst"), "left")
      .select(col("node"),
        (lit(RestartE6) +
          expr(s"($DampNum * coalesce(c, cast(0 as bigint))) div $DampDen"))
          .cast("long").as("pr"))
  }

  /** Personalized PageRank (X184) — authority RELATIVE TO A SEED SET:
    * the restart mass lands only on seed nodes, so scores answer
    * "how reachable is v from the seeds" — the recommendation /
    * related-entity primitive (seeds = a user's purchases → ranked
    * related suppliers), where global PageRank answers "how central
    * is v overall". Same integer micro-unit discipline as the base
    * operator: r'(v) = restart(v) + d·Σ(r(u) div outdeg(u)), with
    * restart(v) = (1−d)·10⁶ on seeds and 0 elsewhere, r₀ = restart —
    * every value replayable by floor-division arithmetic in any
    * engine. Non-seed nodes with no inbound seed-reachable mass stay
    * at 0 (correctly: they are unreachable from the seeds).
    *
    * Same per-iteration cost class as [[purchaseRanks]] (one join +
    * one keyed sum over the cached edge list); the seed predicate is
    * a map-side flag, never a collected set. */
  def personalizedRanks(orders: DataFrame, lineitem: DataFrame,
      iters: Int = Iters,
      graph: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val (edges, deg) = graph.getOrElse(purchaseGraph(orders, lineitem))
    // seeds: every 10th supplier — deterministic and SF-invariant
    val restart = graft.core.SessionCache.transient(
      deg.select(col("src").as("node"),
        when(col("src") % 2 === 1 && expr("(src div 2) % 10") === 0,
          lit(RestartE6)).otherwise(lit(0L)).cast("long").as("restart")))
    var rank = restart.select(col("node"), col("restart").as("pr"))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(deg, Seq("src"))
        .join(rank.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst"))
        .agg(sum(expr("pr div outdeg")).cast("long").as("c"))
      rank = restart
        .join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          (col("restart") +
            expr(s"($DampNum * coalesce(c, cast(0 as bigint))) " +
              s"div $DampDen")).cast("long").as("pr"))
    }
    present(rank)
  }

  private def present(rank: DataFrame): DataFrame =
    rank.select(
      when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
        .as("kind"),
      expr("node div 2").cast("long").as("id"),
      col("pr").as("rank_e6"))
}
