package graft.graph

import graft.core.SessionCache.Checkpointable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Seed-set cheapest-path cost (X191) — the WEIGHTED companion to
  * [[BfsHops]]: hop count treats every edge the same, but a curation
  * pipeline's relatedness walks care how STRONG each link is ("how
  * cheaply does influence flow from the seed products through the
  * co-purchase graph"), so the edge cost is inverse support —
  * `10⁶ div w` micro-units for an edge co-purchased in `w` distinct
  * orders — and a node's score is the cheapest total cost of any path
  * from the seed set within k relaxation rounds.
  *
  * Algorithm: distributed Bellman-Ford (min-plus relaxation). Unlike
  * BFS, a frontier is NOT sufficient — an already-settled node can be
  * improved by a later, cheaper multi-hop path — so each round relaxes
  * the FULL distance table against the edge list: one equi-join on the
  * source + one keyed min, linear in |E| per round, the standard
  * distributed SSSP step. Fixed k rounds bounds the answer to "within
  * k hops" exactly like [[BfsHops]] (the operator contract, not an
  * approximation), `localCheckpoint` per round keeps the lineage flat.
  *
  * All arithmetic is integer micro-units (floor-divided edge costs,
  * integer sums, min) — deterministic in any engine and any
  * accumulation order, so the DuckDB oracle replays the exact values
  * as unrolled MATERIALIZED CTEs (the X184 device).
  */
object CheapestPath {

  /** Relaxation rounds — interpolated into the oracle SQL. */
  val Rounds = 3
  /** Seed predicate: part ids ≡ 0 (mod 50) — deterministic and
    * SF-invariant, a map-side flag. */
  val SeedMod = 50L
  /** Edge cost scale: cost(a,b) = CostScale div w. */
  val CostScale = 1000000L

  /** The undirected inverse-support cost edges `(u, v, cost)` behind
    * [[seedCosts]], hash-partitioned on the relaxation join key `u`:
    * each of the `rounds` joins then reads the 2m-row edge side
    * exchange-free and only the distance frame shuffles per round
    * (the sharedUndirectedEdges trade — one exchange at build, one
    * saved per round). */
  private def costEdges(weighted: DataFrame): DataFrame =
    weighted.select(col("a").as("u"), col("b").as("v"),
      expr(s"$CostScale div w").cast("long").as("cost"))
      .unionByName(weighted.select(col("b").as("u"), col("a").as("v"),
        expr(s"$CostScale div w").cast("long").as("cost")))
      .repartition(col("u"))

  /** Session-cached [[costEdges]] over the shared weighted co-purchase
    * edges at `dir`: the expansion+repartition+persist used to rebuild
    * per query PASS (2× per bench sweep); a session tier pays it once
    * (the sharedUndirectedEdges pattern). Priced as
    * `[cache:graph.costund]` in Bench. */
  def sharedCostEdges(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.core.SessionCache.cached(spark, s"costedges:$dir")(
      costEdges(Triangles.sharedWeightedEdges(spark, dir)))

  /** `weighted`: canonical co-purchase edges `(a, b, w)`. Output: one
    * row per node reachable from the seed set within [[Rounds]] hops,
    * `(part, cost_e6)` — 0 on seeds. `undIn`: the session cost-edge
    * tier ([[sharedCostEdges]]); ad-hoc callers omit it. */
  def seedCosts(weighted: DataFrame, rounds: Int = Rounds,
      undIn: Option[DataFrame] = None): DataFrame = {
    val und = undIn.getOrElse(
      graft.core.SessionCache.transient(costEdges(weighted)))
    var dist = und.select(col("u").as("node")).distinct()
      .filter(col("node") % SeedMod === 0)
      .withColumn("cost_e6", lit(0L))
      .trackedCheckpoint()
    for (_ <- 1 to rounds) {
      val relaxed = und
        .join(dist.withColumnRenamed("node", "u"), Seq("u"))
        .select(col("v").as("node"),
          (col("cost_e6") + col("cost")).as("cost_e6"))
      dist = dist.unionByName(relaxed)
        .groupBy(col("node"))
        .agg(min(col("cost_e6")).cast("long").as("cost_e6"))
        .trackedCheckpoint()
    }
    dist.select(col("node").as("part"), col("cost_e6"))
  }
}
