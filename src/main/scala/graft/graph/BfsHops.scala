package graft.graph

import graft.core.CheckpointBay.Checkpointable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Seed-set BFS hop distance — the reachability DEPTH primitive the
  * graph family was missing: rank (PageRank/X184), cohesion (k-core),
  * structure (triangles/communities) and density (assortativity) exist,
  * but "which customers sit within k hops of this supplier set"
  * (crawl-depth labeling, blast-radius analysis, recall-set expansion)
  * needs the minimum hop count itself, not a damped mass.
  *
  * Frontier-based distributed BFS, the scale-correct form: round i
  * joins the EDGES with only the round-(i−1) frontier (nodes first
  * discovered last round), so across the whole run each edge is
  * traversed once per discovery of its source — never |E| work per
  * round the way full-relaxation (`dist ⋈ edges` every round) pays.
  * The anti-join against the settled set is what keeps hops minimal:
  * a node re-reached later is already in `dist` and is dropped. Fixed
  * round count (the graph is bipartite customer↔supplier, so 4 rounds
  * reach both sides twice — diameter-covering on the fixture), with
  * `localCheckpoint` per round truncating the growing lineage (the
  * [[graft.dedup.Dedup]] CC-loop discipline). Hop values are assigned
  * from the round counter — pure integers, no tie-breaking needed,
  * identical in any engine — so the DuckDB oracle replays the exact
  * frontier sequence as unrolled MATERIALIZED CTEs (the X184 device).
  *
  * Reference-free addition (SURVEY §2.11 X188): the reference has no
  * graph operator; this is the training-data-pipeline reachability
  * signal re-expressed Spark-first.
  */
object BfsHops {

  /** Fixed BFS depth — interpolated into the oracle SQL so both
    * engines unroll the identical round count. */
  val Rounds = 4

  /** Seed set: every 10th supplier (X184's deterministic, SF-invariant
    * seed predicate — a map-side flag, never a collected list). Output
    * is one row per REACHED node: (kind, id, hops), hops = 0 on seeds.
    * Unreached nodes are absent (correctly: their distance is ∞). */
  def seedHops(orders: DataFrame, lineitem: DataFrame,
      rounds: Int = Rounds,
      graph: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val (edges, deg) = graph.getOrElse(
      PageRank.purchaseGraph(orders, lineitem))
    var dist = deg.select(col("src").as("node"))
      .filter(col("node") % 2 === 1 && expr("(node div 2) % 10") === 0)
      .withColumn("hops", lit(0L))
      .trackedCheckpoint()
    var frontier = dist.select(col("node"))
    for (i <- 1 to rounds) {
      val reached = edges
        .join(frontier.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(dist, Seq("node"), "left_anti")
        .withColumn("hops", lit(i.toLong))
        .trackedCheckpoint()
      // dist is a union of ALREADY-checkpointed rounds — flat lineage
      // without a second eager materialization per round
      dist = dist.unionByName(reached)
      frontier = reached.select(col("node"))
    }
    dist.select(
      when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
        .as("kind"),
      expr("node div 2").cast("long").as("id"),
      col("hops").cast("long").as("hops"))
  }

  /** Sampling rate for [[harmonicSampled]]'s seed set — every 100th
    * supplier, so the seed count (= the Eppstein–Wang sample size)
    * grows with the graph while the per-round frontier stays
    * seeds × |reachable|. */
  val HarmonicSeedMod = 100

  /** X293: SAMPLED harmonic centrality (Eppstein & Wang 2001) — the
    * per-node closeness read the X188 single-source set cannot give:
    * exact harmonic centrality needs all-pairs BFS, so the standard
    * large-graph estimator BFS's from a node SAMPLE and scores every
    * node by `Σ_seeds 1/d(seed, node)` — here in exact integer
    * micro-units (`Σ 1e6 div hops`, hop counts are integers, so the
    * estimator replays identically in any engine; the estimate's only
    * error is the SAMPLING, which the deterministic seed predicate
    * makes reproducible too).
    *
    * Same frontier BFS as [[seedHops]] with the state keyed by
    * (seed, node): each edge is traversed once per (seed, discovery),
    * the anti-join keeps hops minimal per seed, `localCheckpoint`
    * truncates the per-round lineage. Frontier size is bounded by
    * |seeds|·|nodes| — the sample rate is the scale knob. */
  def harmonicSampled(orders: DataFrame, lineitem: DataFrame,
      rounds: Int = Rounds,
      graph: Option[(DataFrame, DataFrame)] = None,
      levelsIn: Option[IndexedSeq[DataFrame]] = None): DataFrame = {
    // the estimator only needs each node's FIRST-discovery level per
    // seed — exactly the per-level (seed, node) sets of the σ-BFS the
    // betweenness query runs over the same seed predicate
    // ([[Betweenness.sharedForwardLevels]] proves set equality), so
    // when the session tier is handed in, hops = the level index and
    // the whole BFS below is skipped
    val dist = levelsIn match {
      case Some(levels) =>
        Betweenness.checkLevels(levels, rounds, HarmonicSeedMod)
        (1 to rounds).map(i => levels(i)
          .select(col("seed"), col("node"), lit(i.toLong).as("hops")))
          .reduce(_ unionByName _)
      case None => harmonicDist(orders, lineitem, rounds, graph)
    }
    dist
      .groupBy(col("node"))
      .agg(count(lit(1)).cast("long").as("n_sources"),
        sum(expr("1000000 div hops")).cast("long").as("harm_e6"))
      .select(
        when(col("node") % 2 === 0, lit("customer"))
          .otherwise(lit("supplier")).as("kind"),
        expr("node div 2").cast("long").as("id"),
        col("n_sources"), col("harm_e6"))
  }

  /** The stand-alone (seed, node, hops > 0) frontier BFS behind
    * [[harmonicSampled]] — the path taken when no shared level tier is
    * handed in (tests, ad-hoc frames). */
  private def harmonicDist(orders: DataFrame, lineitem: DataFrame,
      rounds: Int, graph: Option[(DataFrame, DataFrame)]): DataFrame = {
    val (edges, deg) = graph.getOrElse(
      PageRank.purchaseGraph(orders, lineitem))
    var dist = deg.select(col("src").as("node"))
      .filter(col("node") % 2 === 1 &&
        expr(s"(node div 2) % $HarmonicSeedMod") === 0)
      .select(col("node").as("seed"), col("node"),
        lit(0L).as("hops"))
      .trackedCheckpoint()
    var frontier = dist.select(col("seed"), col("node"))
    for (i <- 1 to rounds) {
      val reached = edges
        .join(frontier.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("seed"), col("dst").as("node")).distinct()
        .join(dist, Seq("seed", "node"), "left_anti")
        .withColumn("hops", lit(i.toLong))
        .trackedCheckpoint()
      dist = dist.unionByName(
        reached.select(col("seed"), col("node"), col("hops")))
      frontier = reached.select(col("seed"), col("node"))
    }
    dist.filter(col("hops") > 0)
  }
}
