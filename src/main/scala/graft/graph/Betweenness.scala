package graft.graph

import graft.core.SessionCache.Checkpointable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** X309: SAMPLED betweenness centrality (Brandes 2001 dependency
  * accumulation over a deterministic seed sample) — the BROKERAGE
  * measure the graph family was missing: rank (PageRank/HITS) scores
  * endorsement mass, cohesion (triangles/k-core) local density,
  * distance (BFS/harmonic) closeness, structure (LPA/SCC) membership
  * — none of them "how much shortest-path traffic FLOWS THROUGH this
  * node", the signal that finds bridge pages / hub suppliers whose
  * removal disconnects neighborhoods (the link-graph curation read:
  * a spam nexus scores high betweenness long before its rank grows).
  *
  * Exact-integer Brandes, quantized so both engines replay it
  * bit-for-bit (the operator is DEFINED as this quantization, the
  * X293 harmonic posture):
  *
  *  - FORWARD (per seed): the [[BfsHops.harmonicSampled]] frontier
  *    BFS carrying the shortest-path COUNT σ — round i discovers a
  *    node with `σ = Σ σ(predecessors in round i−1)` (an integer sum
  *    grouped per (seed, node) BEFORE the settled anti-join, so each
  *    edge is traversed once per (seed, discovery));
  *  - BACKWARD (levels deep → shallow, reusing the forward hop
  *    frames): the dependency in e6 micro-units,
  *    `δ_e6(u) = Σ_w (σ(u)·(10⁶ + δ_e6(w))) div σ(w)` over the BFS
  *    DAG successors w (level(w) = level(u)+1, edge u→w, same seed)
  *    — each term an integer floor-div both engines compute
  *    identically (all operands non-negative, div ≡ //), summed per
  *    (seed, node); the deepest level seeds the recursion with 0;
  *  - SCORE: `bc_e6(v) = Σ_seeds δ_e6(v)` over non-seed levels
  *    (level 0 holds exactly the seed, which Brandes excludes).
  *
  * Truncation is explicit and documented: the horizon is
  * [[BfsHops.Rounds]] BFS levels and the seed rate [[SeedMod]] — the
  * two scale knobs (Brandes-sampled betweenness is the standard
  * estimator precisely because exact betweenness needs all-pairs
  * BFS). The house double-space witnesses bound the σ sum and the
  * dependency product before they form.
  *
  * Scale shape: every step is a keyed equi-join or hash aggregate on
  * (seed, node) — state is bounded by |seeds|·|reachable|, each edge
  * traversed once per (seed, discovery) forward and once per
  * (seed, DAG membership) backward; per-round `localCheckpoint`
  * truncates the growing lineage (the CC-loop discipline). The
  * DuckDB oracle replays forward and backward as unrolled
  * MATERIALIZED CTEs (the X184 device). */
object Betweenness {

  /** Seed rate: every 100th supplier (the X293 sample predicate — a
    * map-side flag, never a collected list). THE scale knob: sample
    * error shrinks and cost grows linearly in the seed count. */
  val SeedMod = 100

  /** Per-(seed, level) frames of the forward σ-BFS: (seed, node,
    * sigma), levels 0..rounds; level frames are `localCheckpoint`ed
    * (or pinned by the caller-supplied `pin`, see
    * [[sharedForwardLevels]]) so the backward pass reuses them without
    * re-running the BFS. `pin` MUST materialize eagerly: each level
    * has several downstream consumers inside single actions, and a
    * lazily-persisted round frame was measured (r16) to race its own
    * materialization catastrophically. */
  private[graph] def forwardLevels(edges: DataFrame, deg: DataFrame,
      rounds: Int, seedMod: Int,
      pin: (DataFrame, Int) => DataFrame =
        (df, _) => df.trackedCheckpoint()): IndexedSeq[DataFrame] = {
    val seeds = pin(deg.select(col("src").as("node"))
      .filter(col("node") % 2 === 1 &&
        expr(s"(node div 2) % $seedMod") === 0)
      .select(col("node").as("seed"), col("node"),
        lit(1L).as("sigma")), 0)
    val levels = scala.collection.mutable.ArrayBuffer(seeds)
    var settled = seeds.select(col("seed"), col("node"))
    for (i <- 1 to rounds) {
      val frontier = levels(i - 1)
      val reached = pin(edges
        .join(frontier.withColumnRenamed("node", "src"),
          Seq("src"))
        .groupBy(col("seed"), col("dst"))
        .agg(count(lit(1)).cast("long").as("n_pred"),
          max(col("sigma")).cast("long").as("max_sig"),
          sum(col("sigma")).cast("long").as("sig"))
        .withColumnRenamed("dst", "node")
        .join(settled, Seq("seed", "node"), "left_anti")
        .select(col("seed"), col("node"),
          // double-space witness (the r13 #2 device): n·max proves
          // the σ sum never wrapped before it is trusted
          expr("coalesce(cast(assert_true(" +
            "cast(n_pred as double) * cast(max_sig as double) <= " +
            "9.0e18, 'betweenness sigma exceeds the Long-exact " +
            "range: lower the BFS horizon or move to decimal(38)')" +
            " as bigint), 0) + sig").as("sigma")), i)
      levels += reached
      settled = settled.unionByName(
        reached.select(col("seed"), col("node")))
    }
    levels.toIndexedSeq
  }

  /** Session-memoized forward σ-BFS level frames over the shared
    * purchase graph at `dir` — the family tier for the TWO queries
    * whose forward pass is identical: [[sampledBetweenness]] (which
    * consumes σ) and [[BfsHops.harmonicSampled]] (whose per-level
    * (seed, node) sets are provably the same: same seed predicate —
    * [[SeedMod]] = [[BfsHops.HarmonicSeedMod]] — and the same
    * frontier⋈edges → per-(seed,dst) collapse → settled anti-join
    * recurrence; harmonic's `distinct` and this pass's `groupBy` keep
    * the same key set, hops = the level index). A sweep pays the
    * 4-round BFS once instead of twice per pass.
    *
    * Lifetime mechanics (the [[graft.core.SessionCache]] release-timing
    * contract): each level is `trackedCheckpoint`ed first —
    * the per-round lineage truncation the loop needs regardless; a
    * level frame whose plan still chains `settled = ∪ prior levels`
    * grows combinatorially and was measured to triple the tier build
    * and slow BOTH consumers — then persisted through
    * [[graft.core.SessionCache]] and EAGERLY counted, all inside the
    * build call, i.e. before any end-of-query release can drop the
    * checkpoint blocks the persist materialized from. Consumers see a
    * flat IMR-over-LogicalRDD plan. Priced as its own
    * `[cache:graph.bfslevels]` Bench tier. */
  def sharedForwardLevels(spark: org.apache.spark.sql.SparkSession,
      dir: String): IndexedSeq[DataFrame] =
    graft.core.SessionCache.memo(spark, s"bfslevels:$dir") {
      val (e, g) = PageRank.sharedPurchaseGraph(spark, dir)
      forwardLevels(e, g, BfsHops.Rounds, SeedMod,
        pin = (df, i) => {
          val c = graft.core.SessionCache.cached(
            spark, s"bfslevels:$dir:$i")(df.trackedCheckpoint())
          c.count() // materialize before any release (contract above)
          c
        })
    }

  /** Level frames handed in as `levelsIn` are [[sharedForwardLevels]]'
    * (levels 0..[[BfsHops.Rounds]] at [[SeedMod]]); a caller asking for
    * another horizon or seed rate would silently read mismatched
    * frames, so it fails here instead. */
  private[graph] def checkLevels(levels: IndexedSeq[DataFrame],
      rounds: Int, seedMod: Int): Unit = {
    require(levels.size == rounds + 1, s"levelsIn holds ${levels.size} " +
      s"BFS levels but rounds = $rounds needs ${rounds + 1}")
    require(seedMod == SeedMod, s"levelsIn was built at seed rate " +
      s"$SeedMod, not $seedMod")
  }

  /** Brandes betweenness in e6 micro-units over arbitrary symmetric
    * `(src, dst)` edges with odd-node seeds (the purchase-graph
    * encoding). Output: one row per reached non-seed node with the
    * number of covering seeds and the accumulated dependency. */
  def sampledBetweenness(edges: DataFrame, deg: DataFrame,
      rounds: Int = BfsHops.Rounds,
      seedMod: Int = SeedMod,
      levelsIn: Option[IndexedSeq[DataFrame]] = None): DataFrame = {
    levelsIn.foreach(checkLevels(_, rounds, seedMod))
    val levels = levelsIn.getOrElse(
      forwardLevels(edges, deg, rounds, seedMod))
    // deepest level: no successors inside the horizon -> delta = 0
    var deltaNext = levels(rounds)
      .select(col("seed"), col("node"), col("sigma"),
        lit(0L).as("delta_e6"))
      .trackedCheckpoint()
    var acc = deltaNext.select(col("seed"), col("node"),
      col("delta_e6"))
    for (l <- rounds - 1 to 1 by -1) {
      val nxt = deltaNext.select(col("seed"), col("node").as("w"),
        col("sigma").as("sigma_w"), col("delta_e6").as("delta_w"))
      val cur = levels(l)
      val terms = cur
        .join(edges.select(col("src").as("node"), col("dst").as("w")),
          Seq("node"))
        .join(nxt, Seq("seed", "w"))
        .select(col("seed"), col("node"),
          // witness BEFORE the product forms: σ·(10⁶+δ) in double
          // space cannot wrap
          expr("coalesce(cast(assert_true(" +
            "cast(sigma as double) * (1.0e6 + " +
            "cast(delta_w as double)) <= 9.0e18, " +
            "'betweenness dependency exceeds the Long-exact range: " +
            "lower the seed rate or move to decimal(38)') as " +
            "bigint), 0) + " +
            "((sigma * (1000000 + delta_w)) div sigma_w)").as("term"))
        .groupBy(col("seed"), col("node"))
        .agg(count(lit(1)).cast("long").as("n_succ"),
          max(col("term")).cast("long").as("max_term"),
          sum(col("term")).cast("long").as("term_sum"))
        // the forward pass's n·max device again: prove the term SUM
        // never wrapped before it is trusted as this level's delta
        .select(col("seed"), col("node"),
          expr("coalesce(cast(assert_true(" +
            "cast(n_succ as double) * cast(max_term as double) <= " +
            "9.0e18, 'betweenness dependency sum exceeds the " +
            "Long-exact range: lower the seed rate or move to " +
            "decimal(38)') as bigint), 0) + term_sum").as("delta_e6"))
      val dl = cur.select(col("seed"), col("node"), col("sigma"))
        .join(terms, Seq("seed", "node"), "left")
        .select(col("seed"), col("node"), col("sigma"),
          coalesce(col("delta_e6"), lit(0L)).as("delta_e6"))
        .trackedCheckpoint()
      acc = acc.unionByName(
        dl.select(col("seed"), col("node"), col("delta_e6")))
      deltaNext = dl
    }
    acc.groupBy(col("node"))
      .agg(count(lit(1)).cast("long").as("n_seeds"),
        max(col("delta_e6")).cast("long").as("max_d"),
        sum(col("delta_e6")).cast("long").as("bc_sum"))
      .select(
        when(col("node") % 2 === 0, lit("customer"))
          .otherwise(lit("supplier")).as("kind"),
        expr("node div 2").cast("long").as("id"),
        col("n_seeds"),
        // and once more for the cross-seed rollup
        expr("coalesce(cast(assert_true(" +
          "cast(n_seeds as double) * cast(max_d as double) <= " +
          "9.0e18, 'betweenness score sum exceeds the Long-exact " +
          "range: lower the seed rate or move to decimal(38)') as " +
          "bigint), 0) + bc_sum").as("bc_e6"))
  }
}
