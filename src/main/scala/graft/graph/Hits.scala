package graft.graph

import graft.core.SessionCache.Checkpointable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Integer-exact HITS hubs/authorities (X257, Kleinberg 1999 JACM —
  * "Authoritative sources in a hyperlinked environment") over the
  * DIRECTED purchase bipartite graph: customer → supplier edges from
  * `orders ⋈ lineitem`. Where PageRank (X81) scores global centrality
  * on the symmetrized graph, HITS decomposes the DIRECTED roles — a
  * hub is good because it points at good authorities, an authority
  * because good hubs point at it (the catalog-page vs
  * frequently-bought-item split; in a crawl-curation pipeline, the
  * link-directory vs content-page split that decides which side feeds
  * the quality corpus).
  *
  * Update, in integer micro-units (the X81 discipline): per round
  * `auth_raw(v) = Σ_{u→v} hub(u)`, then normalization BY THE MAX in
  * floor arithmetic `auth(v) = auth_raw·10⁶ div max(auth_raw)`
  * (classic HITS normalizes by the L2 norm — a cross-engine-unsafe
  * sqrt; max-normalization is the standard power-iteration alternative
  * and keeps every value an exactly-replayable integer in [0, 10⁶]),
  * and symmetrically for hubs against the fresh authority scores.
  * The multiply-then-divide is guarded by `assert_true` (the
  * [[graft.similarity.Similarity.dimStats]] discipline): raw mass
  * beyond ~9.2·10¹² µunits would wrap `raw·10⁶` silently in Spark
  * where DuckDB's HUGEINT CAST errors — the guard trips loudly in
  * both engines long before (max in-degree ≈ 9.2·10⁶).
  *
  * Scale shape: one round = two equi-joins of the edge list with a
  * node-score table + two keyed sums + two 1-row max aggregates
  * broadcast back (BroadcastNestedLoopJoin on a single row — the
  * documented scalar-broadcast pattern, never a shuffle). Linear in
  * |E| per round, no adjacency collected; per-round frames persist
  * lazily (see [[Hits.normalized]] for the measured rationale). The
  * DuckDB oracle unrolls the same rounds as MATERIALIZED CTEs from
  * the same constants.
  */
object Hits {

  val Iters = 3
  val BaseE6 = 1000000L
  /** `raw ≤ MaxMass` keeps `raw·10⁶` inside Long (9.2·10¹⁸). */
  val MaxMass = 9.0e12

  /** `cs`: directed customer→supplier edges (node encoding as in
    * [[PageRank]]: customers at 2·key, suppliers at 2·key+1). Pass the
    * even-src half of [[PageRank.sharedPurchaseGraph]]'s symmetrized
    * cache so a Bench/Verify sweep reuses the family materialization.
    * `sc`: the REVERSED edge set (supplier→customer, i.e. the odd-src
    * half of the same symmetrized cache). The hub update sums authority
    * over each customer's out-edges — keyed by `dst` on `cs`, but by
    * `src` on `sc` (identical edge multiset, roles swapped), so passing
    * the tier's odd half lets BOTH per-round joins reuse the cache's
    * src hash-partitioning instead of re-shuffling the edge list by
    * dst every round. Defaults to a projection flip of `cs` (same
    * rows; ad-hoc callers keep the single-argument contract). */
  def purchaseHits(cs: DataFrame, iters: Int = Iters,
      sc: Option[DataFrame] = None): DataFrame = {
    val rev = sc.getOrElse(
      cs.select(col("dst").as("src"), col("src").as("dst")))
    var hub = cs.select(col("src").as("node")).distinct()
      .withColumn("s", lit(BaseE6))
      .trackedCheckpoint()
    var auth: DataFrame = hub.limit(0)
    for (_ <- 1 to iters) {
      auth = normalized(
        cs.join(hub.withColumnRenamed("node", "src"), Seq("src"))
          .groupBy(col("dst")).agg(sum(col("s")).cast("long").as("raw"),
            count(lit(1)).cast("long").as("deg"))
          .withColumnRenamed("dst", "node"))
      hub = normalized(
        rev.join(auth.withColumnRenamed("node", "src"), Seq("src"))
          .groupBy(col("dst")).agg(sum(col("s")).cast("long").as("raw"),
            count(lit(1)).cast("long").as("deg"))
          .withColumnRenamed("dst", "node"))
    }
    hub.select(lit("customer").as("kind"),
        expr("node div 2").cast("long").as("id"),
        col("s").as("hub_e6"), lit(0L).as("auth_e6"))
      .unionByName(auth.select(lit("supplier").as("kind"),
        expr("node div 2").cast("long").as("id"),
        lit(0L).as("hub_e6"), col("s").as("auth_e6")))
  }

  /** Max-normalize `raw` to [0, 10⁶] in floor arithmetic; 1-row max
    * broadcast, overflow guard. `raw` is EAGERLY `localCheckpoint`ed
    * first: it is read twice (the max aggregate and the normalize
    * join), so an unmaterialized plan doubles per round — 2^rounds
    * recompute of the base — and a LAZY persist was measured to OOM
    * the sf0.1 bench JVM (every round's broadcast subplan then nests
    * the full prior lineage inside one query tree). Two synchronized
    * jobs per round at a fixed small `iters` is the documented cost
    * of keeping both engines' arithmetic replayable. */
  private def normalized(rawIn: DataFrame): DataFrame = {
    val raw = rawIn.trackedCheckpoint()
    raw.join(broadcast(
        raw.agg(greatest(max(col("raw")), lit(1L)).as("m"))))
      .select(col("node"),
        // Pre-overflow witness (VERDICT r13 #2): scores are ≤ 10⁶ by
        // the max-normalization invariant, so deg·10⁶ bounds each
        // node's raw sum in double space BEFORE a wrap — checking
        // only max(raw) cannot see a node whose sum wrapped negative
        // (it simply stops being the max). The MaxMass check on the
        // max then runs on trustworthy sums and covers every raw.
        expr("coalesce(cast(assert_true(" +
          "cast(deg as double) * 1.0e6 <= 9.0e18 and " +
          s"cast(m as double) <= $MaxMass, " +
          "'HITS mass exceeds the Long-exact range') " +
          "as bigint), 0) + (raw * 1000000 div m)")
          .cast("long").as("s"))
  }
}
