package graft.graph

import graft.core.SessionCache.Checkpointable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core extraction — the graph family's density leg (rank =
  * [[PageRank]], cohesion = [[Triangles]], structure = [[Communities]],
  * density = this): the k-core is the maximal subgraph in which every
  * node keeps degree ≥ k, computed by iteratively peeling nodes whose
  * degree falls below k. It is the standard "dense nucleus" filter for
  * link-graph curation: crawl-graph cores separate organically linked
  * sites from pendant spam chains, and co-purchase cores isolate the
  * stable product communities that survive after promotional one-off
  * edges peel away (reference scope: the engine's graph family over the
  * same derived co-purchase edges — cf. `pipeline/lib.py` job graph
  * derivations).
  *
  * Determinism/replayability contract (the [[Communities]] discipline):
  * a FIXED number of synchronous peeling rounds, no data-dependent
  * convergence test — so the oracle unrolls the identical rounds as
  * materialized CTEs and both engines compute the same survivor set
  * whether or not the fixture has converged. `KCoreSpec` proves the
  * fixture reaches the fixpoint within [[PeelRounds]] (round R and
  * R+1 survivors are identical), so the output IS the true k-core
  * there, and proves the peeling semantics on a hand-built
  * triangle-plus-pendant-chain graph.
  *
  * Scale shape: each round is two left-semi equi-joins (edge endpoints
  * against the current survivor set) and one keyed count — all
  * shuffle-partitioned by node id, no driver state, no neighborhood
  * materialization; a celebrity node costs its degree in count rows,
  * never a row set on one task. The survivor set only SHRINKS, so round
  * cost is monotone non-increasing; each round `localCheckpoint`s,
  * giving every iteration a materialized input instead of one deep
  * AQE-replanned DAG (the [[PageRank]]/[[Communities]] loop trade,
  * measured 2× faster there). At 100 TB the edge table would be
  * bucketed by `u` so every round's joins are shuffle-free. */
object KCore {

  /** Peel threshold: nodes below degree K leave the graph. */
  val K = 4

  /** Fixed synchronous peeling rounds. The co-purchase fixture reaches
    * its fixpoint in round 1 at every SF (minimum degree 38 ≥ K — the
    * basket graph is dense quasi-random, and such graphs have a SHARP
    * core transition: probing relative thresholds near the mean degree
    * either keeps everything or cascades to an empty core, so the
    * absolute-K contract with real peeling proven on the hand-built
    * spec graphs is the honest choice). Three rounds keep a
    * convergence margin without paying no-op semi-join rounds;
    * KCoreSpec asserts rounds R and R+1 agree on the fixture. */
  val PeelRounds = 3

  /** Nodes of the k-core after [[PeelRounds]] synchronous peels over
    * canonical `(a, b)` edges, with their degree inside the surviving
    * subgraph: `(part, core_deg)`. */
  def kCore(edges: DataFrame, k: Int = K,
      rounds: Int = PeelRounds): DataFrame =
    kCoreUnd(graft.core.SessionCache.transient(Triangles.undirected(edges)),
      k, rounds)

  /** [[kCore]] over an ALREADY-EXPANDED (and caller-persisted)
    * undirected edge frame `(u, v)` — the registry passes
    * [[Triangles.sharedUndirectedEdges]] so the expansion is built
    * once per sweep, not once per graph query. */
  def kCoreUnd(und: DataFrame, k: Int = K,
      rounds: Int = PeelRounds): DataFrame = {
    def degreesOver(survivors: DataFrame): DataFrame =
      und.join(survivors, Seq("u"), "left_semi")
        .join(survivors.select(col("u").as("v")), Seq("v"), "left_semi")
        .groupBy(col("u"))
        .agg(count(lit(1)).cast("long").as("deg"))
    // round 1 peels from the full node set — the survivor semi-joins
    // are no-op filters there, so degree comes straight off `und`
    var s = und.groupBy(col("u"))
      .agg(count(lit(1)).cast("long").as("deg"))
      .filter(col("deg") >= k).select(col("u")).trackedCheckpoint()
    var i = 1
    while (i < rounds) {
      s = degreesOver(s).filter(col("deg") >= k)
        .select(col("u")).trackedCheckpoint()
      i += 1
    }
    // report degree within the FINAL survivor set (at fixpoint every
    // reported core_deg is ≥ k; pre-fixpoint the recompute keeps both
    // engines honest about the same induced subgraph)
    degreesOver(s).join(s, Seq("u"), "left_semi")
      .select(col("u").as("part"), col("deg").as("core_deg"))
  }
}
