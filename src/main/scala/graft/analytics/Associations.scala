package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket association rules (support / confidence / lift — the
  * Agrawal-Srikant frequent-pair core): which items co-occur in the
  * same order beyond chance, and in which DIRECTION the implication
  * runs. The recommendation/affinity leg of the co-purchase family —
  * [[graft.graph.Triangles]] measures the graph's shape, this scores
  * individual item→item rules. (Reference scope: the engine's
  * analytics families over the orders/lineitem star.)
  *
  * All three metrics are exact integers so the oracle hash-matches:
  * support = raw pair count, confidence(a→b) = `(n_ab·10⁶) div n_a`,
  * and lift·10⁶ = `(n_ab·10⁶·N) div (n_a·n_b)` with the
  * [[graft.text.CorpusStats.guardedLiftE6]]-style per-row overflow
  * assert (safe while n_ab·10⁶ and n_a·n_b stay under 2⁶³; a corpus
  * past that bound shards the counts or moves to decimal(38) — the
  * guard fails loudly, never wraps).
  *
  * Scale shape: the pair count is the per-order self-join bounded by
  * (basket size)², never corpus² (the [[graft.graph.Triangles]]
  * derivation WITHOUT the distinct — multiplicity is the support
  * count); item supports are one keyed aggregate; the total-order
  * count is a 1-row broadcast. The support threshold prunes BEFORE
  * the metric join, so rule scoring touches only surviving pairs. */
object Associations {

  /** Minimum pair support for a reported rule. */
  val MinSupport = 2L

  /** Directed rules `(ant, cons, n_pair, n_ant, conf_e6, lift_e6)`
    * over `(l_orderkey, l_partkey)` baskets: one row per direction of
    * each surviving unordered pair. */
  def basketRules(lineitem: DataFrame,
      minSupport: Long = MinSupport): DataFrame = {
    val op = graft.core.SessionCache.transient(
      lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct())
    val nOrders = op.agg(countDistinct(col("ok")).cast("long").as("n_orders"))
    val itemSup = graft.core.SessionCache.transient(
      op.groupBy(col("p")).agg(count(lit(1)).cast("long").as("n_item")))
    val pairs = op.select(col("ok"), col("p").as("a"))
      .join(op.select(col("ok"), col("p").as("b")), Seq("ok"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).cast("long").as("n_pair"))
      .filter(col("n_pair") >= minSupport)
    val directed = pairs
      .select(col("a").as("ant"), col("b").as("cons"), col("n_pair"))
      .unionByName(pairs
        .select(col("b").as("ant"), col("a").as("cons"), col("n_pair")))
    directed
      .join(itemSup.select(col("p").as("ant"), col("n_item").as("n_ant")),
        Seq("ant"))
      .join(itemSup.select(col("p").as("cons"), col("n_item").as("n_cons")),
        Seq("cons"))
      .crossJoin(broadcast(nOrders))
      .select(col("ant"), col("cons"), col("n_pair"), col("n_ant"),
        expr("(n_pair * 1000000) div n_ant").as("conf_e6"),
        expr("coalesce(cast(assert_true(" +
          "n_pair <= (9223372036854775807 div 1000000) div n_orders" +
          " and n_ant <= 9223372036854775807 div n_cons," +
          " 'basket lift exceeds the Long-exact range " +
          "(n_pair*1e6*N or n_ant*n_cons > 2^63-1): shard the " +
          "counts or move to decimal(38)') as bigint), 0)" +
          " + ((n_pair * 1000000 * n_orders) div (n_ant * n_cons))")
          .as("lift_e6"))
  }
}
