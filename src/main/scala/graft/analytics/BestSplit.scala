package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact best-split finder for a binary label over a numeric feature
  * (X208) — CART's inner loop (Breiman et al. 1984) run as a
  * distributed query: every distinct feature value is a candidate
  * threshold, and the chosen split maximizes the purity score
  * `Σ_side (c₀² + c₁²) div n_side` — the integer form of
  * `n·(1 − weighted Gini impurity)` (higher = purer children). The
  * floor division is the operator's defined quantization, identical
  * in any engine; ties break to the SMALLEST threshold. This is the
  * feature-quality primitive behind "is this column worth splitting /
  * stratifying / routing on" in a curation pipeline (decision-stump
  * probing, univariate feature screening), not a full tree learner.
  *
  * Scale shape: class counts reduce to feature-VALUE grain first
  * (map-side combinable — the candidate set is the value domain,
  * never the row count), the left-accumulations come from TWO
  * distributed prefix scans over that domain
  * ([[graft.operators.PrefixScan]] — never an empty-key window), and
  * the argmax is a scalar aggregate plus a min-threshold refinement.
  * Long-exactness asserted at n ≤ 3.03·10⁹ rows (c² fits). */
object BestSplit {

  /** `label` must be 0/1. Output (1 row): `(split_at, n_left,
    * n_right, score, parent_score, gain)` — split is `feature ≤
    * split_at`; `gain = score − parent_score` (floor-quantized, so a
    * worthless split can show a slightly negative gain). */
  def bestSplit(df: DataFrame, feature: Column,
      label: Column): DataFrame = {
    // persisted: the value-grain counts feed BOTH the 1-row total and
    // the prefix scan — without the boundary the fact scan + aggregate
    // run twice (the scan's internal range-repartition cache does not
    // cover the total side)
    val byVal = graft.core.SessionCache.transient(
      df.select(feature.cast("long").as("v"),
        label.cast("long").as("y"))
      .groupBy(col("v"))
      .agg(count(lit(1)).cast("long").as("a"),
        sum(col("y")).cast("long").as("a1")))
    val tot = byVal.agg(sum(col("a")).cast("long").as("n"),
      sum(col("a1")).cast("long").as("n1"))
    val l = graft.operators.PrefixScan
      .prefixAgg(byVal, Seq("v"), "a", "sum", "nl", "nl_x")
    val cum = graft.operators.PrefixScan
      .prefixAgg(l, Seq("v"), "a1", "sum", "l1", "l1_x")
      .crossJoin(broadcast(tot))
    val scored = graft.core.SessionCache.transient(cum
      .filter(col("nl") < col("n")) // right side must be non-empty
      .select(col("v"), col("nl"), col("l1"), col("n"), col("n1"),
        expr("coalesce(cast(assert_true(n <= 3037000499, " +
          "'split class squares exceed the Long-exact range: move " +
          "to decimal(38)') as bigint), 0) + " +
          "((nl - l1) * (nl - l1) + l1 * l1) div nl + " +
          "((n - n1 - nl + l1) * (n - n1 - nl + l1) + " +
          "(n1 - l1) * (n1 - l1)) div (n - nl)").as("score")))
    val mx = scored.agg(max(col("score")).as("best"))
    scored.crossJoin(broadcast(mx))
      .filter(col("score") === col("best"))
      .groupBy(col("n"), col("n1"), col("best"))
      .agg(min(col("v")).cast("long").as("split_at"),
        min_by(col("nl"), col("v")).cast("long").as("n_left"))
      .select(col("split_at"), col("n_left"),
        (col("n") - col("n_left")).cast("long").as("n_right"),
        col("best").cast("long").as("score"),
        expr("((n - n1) * (n - n1) + n1 * n1) div n").cast("long")
          .as("parent_score"))
      .withColumn("gain",
        (col("score") - col("parent_score")).cast("long"))
  }
}
