package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** KMV (k-minimum-values) distinct-count sketch — the mergeable
  * cardinality estimator whose ESTIMATE is exactly replayable, unlike
  * HLL: hash every value with the repo's deterministic md5-hex8
  * integer (uniform on [0, 2³²)), keep each group's k smallest
  * distinct hashes, and estimate distinct = (k−1)·2³² / h_k (the k-th
  * minimum). Groups that never fill their sketch (< k distinct
  * hashes) report their EXACT distinct count. Bar-Yossef et al. 2002;
  * the same estimator DataSketches ships as theta sketches.
  *
  * Next to the engine's `hll_sketch_agg` rollup this adds the sketch
  * whose every output bit both engines can recompute: hash, rank,
  * ratio are all integer arithmetic, so the DuckDB oracle replays the
  * estimator itself rather than only sanity-checking it.
  *
  * MERGE is set union + re-truncate: the k smallest of the union of
  * per-group k-min sets equal the k smallest of the union of the FULL
  * hash sets (anything evicted from a group sketch is larger than k
  * survivors, so it cannot enter the merged top-k). The `__all__` row
  * is that merge across every group — the cross-slice rollup a
  * pre-aggregated sketch store serves without rescanning facts.
  *
  * Scale: one distinct on (group, hash), then [[TopKPerKey]]'s bounded
  * per-partition heaps (at most k·partitions rows per group move in
  * the rank shuffle, never the whole group). No unbounded
  * collect_set, no driver state. */
object KmvSketch {

  val K = 128
  val HashSpan = 4294967296L // 2^32

  /** Sliding-window distinct-count via KMV MERGE — the problem exact
    * methods cannot decompose (distinct is not subtractable, so a
    * 7-day rolling COUNT(DISTINCT) recomputes every window from raw
    * rows): per-day k-min sets build once, each day's set contributes
    * to the `windowDays` windows that contain it (a bounded ×w
    * explode of k-row sketches, never of raw data), and each window
    * re-truncates the union — lossless per the merge property. At
    * 100 TB the raw rows are touched ONCE; everything sliding happens
    * on sketch-sized frames. Emits
    * `(window_day, n_kept, kth_hash, est_distinct)` for every window
    * end any present day contributes to (leading/trailing partial
    * windows included — deterministic, and the oracle replays the
    * same frame). */
  def kmvRolling(df: DataFrame, tsCol: String, value: String,
      k: Int = K, windowDays: Int = 7): DataFrame = {
    val h = expr(s"CAST(conv(substring(md5(CAST($value AS STRING)), " +
      "1, 8), 16, 10) AS BIGINT)")
    val dh = df.select(
      expr(s"unix_micros($tsCol) div 86400000000").as("day"),
      h.as("h")).distinct().withColumn("nh", -col("h"))
    val daily = TopKPerKey.topKPerKey(dh, Seq("day"), "nh", "h", k)
      .select(col("day"), col("nh"), col("h"))
    val contrib = daily
      .select(explode(sequence(col("day"),
        col("day") + (windowDays - 1))).as("window_day"),
        col("nh"), col("h"))
      .distinct() // the same hash may arrive from several member days
    val kept = TopKPerKey
      .topKPerKey(contrib, Seq("window_day"), "nh", "h", k)
    val estNum = (k - 1).toLong * HashSpan
    kept.groupBy(col("window_day"))
      .agg(count(lit(1)).cast("long").as("n_kept"),
        max(col("h")).cast("long").as("kth_hash"))
      .select(col("window_day"), col("n_kept"), col("kth_hash"),
        when(col("n_kept") < k, col("n_kept"))
          .otherwise(expr(s"$estNum div greatest(kth_hash, 1)"))
          .cast("long").as("est_distinct"))
  }

  /** KMV SET ALGEBRA — the theta-sketch feature: distinct-count
    * estimates for two sets AND their union/intersection from two
    * k-min sketches alone (exact distinct intersection is a full
    * equi-join of both raw sets; this is two sketch scans). The
    * intersection device: θ = the union sketch's k-th minimum; every
    * union-kept hash h ≤ θ decides membership in A EXACTLY via A's
    * sketch (θ ≤ θ_A because A ⊆ A∪B, so A's sketch holds ALL of A's
    * hashes up to θ), and the surviving both-members count scales by
    * the sampling density: est_∩ = n_both · 2³² div θ. Under-filled
    * union sketches degrade to EXACT set algebra (the kept sets are
    * the full sets). One row out; all integer arithmetic.
    *
    * The two 1-row aggregates assemble via broadcast cross join —
    * the PlanAudit JustifiedCross class. */
  def kmvSetOps(df: DataFrame, typeCol: String, value: String,
      keyA: String, keyB: String, k: Int = 32): DataFrame = {
    val h = expr(s"CAST(conv(substring(md5(CAST($value AS STRING)), " +
      "1, 8), 16, 10) AS BIGINT)")
    val dh = df.filter(col(typeCol).isin(keyA, keyB))
      .select(col(typeCol).as("grp"), h.as("h")).distinct()
      .withColumn("nh", -col("h"))
    val kept = graft.core.SessionCache.transient(
      TopKPerKey.topKPerKey(dh, Seq("grp"), "nh", "h", k)
        .select(col("grp"), col("nh"), col("h")))
    val uk = graft.core.SessionCache.transient(
      TopKPerKey.topKPerKey(
        kept.select(lit("u").as("grp"), col("nh"), col("h")).distinct(),
        Seq("grp"), "nh", "h", k)
        .select(col("h")))
    val estNum = (k - 1).toLong * HashSpan
    def estOf(pre: String) =
      when(col(s"n_$pre") < k, col(s"n_$pre"))
        .otherwise(expr(s"$estNum div greatest(theta_$pre, 1)"))
        .cast("long").as(s"est_$pre")
    val aAgg = kept.filter(col("grp") === keyA)
      .agg(count(lit(1)).cast("long").as("n_a"),
        max(col("h")).cast("long").as("theta_a"))
    val bAgg = kept.filter(col("grp") === keyB)
      .agg(count(lit(1)).cast("long").as("n_b"),
        max(col("h")).cast("long").as("theta_b"))
    val uAgg = uk.agg(count(lit(1)).cast("long").as("n_u"),
      max(col("h")).cast("long").as("theta_u"))
    val both = uk
      .join(kept.filter(col("grp") === keyA).select(col("h")), Seq("h"),
        "left_semi")
      .join(kept.filter(col("grp") === keyB).select(col("h")), Seq("h"),
        "left_semi")
      .agg(count(lit(1)).cast("long").as("n_both"))
    aAgg.crossJoin(broadcast(bAgg)).crossJoin(broadcast(uAgg))
      .crossJoin(broadcast(both))
      .select(col("n_a"), estOf("a"), col("n_b"), estOf("b"),
        col("n_u"), col("theta_u"), estOf("u"), col("n_both"),
        when(col("n_u") < k, col("n_both"))
          .otherwise(expr(s"(n_both * $HashSpan) div " +
            "greatest(theta_u, 1)"))
          .cast("long").as("est_intersection"))
  }

  /** `(group, n_kept, kth_hash, est_distinct)` per group plus the
    * merged `__all__` row. */
  def kmvDistinct(df: DataFrame, key: String, value: String,
      k: Int = K): DataFrame = {
    val h = expr(s"CAST(conv(substring(md5(CAST($value AS STRING)), " +
      "1, 8), 16, 10) AS BIGINT)")
    val dh = df.select(col(key).cast("string").as("grp"), h.as("h"))
      .distinct()
      .withColumn("nh", -col("h")) // TopKPerKey keeps LARGEST ord
    val kept = TopKPerKey.topKPerKey(dh, Seq("grp"), "nh", "h", k)
      .select(col("grp"), col("nh"), col("h"))
    val mergedKept = TopKPerKey.topKPerKey(
      kept.select(lit("__all__").as("grp"), col("nh"), col("h"))
        .distinct(),
      Seq("grp"), "nh", "h", k)
      .select(col("grp"), col("nh"), col("h"))
    val estNum = (k - 1).toLong * HashSpan
    kept.unionByName(mergedKept)
      .groupBy(col("grp"))
      .agg(count(lit(1)).cast("long").as("n_kept"),
        max(col("h")).cast("long").as("kth_hash"))
      .select(col("grp").as(key), col("n_kept"), col("kth_hash"),
        when(col("n_kept") < k, col("n_kept"))
          .otherwise(expr(s"$estNum div greatest(kth_hash, 1)"))
          .cast("long").as("est_distinct"))
  }
}
