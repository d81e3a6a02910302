package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Blocked fuzzy entity matching (record linkage): canonicalize noisy
  * name variants by edit distance — the master-data cleaning step
  * behind the reference's key-scrub + mapping-join load path
  * (`pipeline/lib.py` transform_* key cleaning feeding the NOT-MAPPED
  * lookup, J2/J7): instead of failing unmapped DIRTY variants, map
  * each name to a canonical representative among its close-edit
  * neighbors.
  *
  * Scale design — the two standard record-linkage bounds, both
  * structural:
  *  1. Pairwise work runs over the DISTINCT name domain, never the
  *     row table: a 100 TB fact with 10⁵ distinct names does |D|²-
  *     bounded comparison work, and rows get their label back through
  *     one equi-join on the name key (broadcastable when the domain
  *     is small — Catalyst/AQE decides from the aggregate's size).
  *  2. Comparison is confined to BLOCKS (first name token): only
  *     same-block pairs are ever generated — the classic blocking
  *     guard against |D|² blow-up — and a per-block size assert fails
  *     loudly (house rule: no silent caps) instead of silently
  *     degrading to quadratic work on a degenerate blocking key.
  *
  * Determinism: `levenshtein` is exact and identical in both engines;
  * the representative is the lexicographic MIN over the close-edit
  * neighborhood including the name itself — order-free, so the oracle
  * replays it with a plain GROUP BY. One-hop neighborhoods (not
  * transitive closure) keep the semantics local and replayable; the
  * LSH cluster family (X3) is the transitive-closure tool when chains
  * matter. */
object FuzzyMatch {

  /** Maximum edit distance for two names to be considered variants. */
  val MaxLev = 4

  /** Per-block distinct-name bound, assert-guarded: a blocking key
    * this degenerate needs a better key, not silent quadratic work. */
  val MaxBlock = 4096L

  /** Canonical-name map for `(key, name)` rows: `(key, nm, rep)` with
    * `rep` = lexicographic min over {nm} ∪ {same-block names within
    * [[MaxLev]] edits}. `nameCol` is lowercased for matching. */
  def canonicalMap(rows: DataFrame, keyCol: String, nameCol: String,
      maxLev: Int = MaxLev): DataFrame = {
    val n = rows.select(col(keyCol).as("key"),
      lower(col(nameCol)).as("nm"))
    // distinct-domain table — all pairwise work happens below here
    val dn = graft.core.SessionCache.transient(
      n.groupBy(col("nm")).agg(count(lit(1)).as("n_rows"))
        .select(col("nm"),
          split(col("nm"), " ").getItem(0).as("blk")))
    // the guard lives in a FILTER (the asOf/pointInRange house
    // spelling), not a projected column — a pruned projection would
    // silently drop an assert-only column
    val guarded = dn.withColumn("blk_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("blk"))))
      .filter(expr(s"if (blk_n <= $MaxBlock, true, " +
        "isnull(raise_error('fuzzy blocking: block exceeds " +
        s"$MaxBlock distinct names ? use a more selective blocking " +
        "key')))"))
      .select(col("nm"), col("blk"))
    // |len(a)−len(b)| ≤ k is the classic edit-distance lower bound:
    // the cheap length gate runs BEFORE the O(len²) levenshtein, so
    // hopeless candidates never reach it — result-identical because
    // lev(a,b) ≥ |len(a)−len(b)| always
    val pairs = guarded
      .join(guarded.select(col("nm").as("cand"), col("blk")), Seq("blk"))
      .filter(col("nm") =!= col("cand") &&
        abs(length(col("nm")) - length(col("cand"))) <= maxLev &&
        levenshtein(col("nm"), col("cand")) <= maxLev)
    val rep = pairs.groupBy(col("nm"))
      .agg(least(col("nm"), min(col("cand"))).as("rep"))
    n.join(rep, Seq("nm"), "left")
      .select(col("key"), col("nm"),
        coalesce(col("rep"), col("nm")).as("rep"))
  }

  /** Weighted multi-field entity resolution (X175) — the
    * Fellegi–Sunter shape record linkage actually ships: single-field
    * edit distance ([[canonicalMap]], X149) cannot separate "same
    * person, typo'd name" from "different person, similar name";
    * agreement across SEVERAL fields, each weighted by how unlikely an
    * agreement is by chance, can. Per blocked candidate pair the score
    * sums integer field weights — name (exact outranks one
    * edit-or-swap via the native `graft_dl` expression), nation,
    * balance-within-a-dollar, segment — and pairs at or above the
    * threshold keep their per-field agreement decomposition (the
    * audit trail: WHY did these two link). Each left record keeps only
    * its best match (score desc, right key asc — deterministic).
    *
    * Scale: same two structural bounds as [[canonicalMap]] — work
    * confined to blocks, one window per left key for best-match; the
    * expensive comparator (edit distance) runs only inside blocks.
    * Weights are integers so the score replays exactly. */
  def entityResolve(left: DataFrame, right: DataFrame,
      threshold: Long = 50L): DataFrame = {
    val cand = left.join(right, Seq("blk"))
    val scored = cand.select(col("l_key"), col("r_key"),
      when(col("l_nm") === col("r_nm"), 40L)
        .when(graft.functions.StringExpressions
          .damerauLevenshtein(col("l_nm"), col("r_nm")) <= 1, 25L)
        .otherwise(0L).as("w_name"),
      when(col("l_nat") === col("r_nat"), 20L).otherwise(0L)
        .as("w_nation"),
      when(abs(col("l_cents") - col("r_cents")) <= 100L, 15L)
        .otherwise(0L).as("w_bal"),
      when(col("l_seg") === col("r_seg"), 10L).otherwise(0L)
        .as("w_seg"))
      .withColumn("score",
        col("w_name") + col("w_nation") + col("w_bal") + col("w_seg"))
      .filter(col("score") >= threshold)
    scored.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_key"))
          .orderBy(col("score").desc, col("r_key").asc)))
      .filter(col("rk") === 1)
      .drop("rk")
  }
}
