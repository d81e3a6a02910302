package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom-filter semi-join pruning — the pre-SHUFFLE fact reduction
  * behind every engine's runtime row filtering (Spark's own
  * InjectRuntimeFilter, Iceberg/Delta dynamic file pruning): when a
  * fact table semi-joins a selective dimension, the shuffle should
  * move only fact rows whose key MIGHT match, not the whole fact. The
  * dimension's keys fold into an m-bit Bloom filter (k deterministic
  * hashes); the fact side tests all k bits as a plain codegen'd
  * predicate BEFORE its exchange, and the exact semi-join afterwards
  * removes the false positives — result identity with the plain
  * semi-join is the operator's contract (and its oracle), the filter
  * only changes HOW MUCH data reaches the shuffle.
  *
  * Scale shape: the filter build is one distinct at bit-position
  * grain (≤ min(k·|dim|, m) rows — a BOUNDED driver collect, capped
  * by the filter size m independent of dimension size), and the fact
  * test is k O(1) InSet probes of per-row map work. Hashes are the
  * repo's deterministic md5-hex8 integers with a per-hash salt, so
  * the same build replays bit-for-bit anywhere.
  */
object BloomPrune {

  /** Filter size in bits (2^16 → 1024 longs) and hash count. At the
    * default load (n/m ≈ 0.03 for a 2k-key dimension) the false-
    * positive rate is well under 1%; production sizes m to the
    * dimension's key count — the collect stays m/64 rows either way. */
  val FilterBits = 65536
  val NumHashes = 3

  /** SQL text of hash j's bit position for `key` — kept as a SQL
    * string so both the build and the test side splice it into larger
    * integer expressions (shiftleft's Scala-API numBits is Int-only). */
  private def posSql(key: String, j: Int, bits: Int): String =
    s"(CAST(conv(substring(md5(concat(CAST($key AS STRING), ':$j'))," +
      s" 1, 8), 16, 10) AS BIGINT) % $bits)"

  /** Rows of `fact` whose `factKey` passes the Bloom filter built from
    * `dim`'s `dimKey` — a SUPERSET of the true semi-join (false
    * positives possible, false negatives impossible); chain the exact
    * semi-join after it for equality semantics. */
  def bloomFilteredFact(fact: DataFrame, factKey: String,
      dim: DataFrame, dimKey: String, bits: Int = FilterBits,
      hashes: Int = NumHashes): DataFrame = {
    require(hashes > 0 && bits >= 64 && bits % 64 == 0,
      "bloomFilteredFact: hashes > 0 and bits a positive multiple of 64")
    // the filter is carried as the SET of set-bit positions and tested
    // with an O(1) InSet hash probe: the position expression then
    // appears ONCE per hash. The word-array + AND-mask spelling needed
    // the position twice (word index and bit mask) and Catalyst
    // re-inlines any attempt to project it first (PushPredicateThrough-
    // Project substitutes aliases), so the md5 chain evaluated 2k times
    // per row instead of k — measured in the r17 before-plan, 12 md5
    // calls in the filter condition. The InSet node is built directly
    // (one expression carrying one Set) rather than via `isin`: a
    // k·|dim|-literal In list costs the analyzer/optimizer a tree walk
    // per literal per rule — measured +0.3 s of pure plan time on
    // maint_bloom_fpr. Membership semantics are identical (p passes
    // iff bit p is set), so the pass superset — and with it
    // maint_bloom_fpr's measured counts — is bit-for-bit unchanged.
    val positions = dim
      .select(explode(array((0 until hashes).map(j =>
        expr(posSql(dimKey, j, bits))): _*)).as("pos"))
      .distinct()
      .collect().map(_.getLong(0))
    val posSet: Set[Any] = positions.map(Long.box(_): Any).toSet
    val pass = (0 until hashes)
      .map { j =>
        org.apache.spark.sql.graft.ColumnShim.column(
          org.apache.spark.sql.catalyst.expressions.InSet(
            org.apache.spark.sql.graft.ColumnShim.expression(
              expr(posSql(factKey, j, bits))), posSet))
      }
      .reduce(_ && _)
    fact.filter(pass)
  }

  /** The full pruned semi-join: Bloom pre-filter, then the exact
    * semi-join that removes false positives. Result-identical to
    * `fact.join(dim, key, "left_semi")` by construction. */
  def prunedSemiJoin(fact: DataFrame, factKey: String, dim: DataFrame,
      dimKey: String, bits: Int = FilterBits,
      hashes: Int = NumHashes): DataFrame =
    bloomFilteredFact(fact, factKey, dim, dimKey, bits, hashes)
      .join(dim.select(col(dimKey).as(factKey)).distinct(),
        Seq(factKey), "left_semi")

  /** Measured false-positive-rate audit of the Bloom pre-filter
    * (X226) — the number that says whether the filter is SIZED right:
    * the theoretical FPR formula assumes ideal hashes, but what a
    * capacity planner needs is the measured rate on the real key
    * domain ("this filter passes 40% of non-matching keys — the
    * pre-shuffle reduction we're paying for isn't happening; grow m
    * or drop the filter"). Over the DISTINCT fact-key domain: total
    * keys, true members, Bloom passes, false positives (passes minus
    * members — false negatives are impossible by construction) and
    * the integer-ppm FPR among the non-member keys.
    *
    * Scale shape: one distinct to key grain (the only fact-sized
    * shuffle, reused by all three counts via the per-query cache),
    * the same bounded m/64-word filter build as
    * [[bloomFilteredFact]], one exact semi-join for ground truth,
    * three 1-row aggregates assembled by broadcast cross join. */
  def bloomFprAudit(fact: DataFrame, factKey: String, dim: DataFrame,
      dimKey: String, bits: Int = FilterBits,
      hashes: Int = NumHashes): DataFrame = {
    val keys = graft.core.SessionCache.transient(
      fact.select(col(factKey)).distinct())
    val passed = bloomFilteredFact(keys, factKey, dim, dimKey,
      bits, hashes)
    val members = keys.join(
      dim.select(col(dimKey).as(factKey)).distinct(),
      Seq(factKey), "left_semi")
    keys.agg(count(lit(1)).cast("long").as("n_keys"))
      .crossJoin(broadcast(
        members.agg(count(lit(1)).cast("long").as("n_true"))))
      .crossJoin(broadcast(
        passed.agg(count(lit(1)).cast("long").as("n_pass"))))
      .select(col("n_keys"), col("n_true"), col("n_pass"),
        (col("n_pass") - col("n_true")).cast("long").as("n_fp"),
        expr("((n_pass - n_true) * 1000000) div " +
          "greatest(n_keys - n_true, 1)").cast("long").as("fpr_ppm"))
  }
}
