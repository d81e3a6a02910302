package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Two-pass exact heavy hitters via per-partition Misra–Gries
  * summaries (X203) — the deterministic-output form of frequent-item
  * mining at scale: ONE pass builds a bounded k-counter Misra–Gries
  * summary per partition (Misra & Gries 1982 — the deterministic
  * counter sketch behind every "frequent" sketch library), the
  * summaries union into a candidate set, and a second pass counts the
  * candidates EXACTLY and keeps items with `count·k > n`.
  *
  * Why this shape: a plain `groupBy(key)` shuffles the full key
  * domain; the MG pass reduces the shuffle to ≤ partitions·k summary
  * rows no matter how many distinct keys exist, and the exact pass
  * shuffles only rows whose key survived (a broadcast semi-join
  * prune). Correctness does NOT depend on MG internals: if an item's
  * global count exceeds n/k then by pigeonhole its count exceeds
  * n_p/k in at least one partition, so it is in that partition's
  * summary — the candidate set is a SUPERSET of every true heavy
  * hitter, and the exact refinement makes the output identical to the
  * naive `GROUP BY ... HAVING count·k > n` (which is precisely what
  * the DuckDB oracle runs — result identity with the one-pass naive
  * plan is the operator's contract, the X145 bloom-prune discipline).
  * Partition boundaries can change WHICH extra candidates appear,
  * never the output.
  *
  * The `mapPartitions` is the documented bounded-state tier: ≤ k
  * live counters per partition, O(1) amortized per row. */
object MisraGries {

  /** Frequency threshold denominator: keep items with count > n/K. */
  val K = 125

  /** Exact counts of every value of `keyCol` (cast to string, nulls
    * dropped) occurring more than n/k times. Output:
    * `(key, cnt, n_total, freq_ppm)`. */
  def exactHeavyHitters(df: DataFrame, keyCol: String,
      k: Int = K): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = graft.core.SessionCache.transient(
      graft.core.Spread(df)
        .select(col(keyCol).cast("string").as("key"))
        .filter(col("key").isNotNull))
    val summaries = keyed.as[String].mapPartitions { it =>
      val counters = scala.collection.mutable.Map.empty[String, Long]
      it.foreach { key =>
        if (counters.contains(key)) counters(key) += 1L
        else if (counters.size < k - 1) counters(key) = 1L
        else {
          // decrement-all step: k-1 live counters + the new item all
          // lose one "vote"; zeroed counters drop
          val dead = scala.collection.mutable.ArrayBuffer.empty[String]
          counters.mapValuesInPlace((_, v) => v - 1L)
          counters.foreach { case (ck, cv) => if (cv <= 0L) dead += ck }
          dead.foreach(counters.remove)
        }
      }
      counters.iterator.map { case (key, w) => (key, w) }
    }.toDF("key", "w")
    val cands = summaries.groupBy(col("key"))
      .agg(sum(col("w")).cast("long").as("mg_w"))
      .select(col("key"))
    keyed.join(broadcast(cands), Seq("key"))
      .groupBy(col("key")).agg(count(lit(1)).cast("long").as("cnt"))
      .crossJoin(broadcast(
        keyed.agg(count(lit(1)).cast("long").as("n_total"))))
      .filter(col("cnt") * k > col("n_total"))
      .select(col("key"), col("cnt"), col("n_total"),
        expr("(cnt * 1000000) div n_total").cast("long").as("freq_ppm"))
  }
}
