package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, round}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.analytics.Analytics

/** Streaming incremental rollup: the [[Analytics.mergeRollups]] update
  * path driven by a stream — each micro-batch's per-key rollup is
  * merged into the stored rollup, so the running aggregate is always
  * current at cost |keys| + |batch|, never |history|.
  *
  * `foreachBatch` delivers at-least-once: after a crash the last batch
  * can be REDELIVERED, and a blind merge would double-count it. The
  * guard is [[VersionedState]]: the applied batch id is persisted
  * atomically with the merged rollup (version directory + `_SUCCESS`
  * commit), making the sink effectively-once without a transactional
  * table format; the cluster-scale form is a format whose MERGE
  * carries the same commit-then-GC structure.
  */
object StreamRollup {

  /** Highest committed batch id (see [[VersionedState.currentVersion]]). */
  def currentVersion(spark: SparkSession, root: String): Long =
    VersionedState.currentVersion(spark, root)

  /** The current stored rollup (None before the first commit). */
  def current(spark: SparkSession, root: String): Option[DataFrame] =
    VersionedState.current(spark, root)

  /** Merge one micro-batch into the stored rollup. Returns false (and
    * changes nothing) when `id` was already committed — the replay
    * guard. Public so tests drive redelivery directly. */
  def mergeBatch(batch: DataFrame, id: Long, root: String): Boolean = {
    val spark = batch.sparkSession
    val last = VersionedState.currentVersion(spark, root)
    if (id <= last) return false
    val newRoll = Analytics.eventRollup(batch)
    // one aggregation over the stored rollup and the raw batch rows
    // (n = 1, cents as eventRollup rounds them): integer sums, so the
    // result equals merging the batch's own rollup
    val merged =
      if (last < 0) newRoll
      else Analytics.mergeRollups(
        VersionedState.read(spark, root, last, newRoll.schema),
        batch.select(col("user_id"), col("event_type"), lit(1L).as("n"),
          round(col("value") * 100).cast("long").as("cents")),
        Seq("user_id", "event_type"))
    // reads v<last>, writes v<id> — never overwrites what it reads
    VersionedState.commit(merged, id, root)
    true
  }

  /** The stream writer: events (user_id, event_type, value) → stored
    * per-key rollup kept current per micro-batch. */
  def sink(events: DataFrame, root: String): DataStreamWriter[Row] =
    events.writeStream.foreachBatch(
      (batch: org.apache.spark.sql.Dataset[Row], id: Long) => {
        mergeBatch(batch, id, root); ()
      })
}
