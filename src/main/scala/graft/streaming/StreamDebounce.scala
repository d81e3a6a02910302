package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.Debounce

/** Streaming arrival-time debounce: [[Debounce]]'s gaps-and-islands
  * burst collapse driven by an event stream under `foreachBatch` — the
  * X84 ledger device applied to bursts. Stored state is an append-only
  * [[SegmentLedger]] of burst rows `(key, burst_seq, keeper_id,
  * n_events, start_us, last_us, batch_id)`, one segment per
  * micro-batch.
  * A burst that spans a batch boundary is never rewritten in place: the
  * later batch appends an UPDATED row for the same `(key, burst_seq)`
  * and the read view takes the row with the highest batch id — exactly
  * the record-latest-version shape a transactional format's MERGE
  * produces, with no transactional format.
  *
  * Contract: per key, batches deliver events in (ts, id) order (the
  * arrival-time stream). Under that contract the final ledger is
  * row-identical to batch [[Debounce.bursts]] over the full history —
  * the batch mirror `events_debounce` IS the oracle for the fold
  * (spec-asserted), closing the last batch/stream asymmetry in the
  * events family.
  *
  * Effectively-once under `foreachBatch`'s at-least-once contract by
  * the ledger's replay guard (see [[SegmentLedger]]).
  *
  * Scale shape: a batch costs one scan of the ledger to recover the
  * per-key LAST burst (one `groupBy(key)` struct-max — the only state
  * the merge rule can touch, since only the newest burst of a key can
  * still be open) plus the intra-batch islands window (one key shuffle,
  * the [[Debounce]] shape) and a key equi-join of the two — never a
  * corpus-sized rewrite. [[SegmentLedger.compactSegments]] bounds the
  * segment count here as it does for [[StreamDedup]]: it copies rows
  * verbatim, `batch_id` included, so [[bursts]] reads the same.
  */
object StreamDebounce {

  /** Latest version of each burst: for every (key, burst_seq) the row
    * written by the highest batch — a later batch only ever SUPERSEDES
    * a burst row (by merging more events into it), so max batch id is
    * the current truth. */
  private def latest(led: DataFrame): DataFrame =
    led.groupBy(col("key"), col("burst_seq"))
      .agg(max(struct(col("batch_id"), col("keeper_id"), col("n_events"),
        col("start_us"), col("last_us"))).as("r"))
      .select(col("key"), col("burst_seq"),
        col("r.keeper_id").as("keeper_id"),
        col("r.n_events").as("n_events"),
        col("r.start_us").as("start_us"),
        col("r.last_us").as("last_us"))

  /** Fold one micro-batch of events `(key, ts, id)` into the burst
    * ledger as segment `id`. Returns false (and writes nothing) when
    * the batch id was already committed. Public so tests drive
    * redelivery directly. */
  def mergeBatch(batch: DataFrame, batchId: Long, root: String,
      gapSeconds: Long = Debounce.DefaultGapSeconds): Boolean = {
    val led = SegmentLedger.list(batch.sparkSession, root)
    if (batchId <= led.watermark) return false
    // per-key LAST burst — the only one still open for merging
    val state = led.read.map(latest(_)
      .groupBy(col("key"))
      .agg(max(struct(col("burst_seq"), col("keeper_id"), col("n_events"),
        col("start_us"), col("last_us"))).as("s"))
      .select(col("key"), col("s.burst_seq").as("prev_seq"),
        col("s.keeper_id").as("prev_keeper"),
        col("s.n_events").as("prev_n"),
        col("s.start_us").as("prev_start"),
        col("s.last_us").as("prev_last")))
    // intra-batch islands at micros grain (the Debounce shape, keeping
    // exact last_us which the burst-grain presentation truncates away)
    val byTime = Window.partitionBy(col("key")).orderBy(col("us"), col("id"))
    val scan = byTime.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val local = batch
      .select(col("key"), expr("unix_micros(ts)").as("us"), col("id"))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(byTime))
      .withColumn("new_burst",
        when(col("gap_us").isNull ||
          col("gap_us") > gapSeconds * 1000000L, 1L).otherwise(0L))
      .withColumn("local_seq", sum(col("new_burst")).over(scan))
      .groupBy(col("key"), col("local_seq"))
      .agg(min(col("id")).cast("long").as("keeper_id"),
        count(lit(1)).cast("long").as("n_events"),
        min(col("us")).as("start_us"),
        max(col("us")).as("last_us"))
    val joined = state match {
      case None => local.select(col("key"),
        col("local_seq").as("burst_seq"), col("keeper_id"),
        col("n_events"), col("start_us"), col("last_us"))
      case Some(st) =>
        // the merge decision belongs to the key's FIRST batch burst
        // (arrival order makes it the min-start one); every row of the
        // key shares it, because a merged first burst shifts ALL of the
        // key's local sequence numbers down by one
        val merged = local.join(st, Seq("key"), "left")
          .withColumn("first_start",
            min(col("start_us")).over(Window.partitionBy(col("key"))))
          .withColumn("merge_first",
            col("prev_seq").isNotNull &&
              col("first_start") - col("prev_last") <= gapSeconds * 1000000L)
        merged.select(col("key"),
          (coalesce(col("prev_seq"), lit(0L)) + col("local_seq") -
            when(col("merge_first"), 1L).otherwise(0L))
            .cast("long").as("burst_seq"),
          when(col("merge_first") && col("local_seq") === 1L,
            least(col("prev_keeper"), col("keeper_id")))
            .otherwise(col("keeper_id")).as("keeper_id"),
          when(col("merge_first") && col("local_seq") === 1L,
            col("prev_n") + col("n_events"))
            .otherwise(col("n_events")).as("n_events"),
          when(col("merge_first") && col("local_seq") === 1L,
            col("prev_start")).otherwise(col("start_us")).as("start_us"),
          col("last_us"))
    }
    // reads only prior segments, writes seg<id>
    SegmentLedger.append(joined, batchId, root)
    true
  }

  /** The current burst ledger, presented in [[Debounce.bursts]]'s
    * output shape so the batch operator IS the oracle: one row per
    * (key, burst) with the keeper, event count, start timestamp and
    * whole-second span. */
  def bursts(spark: SparkSession, root: String): Option[DataFrame] =
    SegmentLedger.list(spark, root).read.map(latest(_).select(
      col("key"), col("burst_seq").cast("long").as("burst_id"),
      col("keeper_id"), col("n_events"),
      timestamp_micros(col("start_us")).as("burst_start"),
      expr("(last_us - start_us) div 1000000").cast("long").as("span_s")))

  /** The stream writer: events `(key, ts, id)` → burst ledger. */
  def sink(events: DataFrame, root: String,
      gapSeconds: Long = Debounce.DefaultGapSeconds): DataStreamWriter[Row] =
    events.writeStream.foreachBatch(
      (batch: org.apache.spark.sql.Dataset[Row], id: Long) => {
        mergeBatch(batch, id, root, gapSeconds); ()
      })
}
