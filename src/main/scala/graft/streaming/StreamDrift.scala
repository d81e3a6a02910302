package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** X319 streaming leg: per-source quality-drift CUSUM kept current per
  * arrival micro-batch — [[graft.pipeline.Pipeline.sourceQualityDrift]]
  * is the order-free batch mirror; this is the sequential recurrence a
  * live ingest actually runs, with the state persisted through
  * [[VersionedState]] (the X68 commit pattern, so a redelivered batch
  * is a no-op and the applied batch id commits atomically with the
  * state).
  *
  * State row per source: `(source, base_q_e6, k, cusum, n_batches)`.
  * The FIRST batch a source appears in becomes its stored baseline
  * (`base = mean`, `k = base/allowDiv`, `cusum = 0` — the X79 profile
  * committed at onboarding); each later arrival applies
  * `S ← max(0, S + base − mean − k)` and flags `S > k·alarmMult`.
  * A source absent from a batch is untouched — identical skip
  * semantics to the mirror's missing (source, batch) row, which is
  * why recurrence and closed form land on the same state
  * ([[StreamDriftSpec]] proves it against the mirror's final row).
  *
  * Scale: per batch one \|batch\| map + a source-grain aggregate and
  * a source-grain outer join against state — never corpus history. */
object StreamDrift {

  /** Highest committed batch id (see [[VersionedState.currentVersion]]). */
  def currentVersion(spark: SparkSession, root: String): Long =
    VersionedState.currentVersion(spark, root)

  /** The current stored drift state (None before the first commit). */
  def current(spark: SparkSession, root: String): Option[DataFrame] =
    VersionedState.current(spark, root)

  /** Per-source mean quality of one batch, exact-integer (the X79
    * spelling: quality quantized BEFORE the sum). */
  private def batchProfile(batch: DataFrame): DataFrame =
    batch.select(col("source"),
        floor(graft.text.TextAnalysis.qualityScore(col("text"))
          * 1000000.0 + 0.5).cast("long").as("q_e6"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("q_e6")).cast("long").as("sum_q"))
      .select(col("source"),
        expr("sum_q div n_docs").as("mean_q_e6"))

  /** Apply one micro-batch to the stored state. Returns false (and
    * changes nothing) when `id` was already committed — the replay
    * guard. Public so tests drive redelivery directly. */
  def applyBatch(batch: DataFrame, id: Long, root: String,
      allowDiv: Long = graft.pipeline.Pipeline.DriftAllowanceDiv,
      alarmMult: Long = graft.analytics.Analytics.CusumAlarmMult)
      : Boolean = {
    val spark = batch.sparkSession
    val last = VersionedState.currentVersion(spark, root)
    if (id <= last) return false
    val prof = batchProfile(batch)
    val onboard = prof.select(col("source"),
      col("mean_q_e6").as("base_q_e6"),
      expr(s"mean_q_e6 div $allowDiv").as("k"),
      lit(0L).as("cusum"), lit(1L).as("n_batches"),
      lit(0L).as("is_alarm"))
    val merged =
      if (last < 0) onboard
      else {
        val st = VersionedState.read(spark, root, last, onboard.schema)
        st.join(prof, Seq("source"), "full_outer")
          .select(col("source"),
            // a brand-new source becomes its own baseline
            coalesce(col("base_q_e6"), col("mean_q_e6")).as("base_q_e6"),
            coalesce(col("k"), expr(s"mean_q_e6 div $allowDiv")).as("k"),
            when(col("base_q_e6").isNull || col("mean_q_e6").isNull,
              // new source (cusum starts 0) or absent source (kept)
              coalesce(col("cusum"), lit(0L)))
              .otherwise(greatest(lit(0L), col("cusum") +
                col("base_q_e6") - col("mean_q_e6") - col("k")))
              .as("cusum"),
            (coalesce(col("n_batches"), lit(0L)) +
              when(col("mean_q_e6").isNull, 0L).otherwise(1L))
              .as("n_batches"))
          .select(col("source"), col("base_q_e6"), col("k"),
            col("cusum"), col("n_batches"),
            when(col("cusum") > col("k") * alarmMult, 1L).otherwise(0L)
              .as("is_alarm"))
      }
    // reads v<last>, writes v<id> — never overwrites what it reads
    VersionedState.commit(merged, id, root)
    true
  }

  /** The stream writer: documents (doc_id, text, source) → stored
    * per-source drift state kept current per micro-batch. */
  def sink(docs: DataFrame, root: String): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch(
      (batch: org.apache.spark.sql.Dataset[Row], id: Long) => {
        applyBatch(batch, id, root); ()
      })
}
