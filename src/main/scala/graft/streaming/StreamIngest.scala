package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** Structured-Streaming ingest for the reference's TCP/JSON micro-batch
  * contract (SURVEY.md §2.9; reference `Dataset/stream.py:150-201`):
  *
  * One newline-terminated JSON object per micro-batch whose outer keys
  * are stringified row indices and whose inner objects are either
  * `{"feature0": …, …, "featureN": …[, "label": …]}` rows or
  * `{"img": [[…]], "label": …}` image rows.
  *
  * The reference's (absent) consumer was a legacy DStream; this engine
  * uses Structured Streaming only: `readStream.format("socket")` →
  * `from_json(MapType(String, innerStruct))` → `explode(map)`. The
  * payload transform is IDENTICAL for batch and stream frames (tested
  * on batch literals + MemoryStream in CI; the socket path needs no
  * separate logic), which is exactly Spark's unified-API intent.
  *
  * No watermarks or stateful ops: the contract is processing-time-only
  * micro-batches (reference sends one batch / 5 s with no event time);
  * per-batch model update hooks are `foreachBatch`.
  */
object StreamIngest {

  /** Inner-row schema for an N-feature payload (+ optional label). */
  def featureSchema(nFeatures: Int, withLabel: Boolean): StructType = {
    val fs = (0 until nFeatures).map(i =>
      StructField(s"feature$i", DoubleType, nullable = true))
    StructType(if (withLabel) fs :+ StructField("label", LongType) else fs)
  }

  /** Parse a batch-of-rows JSON object (`value` column) into one row
    * per inner key: row_index + the inner struct's fields. Works on
    * both static and streaming DataFrames. */
  def parsePayload(raw: DataFrame, inner: StructType): DataFrame = {
    val parsed = raw.select(
      from_json(col("value"), MapType(StringType, inner)).as("batch"))
    // explode_outer + a key filter rather than explode: Catalyst infers
    // `size(batch) > 0` below an explode and pushes it past the
    // Project, copying from_json into it (every payload parsed twice).
    // Map keys are never null, so the filter drops exactly the row
    // explode_outer adds for a null or empty map.
    val exploded = parsed.select(explode_outer(col("batch"))
      .as(Seq("row_index", "row"))).filter(col("row_index").isNotNull)
    exploded.select(
      col("row_index").cast("long").as("row_index") +:
        inner.fields.toIndexedSeq.map(f => col(s"row.${f.name}").as(f.name)): _*)
  }

  /** The socket source matching the producer's transport
    * (`stream.py:24-36`: localhost:6100, newline-terminated). */
  def socketStream(spark: SparkSession, inner: StructType,
      host: String = "localhost", port: Int = 6100): DataFrame =
    parsePayload(
      spark.readStream.format("socket")
        .option("host", host).option("port", port).load(),
      inner)

  /** Mirror of the producer's 5-second cadence for downstream sinks. */
  val BatchTrigger: Trigger = Trigger.ProcessingTime("5 seconds")

  /** Per-batch hook (the Structured-Streaming expression of the
    * reference's implied incremental-model-update consumer): stateless
    * transform + user callback per micro-batch. */
  def foreachBatchWriter(parsed: DataFrame)(
      f: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    parsed.writeStream.trigger(BatchTrigger)
      .foreachBatch((df: org.apache.spark.sql.Dataset[Row], id: Long) =>
        f(df, id))

  /** Watermarked tumbling-window aggregate — the stateful Structured
    * Streaming shape the batch `events_tumbling_window` query mirrors.
    * The reference's contract is processing-time-only (no late data
    * possible, SURVEY §2.9); this is the engine capability a real
    * event-time feed needs: state bounded by the watermark, late rows
    * beyond it dropped. */
  def windowedCounts(parsed: DataFrame, eventTimeCol: String,
      windowLen: String = "1 hour", watermark: String = "2 hours",
      keyCol: String = "label"): DataFrame =
    parsed.withWatermark(eventTimeCol, watermark)
      .groupBy(window(col(eventTimeCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("n"))

  /** Streaming exact dedup for a document feed: normalized-text MD5
    * fingerprint + dropDuplicatesWithinWatermark — state for a
    * fingerprint is dropped once the watermark passes it, so the
    * operator runs indefinitely with bounded state (the streaming twin
    * of `Dedup.exactDedup`). */
  def streamingExactDedup(docs: DataFrame, eventTimeCol: String,
      textCol: String = "text", watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", graft.text.TextAnalysis.fingerprintMd5(col(textCol)))
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Backfill/catch-up drain: process every payload file currently in
    * `srcDir` through the SAME parse-transform as the live socket feed,
    * then STOP — `Trigger.AvailableNow`. This is the missing half of a
    * production ingest: the socket handles the live stream, this drains
    * the backlog (bootstrap, downtime catch-up, reprocessing) with the
    * identical code path and exactly-once file tracking — a second
    * drain against the same checkpoint processes ONLY files that
    * arrived since the first, never duplicating rows.
    *
    * Scale: AvailableNow splits the backlog into rate-limited
    * micro-batches (`maxFilesPerTrigger`) instead of one giant batch,
    * so a month of backlog drains under the same memory envelope as
    * the live feed. */
  def drainAvailableNow(spark: SparkSession, srcDir: String,
      inner: StructType, outDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 1000): Unit = {
    val raw = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(srcDir)
    val q = parsePayload(raw, inner).writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** S17: the producer's raw-line variant (`stream.py:204-226`): each
    * batch is a JSON ARRAY of raw text lines → one row per line. */
  def parseLineArray(raw: DataFrame): DataFrame =
    raw.select(posexplode_outer(from_json(col("value"),
      ArrayType(StringType))).as(Seq("line_index", "line")))
      .filter(col("line_index").isNotNull) // see parsePayload

  /** Deterministic batch reconstruction of the producer payload from
    * the `events` table — used to exercise the exact payload JSON shape
    * in batch (oracle-checkable) and as MemoryStream feed in tests:
    * groups events into batches of `batchSize` by event_id and encodes
    * each batch as the producer's outer-object JSON. */
  def producerPayloadFromEvents(spark: SparkSession, dir: String,
      batchSize: Int = 100): DataFrame = {
    val ev = graft.core.Tables(spark, dir, "events")
      .select(col("event_id"),
        (col("event_id") % batchSize).cast("string").as("row_index"),
        (col("event_id") / batchSize).cast("long").as("batch_id"),
        struct(
          col("value").as("feature0"),
          col("user_id").cast("double").as("feature1"),
          col("event_type").as("label")).as("row"))
    ev.groupBy(col("batch_id"))
      .agg(to_json(map_from_entries(collect_list(
        struct(col("row_index"), col("row"))))).as("value"))
  }

  /** Round-trip: produce payload JSON from events, parse it back with
    * the stream parser — the batch-mode equivalence proof for S16. */
  def payloadRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val inner = StructType(Seq(
      StructField("feature0", DoubleType),
      StructField("feature1", DoubleType),
      StructField("label", StringType)))
    parsePayload(producerPayloadFromEvents(spark, dir), inner)
  }
}
