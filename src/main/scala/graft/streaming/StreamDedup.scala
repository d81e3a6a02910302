package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

import graft.dedup.Dedup

/** Streaming arrival-time dedup: [[Dedup.incrementalDedupBySig]]
  * driven by a document stream. The stored state is an append-only
  * [[SegmentLedger]] of `(doc_id, sig, is_dup, dup_of, est_jaccard,
  * batch_id)` — one segment per micro-batch, never rewritten. The
  * keeper rows (`is_dup = 0`, signature retained) ARE the dedup index
  * the next batch bands against; the dup rows are the decision feed a
  * downstream curation job consumes.
  *
  * Effectively-once under `foreachBatch`'s at-least-once contract by
  * the ledger's replay guard (see [[SegmentLedger]]).
  *
  * Scale shape: each document's signature is computed exactly ONCE,
  * ever (the batch it arrives in); a batch costs one scan of the
  * keeper index for banding plus |batch| signature builds and the
  * band equi-join — never a corpus×corpus comparison and never a
  * rewrite of corpus-sized state (the segment layout is what a
  * transactional table format's append does). Segment COUNT is kept
  * bounded by [[SegmentLedger.compactSegments]] — the
  * [[graft.maint.Maintenance.compactionPlan]] planner applied to the
  * ledger's own manifest — so per-batch parquet open cost stays flat
  * no matter how many micro-batches have ever run.
  * Duplicates WITHIN one batch both pass as novel by design — intra-
  * batch dedup is the batch operator's job ([[Dedup.exactDedup]] /
  * [[Dedup.nearDupClusters]] in the same `foreachBatch`) and folding
  * it in here would hide that the index join, not the batch, is the
  * scale-bearing side. */
object StreamDedup {

  private def emptySigs(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
      StructField("doc_id", LongType),
      StructField("sig", ArrayType(LongType)))))

  /** Flag one micro-batch of documents `(doc_id, text)` against the
    * stored keeper index and append the decisions as segment `id`.
    * Returns false (and writes nothing) when `id` was already
    * committed. Public so tests drive redelivery directly. */
  def mergeBatch(batch: DataFrame, id: Long, root: String): Boolean = {
    val spark = batch.sparkSession
    val led = SegmentLedger.list(spark, root)
    if (id <= led.watermark) return false
    val exSig = led.read
      .map(_.filter(col("is_dup") === 0 && col("sig").isNotNull)
        .select(col("doc_id"), col("sig")))
      .getOrElse(emptySigs(spark))
    // scoped persist (NOT SessionCache.transient: a foreachBatch body
    // must not release blocks a surrounding query holds): the signature frame
    // feeds both the banding join and the ledger-row join
    val inSig = Dedup.minhashSignature(batch).persist()
    try {
      val flags = Dedup.incrementalDedupBySig(inSig, exSig,
        allIncoming = Some(batch.select(col("doc_id"))))
      val segRows = flags.join(inSig, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("is_dup") === 0, col("sig")).otherwise(lit(null))
            .as("sig"),
          col("is_dup"), col("dup_of"), col("est_jaccard"))
      // reads only prior segments, writes seg<id>
      SegmentLedger.append(segRows, id, root)
    } finally inSig.unpersist(false)
    true
  }

  /** The stream writer: documents `(doc_id, text)` → append-only
    * dedup decision ledger whose keepers index the corpus so far. */
  def sink(docs: DataFrame, root: String): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch(
      (batch: org.apache.spark.sql.Dataset[Row], id: Long) => {
        mergeBatch(batch, id, root); ()
      })

  /** Run [[SegmentLedger.compactSegments]] after every `every`-th
    * committed batch. */
  val MaintainEvery = 8

  /** The self-maintaining stream writer: [[sink]] plus a
    * [[SegmentLedger.compactSegments]] pass after every
    * [[MaintainEvery]]-th batch — the complete operational loop, so
    * unit count (and with it per-batch parquet open cost) stays bounded
    * by `every + O(log corpus/target)` forever without an external
    * maintenance scheduler. Compaction runs AFTER the batch's segment
    * commits and is itself crash-safe at any point (see
    * [[SegmentLedger.compactSegments]]), so the at-least-once replay
    * story is unchanged: a redelivered batch is rejected by the
    * watermark whether or not its segment has since been folded into a
    * generation. */
  def sinkWithMaintenance(docs: DataFrame, root: String,
      every: Int = MaintainEvery,
      target: Long = graft.maint.Maintenance.TargetBytes
      ): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch(
      (batch: org.apache.spark.sql.Dataset[Row], id: Long) => {
        val applied = mergeBatch(batch, id, root)
        if (applied && id % every == every - 1)
          SegmentLedger.compactSegments(batch.sparkSession, root, target)
        ()
      })
}
