package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

import graft.dedup.Dedup

/** Streaming arrival-time dedup: [[Dedup.incrementalDedupBySig]]
  * driven by a document stream. The stored state is an append-only
  * LEDGER of `(doc_id, sig, is_dup, dup_of, est_jaccard, batch_id)` —
  * one segment file per micro-batch, committed atomically by the
  * parquet `_SUCCESS` marker, never rewritten. The keeper rows
  * (`is_dup = 0`, signature retained) ARE the dedup index the next
  * batch bands against; the dup rows are the decision feed a
  * downstream curation job consumes.
  *
  * Effectively-once under `foreachBatch`'s at-least-once contract, by
  * the same argument as [[VersionedState]]: the applied batch id is
  * the segment's own name, persisted atomically with its data — a
  * redelivered id is detected by `id <= maxSegment` and skipped; a
  * writer that dies mid-segment leaves no `_SUCCESS`, so readers
  * ignore the partial directory and the redelivery overwrites it.
  *
  * Scale shape: each document's signature is computed exactly ONCE,
  * ever (the batch it arrives in); a batch costs one scan of the
  * keeper index for banding plus |batch| signature builds and the
  * band equi-join — never a corpus×corpus comparison and never a
  * rewrite of corpus-sized state (the segment layout is what a
  * transactional table format's append does). Segment COUNT is kept
  * bounded by [[compactSegments]] — the [[graft.maint.Maintenance
  * .compactionPlan]] planner applied to the ledger's own manifest —
  * so per-batch parquet open cost stays flat no matter how many
  * micro-batches have ever run.
  * Duplicates WITHIN one batch both pass as novel by design — intra-
  * batch dedup is the batch operator's job ([[Dedup.exactDedup]] /
  * [[Dedup.nearDupClusters]] in the same `foreachBatch`) and folding
  * it in here would hide that the index join, not the batch, is the
  * scale-bearing side. */
object StreamDedup {

  private val SegDir = "^seg(\\d+)$".r
  private val CmpDir = "^cmp(\\d+)_(\\d+)$".r

  /** One committed ledger unit: a raw per-batch segment (`seg<id>`,
    * lo == hi) or a compacted generation (`cmp<lo>_<hi>`, covering
    * every batch id in [lo, hi]). */
  private case class Unit(lo: Long, hi: Long, path: Path, bytes: Long)

  private def fsOf(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  /** Committed ledger units under `root` (have `_SUCCESS`), ascending
    * by range start, with any unit whose id range sits inside another
    * committed unit's range dropped: a crash between a compaction
    * commit and the covered-segment cleanup leaves both on disk, and
    * the committed compaction is the one source of truth (same
    * read-your-committed argument as the segment `_SUCCESS` gate). */
  private def units(spark: SparkSession, root: String): Seq[Unit] = {
    val fs = fsOf(spark, root)
    if (!fs.exists(new Path(root))) return Seq.empty
    val all = fs.listStatus(new Path(root)).iterator.flatMap { st =>
      def bytes = fs.listStatus(st.getPath).iterator
        .filter(_.isFile).map(_.getLen).sum
      st.getPath.getName match {
        case SegDir(id) if fs.exists(new Path(st.getPath, "_SUCCESS")) =>
          Some(Unit(id.toLong, id.toLong, st.getPath, bytes))
        case CmpDir(lo, hi)
            if fs.exists(new Path(st.getPath, "_SUCCESS")) =>
          Some(Unit(lo.toLong, hi.toLong, st.getPath, bytes))
        case _ => None
      }
    }.toSeq
    all.filterNot(u => all.exists(v =>
      (v ne u) && v.lo <= u.lo && u.hi <= v.hi &&
        (v.hi - v.lo) > (u.hi - u.lo)))
      .sortBy(_.lo)
  }

  /** Highest committed batch id — the replay-guard watermark. */
  def maxSegment(spark: SparkSession, root: String): Long =
    units(spark, root).foldLeft(-1L)((m, u) => math.max(m, u.hi))

  /** The full decision ledger (None before the first commit). */
  def ledger(spark: SparkSession, root: String): Option[DataFrame] = {
    val us = units(spark, root)
    if (us.isEmpty) None
    else Some(spark.read.parquet(us.map(_.path.toString): _*))
  }

  /** Number of committed ledger units — the per-batch parquet open
    * cost [[compactSegments]] bounds (exposed for specs/monitoring). */
  def unitCount(spark: SparkSession, root: String): Int =
    units(spark, root).size

  /** Compact the ledger's per-batch segments into bounded-count
    * generations, using [[graft.maint.Maintenance.compactionPlan]] on
    * the ledger's own manifest (one row per committed unit, sized in
    * bytes): each plan bin holding ≥ 2 units merges into one
    * `cmp<lo>_<hi>` generation. Rows are copied verbatim (`batch_id`
    * kept per row), so the ledger CONTENT is invariant — only the file
    * layout changes.
    *
    * Crash-safe, watermark-monotone protocol: (1) write the merged
    * generation (its `_SUCCESS` is the commit), (2) only then delete
    * the covered inputs. A crash before (1) commits leaves an ignored
    * partial dir that the next run overwrites; a crash inside (2)
    * leaves covered units that [[units]] masks and the next run
    * deletes. At no point does [[maxSegment]] regress, so a
    * redelivered batch id is rejected identically before, during, and
    * after compaction.
    *
    * Scale shape: the manifest is one row per unit (micro-batch count,
    * not corpus size — and bounded precisely by running this job), the
    * plan is collected driver-side at that bounded size, and each merge
    * is one read-write of its inputs' bytes. Returns the number of
    * generations written. */
  def compactSegments(spark: SparkSession, root: String,
      target: Long = graft.maint.Maintenance.TargetBytes): Int = {
    val fs = fsOf(spark, root)
    // masked leftovers from a prior interrupted cleanup go first
    val live = {
      val all = units(spark, root)
      val cleanupVictims = fs.listStatus(new Path(root)).iterator.filter {
        st =>
          val covered = st.getPath.getName match {
            case SegDir(id) => Some((id.toLong, id.toLong))
            case CmpDir(lo, hi) => Some((lo.toLong, hi.toLong))
            case _ => None
          }
          covered.exists { case (lo, hi) =>
            !all.exists(u => u.path == st.getPath) &&
              all.exists(u => u.lo <= lo && hi <= u.hi)
          }
      }.toSeq
      cleanupVictims.foreach(st => fs.delete(st.getPath, true))
      all
    }
    if (live.size <= 1) return 0
    import spark.implicits._
    val manifest = live.map(u => ("ledger", u.hi, u.bytes))
      .toDF("part", "hi", "bytes")
    val bins = graft.maint.Maintenance
      .compactionPlan(manifest, "part", "hi", "bytes", target)
      .select(col("hi"), col("bin")).as[(Long, Long)].collect().toMap
    val byBin = live.groupBy(u => bins(u.hi)).values.filter(_.size >= 2)
    byBin.foreach { group =>
      val lo = group.map(_.lo).min
      val hi = group.map(_.hi).max
      spark.read.parquet(group.map(_.path.toString): _*)
        .write.mode(SaveMode.Overwrite).parquet(s"$root/cmp${lo}_$hi")
      // commit landed (_SUCCESS); covered inputs are now dead weight
      group.foreach(u => fs.delete(u.path, true))
    }
    byBin.size
  }

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
    if (id <= maxSegment(spark, root)) return false
    val exSig = ledger(spark, root)
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
          col("is_dup"), col("dup_of"), col("est_jaccard"),
          lit(id).as("batch_id"))
      // reads only prior segments, writes seg<id>: commit = _SUCCESS
      segRows.write.mode(SaveMode.Overwrite).parquet(s"$root/seg$id")
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

  /** Run [[compactSegments]] after every `every`-th committed batch. */
  val MaintainEvery = 8

  /** The self-maintaining stream writer: [[sink]] plus a
    * [[compactSegments]] pass after every [[MaintainEvery]]-th batch —
    * the complete operational loop, so unit count (and with it
    * per-batch parquet open cost) stays bounded by
    * `every + O(log corpus/target)` forever without an external
    * maintenance scheduler. Compaction runs AFTER the batch's segment
    * commits and is itself crash-safe at any point (see
    * [[compactSegments]]), so the at-least-once replay story is
    * unchanged: a redelivered batch is rejected by the watermark
    * whether or not its segment has since been folded into a
    * generation. */
  def sinkWithMaintenance(docs: DataFrame, root: String,
      every: Int = MaintainEvery,
      target: Long = graft.maint.Maintenance.TargetBytes
      ): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch(
      (batch: org.apache.spark.sql.Dataset[Row], id: Long) => {
        val applied = mergeBatch(batch, id, root)
        if (applied && id % every == every - 1)
          compactSegments(batch.sparkSession, root, target)
        ()
      })
}
