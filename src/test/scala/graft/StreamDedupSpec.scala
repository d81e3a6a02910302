package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{SegmentLedger, StreamDedup}

/** The streaming arrival-time dedup sink: per-batch decisions append
  * as atomic segments, keepers index the corpus for later batches,
  * and redelivered batch ids are no-ops (the same flagging logic is
  * oracle-checked batch-side by dedup_incremental). */
class StreamDedupSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog again and again"

  test("doc stream → decision ledger; dups flag against EARLIER " +
    "batches; replayed batches are no-ops") {
    val root = java.nio.file.Files.createTempDirectory("sdedup_").toFile
    val target = new java.io.File(root, "ledger").getAbsolutePath
    val ms = MemoryStream[(Long, String)](
      org.apache.spark.sql.Encoders.product[(Long, String)],
      spark.sqlContext)
    val docs = ms.toDF().toDF("doc_id", "text")
    val q = StreamDedup.sink(docs, target)
      .option("checkpointLocation",
        new java.io.File(root, "ckpt").getAbsolutePath)
      .start()
    try {
      // batch 0: empty index — both docs pass as novel keepers
      ms.addData((1L, base),
        (2L, "completely different content about spark streaming"))
      q.processAllAvailable()
      // batch 1: 10 duplicates doc 1; 11 is genuinely new
      ms.addData((10L, base),
        (11L, "unrelated novel text nothing shared here with anything"))
      q.processAllAvailable()

      def led = SegmentLedger.list(spark, target).read.get
        .select($"doc_id", $"is_dup",
          coalesce($"dup_of", lit(-1L)).as("dup_of"), $"batch_id")
        .as[(Long, Long, Long, Long)].collect().toSet
      val want = Set(
        (1L, 0L, -1L, 0L), (2L, 0L, -1L, 0L),
        (10L, 1L, 1L, 1L), (11L, 0L, -1L, 1L))
      assert(led == want)
      // keepers carry signatures; dups don't
      val sigs = SegmentLedger.list(spark, target).read.get
        .select($"doc_id", $"sig".isNotNull).as[(Long, Boolean)]
        .collect().toMap
      assert(sigs == Map(1L -> true, 2L -> true, 10L -> false,
        11L -> true))
      // redelivery of a committed id changes nothing
      val replay = Seq((99L, base)).toDF("doc_id", "text")
      assert(!StreamDedup.mergeBatch(replay, 1L, target))
      assert(led == want)
      assert(SegmentLedger.list(spark, target).watermark == 1L)
      // a NEW id flags against the accumulated keeper index
      assert(StreamDedup.mergeBatch(replay, 5L, target))
      assert(led.contains((99L, 1L, 1L, 5L)))
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    }
  }

  test("segment compaction bounds per-batch open cost; ledger content, " +
    "watermark and replay guard all survive") {
    val root = java.nio.file.Files.createTempDirectory("sdedup_").toFile
    val target = new java.io.File(root, "ledger").getAbsolutePath
    try {
      // ten tiny micro-batches → ten segment dirs
      (0L until 10L).foreach { id =>
        assert(StreamDedup.mergeBatch(
          Seq((100 * id + 1, s"unique document number $id with its own " +
            s"words ${('a' + id.toInt).toChar} end")).toDF("doc_id", "text"),
          id, target))
      }
      val before = SegmentLedger.list(spark, target).read.get
        .select($"doc_id", $"is_dup", $"batch_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(SegmentLedger.list(spark, target).units.size == 10)
      val openBefore = SegmentLedger.list(spark, target).read.get
        .inputFiles.length

      // compact with a target big enough to swallow everything
      assert(SegmentLedger.compactSegments(spark, target,
        target = Long.MaxValue) == 1)
      // the batch-cost proxy (files a ledger scan opens) collapsed...
      assert(SegmentLedger.list(spark, target).units.size == 1)
      assert(SegmentLedger.list(spark, target).read.get
        .inputFiles.length < openBefore)
      // ...while content, watermark, and the replay guard are intact
      assert(SegmentLedger.list(spark, target).read.get
        .select($"doc_id", $"is_dup", $"batch_id")
        .as[(Long, Long, Long)].collect().toSet == before)
      assert(SegmentLedger.list(spark, target).watermark == 9L)
      assert(!StreamDedup.mergeBatch(
        Seq((999L, "whatever")).toDF("doc_id", "text"), 9L, target))
      // new batches append fresh segments after the generation and
      // still dedup against the compacted keeper index
      assert(StreamDedup.mergeBatch(
        Seq((999L, "unique document number 3 with its own words d end"))
          .toDF("doc_id", "text"), 10L, target))
      val dup = SegmentLedger.list(spark, target).read.get
        .filter($"doc_id" === 999L)
        .select($"is_dup", $"batch_id").as[(Long, Long)].collect().toSeq
      assert(dup == Seq((1L, 10L)))
      assert(SegmentLedger.list(spark, target).units.size == 2)

      // compacting repeatedly stays idempotent-ish and cheap: a second
      // run merges the generation with the new segment; a third is a
      // no-op (single unit left)
      assert(SegmentLedger.compactSegments(spark, target,
        target = Long.MaxValue) == 1)
      assert(SegmentLedger.compactSegments(spark, target,
        target = Long.MaxValue) == 0)
      assert(SegmentLedger.list(spark, target).watermark == 10L)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  test("self-maintaining sink keeps unit count bounded across many " +
    "micro-batches while dedup semantics hold") {
    val root = java.nio.file.Files.createTempDirectory("sdedup_").toFile
    val target = new java.io.File(root, "ledger").getAbsolutePath
    val ms = MemoryStream[(Long, String)](
      org.apache.spark.sql.Encoders.product[(Long, String)],
      spark.sqlContext)
    val q = StreamDedup.sinkWithMaintenance(
      ms.toDF().toDF("doc_id", "text"), target, every = 3,
      target = Long.MaxValue)
      .option("checkpointLocation",
        new java.io.File(root, "ckpt").getAbsolutePath)
      .start()
    try {
      (0 until 9).foreach { i =>
        // doc 3 repeats doc 0's text; everyone else is novel
        val text = if (i == 3) s"novel text number 0 for this stream"
        else s"novel text number $i for this stream"
        ms.addData((i.toLong, text))
        q.processAllAvailable()
      }
      // 9 batches with maintenance every 3: never 9 units on disk
      assert(SegmentLedger.list(spark, target).units.size <= 4,
        s"units: ${SegmentLedger.list(spark, target).units.size}")
      assert(SegmentLedger.list(spark, target).watermark == 8L)
      val led = SegmentLedger.list(spark, target).read.get
        .select($"doc_id", $"is_dup").as[(Long, Long)].collect().toMap
      assert(led.size == 9)
      assert(led(3L) == 1L && led.filter(_._1 != 3L).values.forall(_ == 0L))
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    }
  }

  test("a crash between the compaction commit and the covered-segment " +
    "cleanup neither double-counts nor regresses the watermark") {
    val root = java.nio.file.Files.createTempDirectory("sdedup_").toFile
    val target = new java.io.File(root, "ledger").getAbsolutePath
    try {
      (0L to 2L).foreach { id =>
        assert(StreamDedup.mergeBatch(
          Seq((id + 1, s"crash test document $id distinct content here"))
            .toDF("doc_id", "text"), id, target))
      }
      // simulate: a committed cmp0_2 exists AND the covered seg dirs
      // were never deleted (crash mid-cleanup)
      val all = SegmentLedger.list(spark, target).read.get
      all.write.parquet(s"$target/cmp0_2")
      val rows = SegmentLedger.list(spark, target).read.get
        .select($"doc_id", $"batch_id").as[(Long, Long)].collect().toSeq
      // three rows, not six: the covered segments are masked
      assert(rows.size == 3)
      assert(SegmentLedger.list(spark, target).watermark == 2L)
      assert(SegmentLedger.list(spark, target).units.size == 1)
      // the next compaction run clears the leftovers (and, with a
      // single live unit, writes nothing)
      assert(SegmentLedger.compactSegments(spark, target) == 0)
      assert(!new java.io.File(target, "seg0").exists())
      assert(SegmentLedger.list(spark, target).watermark == 2L)
      assert(SegmentLedger.list(spark, target).read.get.count() == 3)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }
}
