package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Debounce
import graft.streaming.{SegmentLedger, StreamDebounce}

/** The streaming arrival-time debounce sink: per-batch burst folds
  * append as atomic segments, a burst spanning batches is superseded
  * (never rewritten), and the final ledger is row-identical to the
  * batch operator over the full history — the batch mirror
  * `events_debounce` IS the oracle for the fold. */
class StreamDebounceSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new java.sql.Timestamp(s * 1000L)

  private type Burst = (Long, Long, Long, Long, java.sql.Timestamp, Long)

  private def collectBursts(root: String): Set[Burst] =
    StreamDebounce.bursts(spark, root).get
      .as[Burst].collect().toSet

  test("cross-boundary merge: a burst spanning three batches is " +
    "superseded, not duplicated; exact-gap boundary merges (<=)") {
    val root = java.nio.file.Files
      .createTempDirectory("sdb_").toString + "/ledger"
    val gap = 100L
    // key 1: 0s, 50s | 150s (gap 100 == gap -> merges), | 230s (80 ->
    // merges), 400s (170 > gap -> new burst). key 2 only in batch 2.
    val b0 = Seq((1L, ts(0), 10L), (1L, ts(50), 11L))
      .toDF("key", "ts", "id")
    val b1 = Seq((1L, ts(150), 12L)).toDF("key", "ts", "id")
    val b2 = Seq((1L, ts(230), 13L), (1L, ts(400), 14L),
      (2L, ts(300), 20L)).toDF("key", "ts", "id")
    assert(StreamDebounce.mergeBatch(b0, 0L, root, gap))
    assert(StreamDebounce.mergeBatch(b1, 1L, root, gap))
    assert(StreamDebounce.mergeBatch(b2, 2L, root, gap))
    assert(collectBursts(root) === Set(
      (1L, 1L, 10L, 4L, ts(0), 230L),
      (1L, 2L, 14L, 1L, ts(400), 0L),
      (2L, 1L, 20L, 1L, ts(300), 0L)))
    // redelivery of a committed id is a no-op
    assert(!StreamDebounce.mergeBatch(b1, 1L, root, gap))
    assert(SegmentLedger.list(spark, root).watermark === 2L)
    assert(collectBursts(root).size === 3)
  }

  test("compaction on the shared ledger: bursts read the same and a " +
    "redelivered batch id is still rejected") {
    val root = java.nio.file.Files
      .createTempDirectory("sdb_").toString + "/ledger"
    val gap = 100L
    // key 1's burst spans batches 0-2, so its rows from the earlier
    // batches are superseded ones that compaction must carry along
    val bs = Seq(
      Seq((1L, ts(0), 10L), (2L, ts(0), 20L)),
      Seq((1L, ts(90), 11L)),
      Seq((1L, ts(150), 12L), (2L, ts(500), 21L)),
      Seq((3L, ts(10), 30L)))
      .map(_.toDF("key", "ts", "id"))
    bs.zipWithIndex.foreach { case (b, i) =>
      assert(StreamDebounce.mergeBatch(b, i.toLong, root, gap))
    }
    val before = collectBursts(root)
    assert(SegmentLedger.list(spark, root).units.size == 4)
    assert(SegmentLedger.compactSegments(spark, root,
      target = Long.MaxValue) == 1)
    val after = SegmentLedger.list(spark, root)
    assert(after.units.size == 1 && after.watermark == 3L)
    assert(collectBursts(root) === before)
    assert(before === Set(
      (1L, 1L, 10L, 3L, ts(0), 150L),
      (2L, 1L, 20L, 1L, ts(0), 0L),
      (2L, 2L, 21L, 1L, ts(500), 0L),
      (3L, 1L, 30L, 1L, ts(10), 0L)))
    assert(!StreamDebounce.mergeBatch(bs(2), 2L, root, gap))
    assert(collectBursts(root) === before)
  }

  test("a batch whose first burst does NOT merge still numbers its " +
    "later bursts correctly") {
    val root = java.nio.file.Files
      .createTempDirectory("sdb_").toString + "/ledger"
    val gap = 10L
    val b0 = Seq((1L, ts(0), 1L)).toDF("key", "ts", "id")
    // first batch-1 burst at 100s (gap 100 > 10 -> no merge), second
    // at 200s -> bursts must number 2 and 3, never both 2
    val b1 = Seq((1L, ts(100), 2L), (1L, ts(200), 3L))
      .toDF("key", "ts", "id")
    assert(StreamDebounce.mergeBatch(b0, 0L, root, gap))
    assert(StreamDebounce.mergeBatch(b1, 1L, root, gap))
    assert(collectBursts(root) === Set(
      (1L, 1L, 1L, 1L, ts(0), 0L),
      (1L, 2L, 2L, 1L, ts(100), 0L),
      (1L, 3L, 3L, 1L, ts(200), 0L)))
  }

  test("fixture stream split into 3 arrival-ordered batches == batch " +
    "Debounce.bursts over the full history (the oracle mirror)") {
    val root = java.nio.file.Files
      .createTempDirectory("sdb_").toString + "/ledger"
    val ev = graft.core.Tables(spark, SfDir, "events")
      .select(col("user_id").as("key"), col("ts"),
        col("event_id").as("id"))
    val bounds = ev.agg(min(expr("unix_micros(ts)")),
      max(expr("unix_micros(ts)"))).as[(Long, Long)].head()
    val cut1 = bounds._1 + (bounds._2 - bounds._1) / 3
    val cut2 = bounds._1 + 2 * (bounds._2 - bounds._1) / 3
    val slices = Seq(
      ev.filter(expr(s"unix_micros(ts) <= $cut1")),
      ev.filter(expr(s"unix_micros(ts) > $cut1 AND unix_micros(ts) <= $cut2")),
      ev.filter(expr(s"unix_micros(ts) > $cut2")))
    slices.zipWithIndex.foreach { case (s, i) =>
      assert(StreamDebounce.mergeBatch(s, i.toLong, root))
    }
    val got = collectBursts(root)
    val want = Debounce.bursts(ev, "key", "ts", "id",
      Debounce.DefaultGapSeconds).as[Burst].collect().toSet
    assert(got === want)
    assert(got.exists(_._4 > 1L), "no burst ever collapsed anything")
  }

  test("sink: writeStream wiring folds MemoryStream batches into the " +
    "same ledger shape") {
    val dir = java.nio.file.Files.createTempDirectory("sdb_").toFile
    val target = new java.io.File(dir, "ledger").getAbsolutePath
    val ms = MemoryStream[(Long, java.sql.Timestamp, Long)](
      org.apache.spark.sql.Encoders
        .product[(Long, java.sql.Timestamp, Long)],
      spark.sqlContext)
    val events = ms.toDF().toDF("key", "ts", "id")
    val q = StreamDebounce.sink(events, target, gapSeconds = 100L)
      .option("checkpointLocation",
        new java.io.File(dir, "ckpt").getAbsolutePath)
      .start()
    try {
      ms.addData((7L, ts(0), 1L), (7L, ts(60), 2L))
      q.processAllAvailable()
      ms.addData((7L, ts(120), 3L), (7L, ts(500), 4L))
      q.processAllAvailable()
      assert(collectBursts(target) === Set(
        (7L, 1L, 1L, 3L, ts(0), 120L),
        (7L, 2L, 4L, 1L, ts(500), 0L)))
    } finally q.stop()
  }
}
