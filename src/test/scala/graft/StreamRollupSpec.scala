package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.analytics.Analytics
import graft.streaming.StreamRollup

/** The streaming incremental-rollup sink: stored state after N
  * micro-batches equals the batch rollup of everything seen, and a
  * redelivered batch id is a no-op. */
class StreamRollupSpec extends SparkSpec {
  import spark.implicits._

  test("incremental rollup across micro-batches equals full recompute; " +
    "replayed batch ids are no-ops") {
    val root = java.nio.file.Files.createTempDirectory("roll_").toFile
    val target = new java.io.File(root, "rollup").getAbsolutePath
    val ms = MemoryStream[(Long, String, Double)](
      org.apache.spark.sql.Encoders.product[(Long, String, Double)],
      spark.sqlContext)
    val events = ms.toDF().toDF("user_id", "event_type", "value")
    val q = StreamRollup.sink(events, target)
      .option("checkpointLocation",
        new java.io.File(root, "ckpt").getAbsolutePath)
      .start()
    try {
      ms.addData((1L, "view", 1.50), (1L, "view", 2.25), (2L, "click", 4.00))
      q.processAllAvailable()
      ms.addData((1L, "view", 0.25), (2L, "buy", 8.00))
      q.processAllAvailable()
      val all = Seq((1L, "view", 1.50), (1L, "view", 2.25),
        (2L, "click", 4.00), (1L, "view", 0.25), (2L, "buy", 8.00))
        .toDF("user_id", "event_type", "value")
      val want = Analytics.eventRollup(all)
        .as[(Long, String, Long, Long)].collect().toSet
      def stored = StreamRollup.current(spark, target).get
        .as[(Long, String, Long, Long)].collect().toSet
      assert(stored == want)
      // redelivery: same id applied again changes nothing
      val replay = Seq((9L, "view", 100.0))
        .toDF("user_id", "event_type", "value")
      assert(!StreamRollup.mergeBatch(replay, id = 0L, target))
      assert(stored == want)
      // a NEW id applies
      assert(StreamRollup.mergeBatch(replay, id = 999L, target))
      assert(stored.contains((9L, "view", 1L, 10000L)))
      // crash atomicity: a partial version dir without _SUCCESS (a
      // writer that died mid-batch) is invisible to readers and to the
      // replay guard, and the redelivered batch overwrites it cleanly
      val partial = new java.io.File(root, "rollup/v1500")
      assert(partial.mkdirs())
      java.nio.file.Files.writeString(
        new java.io.File(partial, "part-00000.parquet").toPath, "junk")
      assert(StreamRollup.currentVersion(spark, target) == 999L)
      assert(stored.contains((9L, "view", 1L, 10000L)))
      assert(StreamRollup.mergeBatch(replay, id = 1500L, target))
      assert(StreamRollup.currentVersion(spark, target) == 1500L)
      assert(stored.contains((9L, "view", 2L, 20000L)))
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    }
  }

  test("merging raw batch rows into the stored rollup equals the batch " +
    "rollup of everything, null values included") {
    val root = java.nio.file.Files.createTempDirectory("roll_null_").toFile
    val target = new java.io.File(root, "rollup").getAbsolutePath
    val b0: Seq[(Long, String, Option[Double])] = Seq((1L, "view", Some(0.005)), (2L, "view", None),
      (3L, "buy", Some(1.0)))
    val b1: Seq[(Long, String, Option[Double])] = Seq((1L, "view", None), (2L, "view", None),
      (3L, "buy", Some(-2.675)), (4L, "click", Some(3.0)))
    def df(rows: Seq[(Long, String, Option[Double])]) = rows.toDF("user_id", "event_type", "value")
    try {
      assert(StreamRollup.mergeBatch(df(b0), 0L, target))
      assert(StreamRollup.mergeBatch(df(b1), 1L, target))
      val got = StreamRollup.current(spark, target).get.collect().map(_.toString).toSet
      val want = Analytics.eventRollup(df(b0 ++ b1)).collect().map(_.toString).toSet
      assert(got == want)
      assert(got.contains("[2,view,2,null]"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }
}
