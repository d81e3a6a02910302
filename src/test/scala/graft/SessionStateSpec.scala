package graft

import graft.streaming.SessionState
import graft.streaming.SessionState.{Ev, OpenSession}

class SessionStateSpec extends SparkSpec {
  import spark.implicits._

  private def ts(hhmm: String) =
    java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  test("foldEvents: gap breaks strictly beyond the gap, cents " +
    "accumulate, open tail survives") {
    val gapUs = 30L * 60L * 1000000L
    def us(hhmm: String) = ts(hhmm).getTime * 1000L
    val (closed, open) = SessionState.foldEvents(None,
      Seq((us("10:00"), 100L), (us("10:30"), 50L), // gap == 30m: same
        (us("11:30"), 25L)), gapUs)               // 60m: breaks
    assert(closed.map(s => (s.n, s.cents)) == Seq((2L, 150L)))
    assert(open.contains(OpenSession(us("11:30"), us("11:30"), 1L, 25L)))
  }

  test("sessionize: gap-closed sessions emit with their closer's " +
    "batch; open sessions emit only when the watermark passes " +
    "last + gap; sessions span micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ms = MemoryStream[Ev](
      org.apache.spark.sql.Encoders.product[Ev], spark.sqlContext)
    val q = SessionState.sessionize(ms.toDS())
      .writeStream.format("memory").queryName("sess_test")
      .outputMode("append").start()
    def emitted() = spark.table("sess_test")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Double)]
      .collect().map(r => (r._1, r._2, r._3, r._4)).toSet
    try {
      // batch 1: user 1 opens a session across two events; user 2 one
      ms.addData(Ev(1L, ts("10:00"), 1.0), Ev(2L, ts("10:05"), 2.0))
      q.processAllAvailable()
      ms.addData(Ev(1L, ts("10:10"), 3.0)) // same session, next batch
      q.processAllAvailable()
      assert(emitted().isEmpty, "nothing may emit while sessions open")
      // batch 3: user 1's 11:00 event breaks the 30-min gap -> the
      // [10:00, 10:10] session closes and emits NOW; the same event
      // advances the watermark to 10:50, past user 2's 10:35 timeout,
      // so user 2's successor-less session timeout-emits here too
      ms.addData(Ev(1L, ts("11:00"), 4.0))
      q.processAllAvailable()
      assert(emitted() == Set(
        (1L, ts("10:00"), ts("10:10"), 2L),
        (2L, ts("10:05"), ts("10:05"), 1L)))
      // batch 4: a far-future event advances the watermark past every
      // open session's last + gap -> the timeouts fire
      ms.addData(Ev(3L, ts("20:00"), 0.0))
      q.processAllAvailable()
      // one more empty-ish trigger so timeout processing runs against
      // the advanced watermark
      ms.addData(Ev(3L, ts("20:01"), 0.0))
      q.processAllAvailable()
      // exactly these three: user 2's successor-less session and user
      // 1's reopened one timeout-emit, and the watermark passing the
      // first session's old 10:40 deadline emits nothing twice
      val got = emitted()
      assert(got == Set(
        (1L, ts("10:00"), ts("10:10"), 2L),
        (2L, ts("10:05"), ts("10:05"), 1L),
        (1L, ts("11:00"), ts("11:00"), 1L)), s"session set: $got")
      assert(spark.table("sess_test").count() == 3L, "a session emitted twice")
    } finally q.stop()
  }

  test("sessionize value cents are exact and the stream agrees with " +
    "the batch gap-window face on in-order data") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    val evs = Seq(
      Ev(7L, ts("09:00"), 1.25), Ev(7L, ts("09:10"), 2.50),
      Ev(7L, ts("10:30"), 0.75), // 80m gap: new session
      Ev(8L, ts("09:30"), 9.99))
    val ms = MemoryStream[Ev](
      org.apache.spark.sql.Encoders.product[Ev], spark.sqlContext)
    val q = SessionState.sessionize(ms.toDS())
      .writeStream.format("memory").queryName("sess_mirror")
      .outputMode("append").start()
    try {
      ms.addData(evs: _*)
      q.processAllAvailable()
      ms.addData(Ev(9L, ts("23:00"), 0.0)) // watermark push
      q.processAllAvailable()
      ms.addData(Ev(9L, ts("23:01"), 0.0))
      q.processAllAvailable()
      val stream = spark.table("sess_mirror")
        .filter($"user_id".isin(7L, 8L))
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Long)]
        .collect().toSet
      // batch face: the sharedSessions gap-island computation inlined
      // over the same rows (strict > gap break, exact cents)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts")
      val batch = evs.toDF("user_id", "ts", "value")
        .withColumn("tus", expr("unix_micros(ts)"))
        .withColumn("brk", when(lag($"tus", 1).over(w).isNull ||
          $"tus" - lag($"tus", 1).over(w) > 30L * 60L * 1000000L, 1L)
          .otherwise(0L))
        .withColumn("sid", sum($"brk").over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
        .groupBy($"user_id", $"sid")
        .agg(min($"ts").as("session_start"), max($"ts").as("session_end"),
          count(lit(1)).cast("long").as("n_events"),
          sum(round($"value" * 100).cast("long")).cast("long")
            .as("value_cents"))
        .select($"user_id", $"session_start", $"session_end",
          $"n_events", $"value_cents")
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Long)]
        .collect().toSet
      assert(stream == batch, s"stream=$stream batch=$batch")
    } finally q.stop()
  }
}
