package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.streaming.Stateful
import graft.streaming.Stateful.Obs

class StatefulSpec extends SparkSpec {
  import spark.implicits._

  private def ts(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")

  test("spike detector state persists across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ms = MemoryStream[Obs](
      org.apache.spark.sql.Encoders.product[Obs], spark.sqlContext)
    val q = Stateful.spikeScores(ms.toDS())
      .writeStream.format("memory").queryName("spike_test")
      .outputMode("append").start()
    try {
      // batch 1 establishes mean 1.0 — no spikes possible yet
      ms.addData(Obs(1L, ts(1), 1.0), Obs(1L, ts(2), 1.0))
      q.processAllAvailable()
      // batch 2: 9.0 > 3 × mean(1.0) is a spike ONLY if the state
      // survived the micro-batch boundary
      ms.addData(Obs(1L, ts(3), 9.0), Obs(2L, ts(3), 50.0))
      q.processAllAvailable()
      val rows = spark.table("spike_test")
        .select($"user_id", $"value", $"is_spike")
        .as[(Long, Double, Boolean)].collect().toSet
      assert(rows.contains((1L, 9.0, true)))
      assert(rows.contains((1L, 1.0, false)))
      assert(rows.contains((2L, 50.0, false))) // first event: never a spike
    } finally q.stop()
  }

  test("batch run of the state function equals the window mirror") {
    val obs = graft.core.Tables(spark, SfDir, "events")
      .select($"user_id", $"ts", $"value").as[Obs]
    val viaState = Stateful.spikeScores(obs).toDF()
      .select($"user_id", $"ts", $"value", $"running_mean_e6",
        when($"is_spike", 1L).otherwise(0L).as("is_spike"))
    val viaWindow = SparkEntry.queries("events_spike_scores")(spark, SfDir)
    assert(viaState.exceptAll(viaWindow).count() == 0 &&
      viaWindow.exceptAll(viaState).count() == 0)
  }

  test("quota: admission budget holds ACROSS micro-batches; drops " +
    "emit nothing; ranks continue where the last batch stopped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Quota
    import graft.streaming.Quota.Ev
    val ms = MemoryStream[Ev](
      org.apache.spark.sql.Encoders.product[Ev], spark.sqlContext)
    val q = Quota.quotaStream(ms.toDS(), n = 3L)
      .writeStream.format("memory").queryName("quota_test")
      .outputMode("append").start()
    try {
      ms.addData(Ev(1L, ts(1), 10L), Ev(1L, ts(2), 11L))
      q.processAllAvailable()
      // budget 3: one more admission, then the cap — only if the
      // accepted count survived the micro-batch boundary
      ms.addData(Ev(1L, ts(3), 12L), Ev(1L, ts(4), 13L),
        Ev(2L, ts(1), 20L))
      q.processAllAvailable()
      ms.addData(Ev(1L, ts(5), 14L)) // over budget — must emit nothing
      q.processAllAvailable()
      val got = spark.table("quota_test")
        .select($"user_id", $"event_id", $"quota_rank")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == Set((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L),
        (2L, 20L, 1L)), s"quota violated: $got")
    } finally q.stop()
  }

  test("quota: batch face equals the streaming fold on in-order data") {
    import graft.streaming.Quota
    val ev = graft.core.Tables(spark, SfDir, "events")
      .select($"user_id", $"ts", $"event_id")
    val viaWindow = Quota.quotaFilter(ev, n = 5L)
    val viaState = Quota.quotaStream(ev.as[Quota.Ev], n = 5L).toDF()
    assert(viaWindow.exceptAll(viaState).count() == 0 &&
      viaState.exceptAll(viaWindow).count() == 0)
  }
}
