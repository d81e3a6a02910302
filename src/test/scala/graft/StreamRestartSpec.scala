package graft

import java.io.File
import java.sql.Timestamp
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{KmvStream, Quota, SessionState, Stateful}
import graft.streaming.KmvStream.KeyedHash
import graft.streaming.Quota.{Ev => QEv}
import graft.streaming.SessionState.{Ev => SEv}
import graft.streaming.Stateful.Obs

/** Restart equivalence for the stateful streaming operators: a query
  * stopped after micro-batch k and restarted on the same checkpoint and
  * the same source writes exactly the parquet sink rows of an
  * uninterrupted run over the same batch schedule. The state store, the
  * event-time watermark and the file sink's commit log all come back
  * from the checkpoint. Each schedule keeps state open across the
  * restart, so rows written after it depend on state from before it. */
class StreamRestartSpec extends SparkSpec {

  private def ts(hhmm: String) = Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  /** One operator under test: its micro-batch schedule, the batch after
    * which the interrupted run stops and restarts, and the operator. */
  private case class Case[T](name: String, batches: Seq[Seq[T]],
      stopAfter: Int, op: Dataset[T] => Dataset[_])(
      implicit val enc: Encoder[T])

  private val cases: Seq[Case[_]] = Seq(
    // user 1's 9.0 is a spike only against the mean carried from batch 0
    Case[Obs]("Stateful.spikeScores", Seq(
      Seq(Obs(1L, ts("01:00"), 1.0), Obs(1L, ts("02:00"), 1.0),
        Obs(2L, ts("01:00"), 5.0)),
      Seq(Obs(1L, ts("03:00"), 9.0), Obs(2L, ts("02:00"), 5.0)),
      Seq(Obs(1L, ts("04:00"), 2.0), Obs(2L, ts("03:00"), 20.0))),
      stopAfter = 0, Stateful.spikeScores(_))(Encoders.product[Obs]),
    // user 1's budget of 3 is two-thirds spent before the restart
    Case[QEv]("Quota.quotaStream", Seq(
      Seq(QEv(1L, ts("01:00"), 10L), QEv(1L, ts("02:00"), 11L)),
      Seq(QEv(1L, ts("03:00"), 12L), QEv(1L, ts("04:00"), 13L),
        QEv(2L, ts("01:00"), 20L)),
      Seq(QEv(1L, ts("05:00"), 14L), QEv(2L, ts("02:00"), 21L))),
      stopAfter = 0, Quota.quotaStream(_, n = 3L))(Encoders.product[QEv]),
    // both users' sessions and the 10:00 watermark span the restart;
    // the 20:00 events push the watermark past every early deadline
    Case[SEv]("SessionState.sessionize", Seq(
      Seq(SEv(1L, ts("10:00"), 1.0), SEv(2L, ts("10:05"), 2.0)),
      Seq(SEv(1L, ts("10:10"), 3.0)),
      Seq(SEv(1L, ts("11:00"), 4.0)),
      Seq(SEv(3L, ts("20:00"), 0.0)),
      Seq(SEv(3L, ts("20:01"), 0.0))),
      stopAfter = 1, SessionState.sessionize(_))(Encoders.product[SEv]),
    // the click sketch fills (k = 4) after the restart and re-truncates
    Case[KeyedHash]("KmvStream.sketchStream", Seq(
      Seq(KeyedHash("click", 50L), KeyedHash("click", 20L),
        KeyedHash("view", 30L)),
      Seq(KeyedHash("click", 40L), KeyedHash("click", 60L),
        KeyedHash("click", 70L), KeyedHash("view", 30L)),
      Seq(KeyedHash("click", 10L), KeyedHash("view", 5L))),
      stopAfter = 0, KmvStream.sketchStream(_, k = 4))(
      Encoders.product[KeyedHash]))

  /** Feed `c`'s schedule through a parquet file sink, restarting after
    * batch `c.stopAfter` when `restart`; the sink's rows, sorted. */
  private def run[T](c: Case[T], restart: Boolean): Seq[Row] = {
    val dir = java.nio.file.Files.createTempDirectory("restart_").toFile
    val out = new File(dir, "out").getAbsolutePath
    try {
      val ms = MemoryStream[T](c.enc, spark.sqlContext)
      def start() = c.op(ms.toDS()).toDF().writeStream.format("parquet")
        .option("checkpointLocation", new File(dir, "ckpt").getAbsolutePath)
        .option("path", out).outputMode("append").start()
      var q = start()
      try c.batches.zipWithIndex.foreach { case (b, i) =>
        ms.addData(b: _*)
        q.processAllAvailable()
        if (restart && i == c.stopAfter) { q.stop(); q = start() }
      } finally q.stop()
      spark.read.parquet(out).collect().toSeq.sortBy(_.toString)
    } finally FileUtils.deleteDirectory(dir)
  }

  private def check[T](c: Case[T]): Unit = {
    val whole = run(c, restart = false)
    assert(whole.nonEmpty, s"${c.name} wrote nothing")
    val restarted = run(c, restart = true)
    assert(restarted == whole,
      s"${c.name}: restarted $restarted, uninterrupted $whole")
  }

  cases.foreach { c =>
    test(s"${c.name}: a restart after batch ${c.stopAfter} on the same " +
      "checkpoint writes the rows of an uninterrupted run")(check(c))
  }
}
