package graft.perfbench

import java.io.{BufferedOutputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.streaming.{Stateful, StreamIngest, StreamRollup}

/** Open-loop load generator: one thread, one socket connection. Payload
  * `i` is due `i / rate` seconds after the consumer connects and is sent
  * then, whether or not the consumer has kept up. */
final class Generator(payloads: IndexedSeq[Array[Byte]], rate: Double,
    limit: Int, tracer: Tracer) extends Thread("perfbench-generator") {
  setDaemon(true)
  private val server = new ServerSocket(0, 1, InetAddress.getByName("127.0.0.1"))
  val port: Int = server.getLocalPort
  /** Harness clock at which payload 0 was due; -1 until connected. */
  @volatile var t0Ns = -1L
  @volatile var sent = 0
  @volatile private var stopped = false
  val lateNs = new Array[Long](limit)
  private var sock: Socket = _

  def dueNs(i: Int): Long = t0Ns + (i * 1e9 / rate).toLong

  override def run(): Unit = try {
    sock = server.accept()
    val out: OutputStream = new BufferedOutputStream(sock.getOutputStream)
    t0Ns = tracer.now()
    var i = 0
    while (i < limit && !stopped) {
      val wait = dueNs(i) - tracer.now()
      if (wait > 0) LockSupport.parkNanos(wait)
      out.write(payloads(i)); out.write('\n'); out.flush()
      lateNs(i) = tracer.now() - dueNs(i)
      i += 1
      sent = i
    }
  } catch {
    case _: java.io.IOException if stopped => ()
  }

  def shutdown(): Unit = {
    stopped = true
    try server.close() catch { case _: Throwable => () }
    if (sock != null) try sock.close() catch { case _: Throwable => () }
    join(10000)
  }
}

/** Open loop at a fixed offered rate: producer-contract payloads over a
  * socket into `StreamIngest.socketStream`, scored by the stateful spike
  * detector and committed per micro-batch by `StreamRollup.mergeBatch`.
  * One op is one event; its latency runs from when its payload was due
  * to the commit of the micro-batch that carried it. */
final class StreamLoad(ctx: Ctx) extends Workload {
  private val payloads = Files.readAllLines(Paths.get(ctx.spec.get("payloads").asText),
    StandardCharsets.UTF_8).asScala.map(_.getBytes(StandardCharsets.UTF_8)).toIndexedSeq
  private val rate = ctx.spec.get("rate").asDouble
  private val rowsPerPayload = ctx.spec.get("rows_per_payload").asInt
  private val triggerMs = ctx.spec.get("trigger_ms").asLong
  private val warmCount = (ctx.spec.get("warm_s").asDouble * rate).round.toInt
  private val limit = warmCount + (ctx.seconds * rate).round.toInt
  require(payloads.size >= limit, "stream_ingest: too few payloads")
  private val inner = StructType(
    (0 to 3).map(i => StructField(s"feature$i", DoubleType)) :+
      StructField("label", StringType))
  private var gen: Generator = _
  private var query: StreamingQuery = _
  private var root = ""
  private val commitNs = new ConcurrentHashMap[Long, Long]()
  /** `Cpu.opNs()` at each micro-batch's commit. */
  private val commitCpuNs = new ConcurrentHashMap[Long, Long]()
  @volatile private var injected = false

  private def spark = ctx.spark

  /** Parsed payload rows as detector input (user, event time, value). */
  private def observations(parsed: DataFrame): Dataset[Stateful.Obs] = {
    val sp = spark
    import sp.implicits._
    parsed.select(col("feature1").cast("long").as("user_id"),
        timestamp_millis(col("feature2").cast("long")).as("ts"),
        col("feature0").as("value"))
      .as[Stateful.Obs]
  }

  /** Scored events as rollup input: spikes and the rest per user. */
  private def rollupInput(scored: DataFrame): DataFrame =
    scored.select(col("user_id"),
      when(col("is_spike"), lit("spike")).otherwise(lit("base")).as("event_type"),
      col("value"))

  /** Source lines per completed micro-batch, in batch order. */
  private def batches: Seq[(Long, Long)] =
    query.recentProgress.toSeq.filter(_.numInputRows > 0)
      .map(p => p.batchId -> p.numInputRows).sortBy(_._1)

  private def committedPayloads: Long =
    batches.filter(b => commitNs.containsKey(b._1)).map(_._2).sum

  private def waitCommitted(n: Int, timeoutS: Double): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (committedPayloads < n && System.nanoTime() < deadline &&
        query.isActive) Thread.sleep(5)
    committedPayloads >= n
  }

  private def sleepUntil(ns: Long): Unit = {
    val wait = ns - ctx.tracer.now()
    if (wait > 0) LockSupport.parkNanos(wait)
  }

  private def commit(df: Dataset[Row], id: Long): Unit = {
    // --inject-fail: run but do not merge the first micro-batch that
    // starts in the window (its state must still commit)
    if (ctx.injectFail && !injected && ctx.windowStartNs > 0 &&
        ctx.tracer.now() > ctx.windowStartNs) {
      injected = true
      df.write.format("noop").mode("overwrite").save()
    } else ctx.tracer.span("stream.commit", id)(
      StreamRollup.mergeBatch(rollupInput(df), id, root))
    commitCpuNs.put(id, Cpu.opNs())
    commitNs.put(id, ctx.tracer.now())
  }

  /** A fresh session is the whole per-round set-up: the query starts
    * once, in the warm-up, so its state and rollup start empty. */
  def setup(ctx: Ctx): Unit = ()

  override def warmUp(ctx: Ctx): Unit = {
    val dir = s"${ctx.workDir}/stream"
    root = s"$dir/rollup"
    gen = new Generator(payloads, rate, limit, ctx.tracer)
    gen.start()
    val events = observations(
      StreamIngest.socketStream(spark, inner, "127.0.0.1", gen.port))
    query = Stateful.spikeScores(events).toDF().writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch((df: Dataset[Row], id: Long) => commit(df, id))
      .start()
    require(waitCommitted(warmCount, 120), "stream_ingest: warm-up did not commit")
    // the window opens when the first window payload is due
    sleepUntil(gen.dueNs(warmCount))
  }

  def window(ctx: Ctx): Unit = {
    val t0 = gen.dueNs(warmCount)
    ctx.windowStartNs = t0
    sleepUntil(gen.dueNs(limit - 1) + 1000000L)
    val committedAtEnd = committedPayloads
    waitCommitted(limit, 60)
    // raw timings and CPU clocks; run.py turns them into one op per
    // event and the CPU per event of each of the window's batches
    val bs = batches.map { case (id, n) =>
      val c = commitNs.getOrDefault(id, -1L)
      val cpu = commitCpuNs.getOrDefault(id, -1L)
      Json.arr(Seq(id.toString, n.toString,
        if (c < 0) "null" else Json.num((c - t0) / 1e6),
        if (cpu < 0) "null" else Json.num(cpu / 1e9)))
    }
    ctx.extra("stream") = Json.obj(Seq(
      "rate" -> Json.num(rate), "first" -> warmCount.toString,
      "limit" -> limit.toString, "rows_per_payload" -> rowsPerPayload.toString,
      "sent" -> gen.sent.toString, "committed_at_end" -> committedAtEnd.toString,
      "late_ms" -> Json.arr((warmCount until limit).map(i => Json.num(gen.lateNs(i) / 1e6))),
      "batches" -> Json.arr(bs)))
    val tr = ctx.tracer
    val inWindow = query.recentProgress.toSeq.filter(p =>
      p.numInputRows > 0 && commitNs.getOrDefault(p.batchId, -1L) >= t0)
    val nb = inWindow.size.max(1)
    tr.set("stream.batches", inWindow.size)
    tr.set("stream.rows_per_batch",
      inWindow.map(_.numInputRows).sum.toDouble * rowsPerPayload / nb)
    Seq("triggerExecution" -> "trigger", "getBatch" -> "getbatch",
        "queryPlanning" -> "queryplanning", "addBatch" -> "addbatch",
        "walCommit" -> "walcommit").foreach { case (k, name) =>
      tr.set(s"stream.${name}_ms", inWindow.map(p =>
        p.durationMs.asScala.get(k).map(_.toLong).getOrElse(0L)).sum.toDouble / nb)
    }
    tr.set("stream.processed_rows_s",
      inWindow.map(_.processedRowsPerSecond).sum * rowsPerPayload / nb)
    Option(query.lastProgress).flatMap(_.stateOperators.headOption).foreach { s =>
      tr.set("stream.state_rows", s.numRowsTotal)
      tr.set("stream.state_mb", s.memoryUsedBytes / 1e6)
    }
  }

  override def stateBytes(ctx: Ctx): Long =
    Option(query.lastProgress).map(_.stateOperators.map(_.memoryUsedBytes).sum)
      .getOrElse(0L)

  /** Exactly-once: the committed rollup equals a batch rollup over every
    * event sent, scored by the same detector in batch mode. run.py counts
    * the events missing from or extra in the rollup as failed ops. */
  def check(ctx: Ctx): Unit = {
    query.stop()
    gen.shutdown()
    val sp = spark
    import sp.implicits._
    val sent = spark.createDataset(payloads.take(gen.sent)
      .map(new String(_, StandardCharsets.UTF_8))).toDF("value")
    val want = graft.analytics.Analytics.eventRollup(rollupInput(
      Stateful.spikeScores(observations(StreamIngest.parsePayload(sent, inner))).toDF()))
    def byKey(df: DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("user_id"), r.getAs[String]("event_type")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("cents"))).toMap
    val exp = byKey(want)
    val got = StreamRollup.current(spark, root).map(byKey).getOrElse(Map.empty)
    val wrong = (exp.keySet ++ got.keySet).toSeq.map { k =>
      val (a, b) = (exp.getOrElse(k, (0L, 0L)), got.getOrElse(k, (0L, 0L)))
      if (a == b) 0L else math.max(math.abs(a._1 - b._1), 1L)
    }.sum
    if (wrong > 0) ctx.fail("rollup", s"$wrong events differ from the batch rollup")
    ctx.extra("wrong_events") = wrong.toString
  }
}
