package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.streaming.StreamIngest

class StreamIngestSpec extends SparkSpec {
  import spark.implicits._

  private val inner = StructType(Seq(
    StructField("feature0", DoubleType),
    StructField("feature1", DoubleType),
    StructField("label", LongType)))

  // the producer contract payload (reference Dataset/stream.py:156-176):
  // outer keys = stringified row indices, inner = feature dict (+label)
  private val payload =
    """{"0": {"feature0": 1.5, "feature1": 2.5, "label": 7},
      | "1": {"feature0": 3.0, "feature1": 4.0, "label": 9}}""".stripMargin
      .replace("\n", "")

  test("parsePayload explodes a batch object into typed rows (batch)") {
    val df = Seq(payload).toDF("value")
    val rows = StreamIngest.parsePayload(df, inner)
      .orderBy("row_index")
      .as[(Long, Double, Double, Long)].collect().toSeq
    assert(rows == Seq((0L, 1.5, 2.5, 7L), (1L, 3.0, 4.0, 9L)))
  }

  test("same transform runs as a Structured Streaming query (MemoryStream)") {
    val ms = MemoryStream[String](org.apache.spark.sql.Encoders.STRING, spark.sqlContext)
    val parsed = StreamIngest.parsePayload(ms.toDF().toDF("value"), inner)
    val q = parsed.writeStream.format("memory")
      .queryName("ingest_test").outputMode("append").start()
    try {
      ms.addData(payload)
      q.processAllAvailable()
      val rows = spark.table("ingest_test").orderBy("row_index")
        .as[(Long, Double, Double, Long)].collect().toSeq
      assert(rows == Seq((0L, 1.5, 2.5, 7L), (1L, 3.0, 4.0, 9L)))
    } finally q.stop()
  }

  test("foreachBatch hook sees each micro-batch") {
    val ms = MemoryStream[String](org.apache.spark.sql.Encoders.STRING, spark.sqlContext)
    val parsed = StreamIngest.parsePayload(ms.toDF().toDF("value"), inner)
    @volatile var seen = 0L
    val q = StreamIngest.foreachBatchWriter(parsed) { (df, _) =>
      seen += df.count()
    }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow).start()
    try {
      ms.addData(payload)
      q.awaitTermination(30000)
      assert(seen == 2L)
    } finally q.stop()
  }

  test("live TCP socket source parses the producer contract end-to-end") {
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    val t = new Thread(() => {
      try {
        val sock = server.accept()
        val out = new java.io.PrintWriter(sock.getOutputStream, true)
        out.println(payload) // newline-terminated, per stream.py:65
        Thread.sleep(3000)
        sock.close()
      } catch { case _: Throwable => () } finally server.close()
    })
    t.setDaemon(true)
    t.start()
    val parsed = StreamIngest.socketStream(spark, inner, "localhost", port)
    val q = parsed.writeStream.format("memory")
      .queryName("socket_test").outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table("socket_test").count() < 2 &&
        System.currentTimeMillis() < deadline) Thread.sleep(200)
      val rows = spark.table("socket_test").orderBy("row_index")
        .as[(Long, Double, Double, Long)].collect().toSeq
      assert(rows == Seq((0L, 1.5, 2.5, 7L), (1L, 3.0, 4.0, 9L)))
    } finally q.stop()
  }

  test("watermarked windowed aggregation over an event-time stream") {
    import java.sql.Timestamp
    val ms = MemoryStream[(Timestamp, String)](
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.TIMESTAMP,
        org.apache.spark.sql.Encoders.STRING), spark.sqlContext)
    val df = ms.toDF().toDF("ts", "label")
    val agg = StreamIngest.windowedCounts(df, "ts", "10 minutes",
      "5 minutes")
    val q = agg.writeStream.format("memory").queryName("win_test")
      .outputMode("append").start()
    try {
      def t(m: String) = Timestamp.valueOf(s"2026-01-01 $m:00")
      ms.addData((t("10:01"), "a"), (t("10:02"), "a"), (t("10:11"), "b"))
      q.processAllAvailable()
      // advance watermark far enough to close the 10:00 and 10:10 windows
      ms.addData((t("11:00"), "c"))
      q.processAllAvailable()
      val rows = spark.table("win_test")
        .select("label", "n").as[(String, Long)].collect().toMap
      assert(rows("a") == 2L && rows("b") == 1L)
    } finally q.stop()
  }

  test("streaming exact dedup drops repeated fingerprints within watermark") {
    import java.sql.Timestamp
    val ms = MemoryStream[(Timestamp, String)](
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.TIMESTAMP,
        org.apache.spark.sql.Encoders.STRING), spark.sqlContext)
    val df = ms.toDF().toDF("ts", "text")
    val deduped = StreamIngest.streamingExactDedup(df, "ts")
    val q = deduped.writeStream.format("memory").queryName("sdedup_test")
      .outputMode("append").start()
    try {
      def t(m: String) = Timestamp.valueOf(s"2026-01-01 $m:00")
      ms.addData(
        (t("10:00"), "Hello  World!"),
        (t("10:01"), "hello world"), // same normalized fingerprint
        (t("10:02"), "different doc"))
      q.processAllAvailable()
      assert(spark.table("sdedup_test").count() == 2)
    } finally q.stop()
  }

  test("AvailableNow drain: processes backlog, stops, and a second " +
    "drain picks up only new files") {
    val root = java.nio.file.Files.createTempDirectory("drain_").toFile
    val src = new java.io.File(root, "src"); src.mkdirs()
    val out = new java.io.File(root, "out").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    def writeFile(name: String, rows: (Int, Double)*): Unit = {
      val body = rows.map { case (i, v) =>
        s""""$i": {"feature0": $v, "feature1": 0.0, "label": 1}"""
      }.mkString("{", ", ", "}")
      java.nio.file.Files.write(new java.io.File(src, name).toPath,
        body.getBytes("UTF-8"))
    }
    try {
      writeFile("b0.json", 0 -> 1.0, 1 -> 2.0)
      StreamIngest.drainAvailableNow(spark, src.getAbsolutePath, inner,
        out, ckpt)
      val first = spark.read.parquet(out)
        .select("row_index", "feature0").as[(Long, Double)]
        .collect().sorted.toSeq
      assert(first == Seq((0L, 1.0), (1L, 2.0)))
      // backlog drained -> the query terminated (we got here) and a
      // second drain with the same checkpoint reprocesses NOTHING old
      writeFile("b1.json", 0 -> 3.0)
      StreamIngest.drainAvailableNow(spark, src.getAbsolutePath, inner,
        out, ckpt)
      val second = spark.read.parquet(out)
        .select("row_index", "feature0").as[(Long, Double)]
        .collect().sorted.toSeq
      assert(second == Seq((0L, 1.0), (0L, 3.0), (1L, 2.0)))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    }
  }

  test("payload round trip over events equals the direct projection") {
    val rt = StreamIngest.payloadRoundTrip(spark, SfDir)
    val direct = graft.core.Tables(spark, SfDir, "events")
      .select((col("event_id") % 100).cast("long").as("row_index"),
        col("value").as("feature0"),
        col("user_id").cast("double").as("feature1"),
        col("event_type").as("label"))
    assert(rt.exceptAll(direct).count() == 0 &&
      direct.exceptAll(rt).count() == 0)
  }

  // The spelling parsePayload/parseLineArray had before they parsed each
  // payload once: plain explode/posexplode, which Catalyst guards with
  // an inferred `size(...) > 0` filter that copies from_json.
  private def explodeSpelling(raw: DataFrame, inner: StructType): DataFrame =
    raw.select(from_json(col("value"), MapType(StringType, inner)).as("batch"))
      .select(explode(col("batch")).as(Seq("row_index", "row")))
      .select(col("row_index").cast("long").as("row_index") +:
        inner.fields.toIndexedSeq.map(f => col(s"row.${f.name}").as(f.name)): _*)
  private def posexplodeSpelling(raw: DataFrame): DataFrame =
    raw.select(posexplode(from_json(col("value"),
      ArrayType(StringType))).as(Seq("line_index", "line")))

  private def jsonParses(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.map(_.collect {
        case j: org.apache.spark.sql.catalyst.expressions.JsonToStructs => j
      }.size).sum
    }.sum

  private val payloadLines = Seq(payload, "{}", "[]", "null", "{\"0\": ",
    """{"5": {"feature0": 1.0}, "7": null}""", "not json")
  private val arrayLines = Seq("""["a", "b", null]""", "[]", "{}", "null",
    """["unterminated""", "42")

  /** `f` applied to `lines` as one MemoryStream micro-batch. */
  private def streamed(lines: Seq[String], name: String)(
      f: DataFrame => DataFrame): Seq[Row] = {
    val ms = MemoryStream[String](org.apache.spark.sql.Encoders.STRING, spark.sqlContext)
    val q = f(ms.toDF().toDF("value")).writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    try {
      ms.addData(lines: _*)
      q.processAllAvailable()
      spark.table(name).collect().toSeq
    } finally q.stop()
  }

  private def sameRows(a: Seq[Row], b: Seq[Row]): Unit =
    assert(a.map(_.toString).sorted == b.map(_.toString).sorted)

  test("parsePayload and parseLineArray parse each payload once and " +
    "keep the explode spelling's rows on edge lines (batch and stream)") {
    // a text source: a local Seq would fold into a LocalRelation
    val dir = java.nio.file.Files.createTempDirectory("ingest_edge_")
    def textOf(name: String, ls: Seq[String]) = {
      val f = dir.resolve(name)
      java.nio.file.Files.write(f, ls.asJava)
      spark.read.text(f.toString)
    }
    try {
      val lines = textOf("payloads.txt", payloadLines)
      val arrays = textOf("arrays.txt", arrayLines)
      assert(jsonParses(StreamIngest.parsePayload(lines, inner)) == 1)
      assert(jsonParses(StreamIngest.parseLineArray(arrays)) == 1)
      // the old spelling really did parse twice (what this case guards)
      assert(jsonParses(explodeSpelling(lines, inner)) > 1)
      sameRows(StreamIngest.parsePayload(lines, inner).collect().toSeq,
        explodeSpelling(lines, inner).collect().toSeq)
      sameRows(StreamIngest.parseLineArray(arrays).collect().toSeq,
        posexplodeSpelling(arrays).collect().toSeq)
      assert(StreamIngest.parsePayload(lines, inner).count() == 4)
      assert(StreamIngest.parseLineArray(arrays).count() == 3)
      sameRows(streamed(payloadLines, "ingest_edge_new")(StreamIngest.parsePayload(_, inner)),
        streamed(payloadLines, "ingest_edge_old")(explodeSpelling(_, inner)))
      sameRows(streamed(arrayLines, "lines_edge_new")(StreamIngest.parseLineArray),
        streamed(arrayLines, "lines_edge_old")(posexplodeSpelling))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
