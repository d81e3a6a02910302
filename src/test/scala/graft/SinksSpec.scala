package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.load.Sinks
import graft.qc.Recon

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("delta upsert appends only changed/new rows; unchanged is no-op") {
    val dir = Files.createTempDirectory("graft_upsert").toFile.getAbsolutePath
    val target = s"$dir/t"
    val base = Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("k", "v")
    assert(Sinks.deltaUpsertAppend(spark, base, target, Seq("k")) == 3)
    // unchanged upload -> empty delta (SURVEY §5 property)
    assert(Sinks.deltaUpsertAppend(spark, base, target, Seq("k")) == 0)
    // one changed + one new
    val next = Seq((2, 21.0), (4, 40.0)).toDF("k", "v")
    assert(Sinks.deltaUpsertAppend(spark, next, target, Seq("k")) == 2)
    val rows = spark.read.parquet(target).as[(Int, Double)].collect().toSet
    assert(rows == Set((1, 10.0), (2, 20.0), (3, 30.0), (2, 21.0), (4, 40.0)))
  }

  test("delta upsert appends a new-PK row whose values are all NULL") {
    val dir = Files.createTempDirectory("graft_upsert2").toFile.getAbsolutePath
    val target = s"$dir/t"
    val base = Seq((1, Option(10.0))).toDF("k", "v")
    assert(Sinks.deltaUpsertAppend(spark, base, target, Seq("k")) == 1)
    // new PK, NULL value: the per-column difference predicate alone is
    // NULL for this row — the existence marker must still append it
    val next = Seq((2, None: Option[Double])).toDF("k", "v")
    assert(Sinks.deltaUpsertAppend(spark, next, target, Seq("k")) == 1)
    // re-sending the same NULL-valued row is then a no-op
    assert(Sinks.deltaUpsertAppend(spark, next, target, Seq("k")) == 0)
  }

  test("partitioned+sorted write: one file per partition, pruning " +
    "scan, rows sorted within files") {
    val dir = Files.createTempDirectory("psw").toString + "/docs"
    val docs = graft.core.Tables(spark, SfDir, "documents")
    Sinks.writePartitionedSorted(docs, dir, Seq("lang"), Seq("doc_id"))
    val langs = docs.select($"lang").distinct().as[String].collect()
    for (l <- langs) {
      val d = new java.io.File(s"$dir/lang=$l")
      assert(d.isDirectory, s"missing partition dir for $l")
      // one writer task per partition value: exactly one data file
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"$l: ${files.length} files")
      // sorted within the file
      val ids = spark.read.parquet(files.head.getPath)
        .select($"doc_id").as[Long].collect()
      assert(ids.sameElements(ids.sorted), s"$l not sorted")
    }
    // partition pruning: the filtered scan reads only lang=en
    val scan = spark.read.parquet(dir).filter($"lang" === "en")
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"no partition filter in:\n$plan")
    assert(scan.count() ==
      docs.filter($"lang" === "en").count())
  }

  test("truncate empties the table but keeps its schema") {
    val dir = Files.createTempDirectory("graft_trunc").toFile.getAbsolutePath
    val t = s"$dir/t"
    Seq((1, "x"), (2, "y")).toDF("k", "v").write.parquet(t)
    Sinks.truncate(spark, t)
    val back = spark.read.parquet(t)
    assert(back.count() == 0)
    assert(back.columns.toSeq == Seq("k", "v"))
  }

  test("deleteWhere cleans up its rewrite temp directory") {
    val dir = Files.createTempDirectory("graft_del2").toFile.getAbsolutePath
    val t = s"$dir/t"
    Seq((1, "x"), (2, "y")).toDF("k", "v").write.parquet(t)
    Sinks.deleteWhere(spark, t, col("v") === "x")
    assert(!new java.io.File(t + "__rewrite").exists())
  }

  test("deleteWhere removes only predicate-true rows (null-safe)") {
    val dir = Files.createTempDirectory("graft_del").toFile.getAbsolutePath
    val t = s"$dir/t"
    Seq((1, Some("x")), (2, Some("y")), (3, None: Option[String]))
      .toDF("k", "v").write.parquet(t)
    val n = graft.load.Sinks.deleteWhere(spark, t, col("v") === "x")
    assert(n == 1)
    // the null-v row survives (predicate NULL, not true)
    val left = spark.read.parquet(t).select("k").as[Int].collect().toSet
    assert(left == Set(2, 3))
  }

  test("csv sink round-trips with header") {
    val dir = Files.createTempDirectory("graft_csv_sink").toFile.getAbsolutePath
    val df = Seq(("a", 1), ("b", 2)).toDF("name", "n")
    Sinks.writeCsv(df, s"$dir/out")
    val back = spark.read.option("header", "true").csv(s"$dir/out")
    assert(back.columns.toSeq == Seq("name", "n") && back.count() == 2)
  }

  test("chunked parquet bounds records per file") {
    val dir = Files.createTempDirectory("graft_chunk").toFile.getAbsolutePath
    val df = spark.range(100).toDF("id").coalesce(1)
    Sinks.writeParquetChunked(df, s"$dir/out", maxRecordsPerFile = 30)
    val files = new java.io.File(s"$dir/out").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files >= 4) // 100 rows / 30 per file
  }

  test("before/after validation passes on a conserving transform") {
    val r = Recon.beforeAfterValidation(spark, SfDir)
    assert(r.filter(col("status") =!= "PASS").count() == 0)
  }

  test("streaming foreachBatch + upsert sink is replay-idempotent") {
    // exactly-once-by-idempotence: Structured Streaming replays a
    // micro-batch after a failure; an upsert keyed on the PK makes the
    // retry a no-op, so the sink converges to exactly-once output
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("graft_stream_upsert")
      .toFile.getAbsolutePath + "/target"
    val ms = MemoryStream[(Long, String)](
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.STRING), spark.sqlContext)
    val parsed = ms.toDF().toDF("id", "payload")
    val q = graft.streaming.StreamIngest.foreachBatchWriter(parsed) {
      (df, _) =>
        // upsert twice per micro-batch = simulated replay-after-crash
        Sinks.deltaUpsertAppend(df.sparkSession, df, dir, Seq("id"))
        Sinks.deltaUpsertAppend(df.sparkSession, df, dir, Seq("id"))
        ()
    }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow).start()
    try {
      ms.addData((1L, "a"), (2L, "b"))
      // awaitTermination returns FALSE on timeout (it does not throw):
      // assert it, or a slow shared-JVM run reads the sink before the
      // batch commits and fails with a confusing count mismatch
      assert(q.awaitTermination(180000), "stream did not finish in time")
      val out = spark.read.parquet(dir)
      assert(out.count() == 2) // replays appended nothing
      assert(out.select("id").distinct().count() == 2)
    } finally q.stop()
  }

  test("writeParquetObserved: metrics come from the write pass itself") {
    val dir = java.nio.file.Files.createTempDirectory("obs_").toFile
    val out = new java.io.File(dir, "t").getAbsolutePath
    try {
      val df = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0))
        .toDF("id", "v")
      val m = graft.load.Sinks.writeParquetObserved(df, out, Seq(
        count(lit(1)).as("n_rows"),
        sum(round($"v" * 100).cast("long")).as("cents"),
        count(when($"v".isNull, 1)).as("n_null")))
      assert(m("n_rows") == 3L)
      assert(m("cents") == 6000L)
      assert(m("n_null") == 0L)
      // and the data actually landed
      assert(spark.read.parquet(out).count() == 3L)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("partitioned upsert rewrites ONLY the delta's partitions; " +
    "delta wins on pk, survivors and untouched partitions keep") {
    val dir = Files.createTempDirectory("pup").toFile.getAbsolutePath
    val t = s"$dir/t"
    Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L), (4L, "b", 40L),
      (5L, "c", 50L)).toDF("k", "p", "cents")
      .write.partitionBy("p").parquet(t)
    def files(part: String): Map[String, Long] = {
      val d = new java.io.File(s"$t/p=$part")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val aBefore = files("a"); val cBefore = files("c")
    // delta: update k=3 in p=b, insert k=9 into p=b — p=a and p=c are
    // not present in the delta and must not be rewritten
    val delta = Seq((3L, "b", 31L), (9L, "b", 90L)).toDF("k", "p", "cents")
    assert(Sinks.partitionedUpsert(spark, delta, t, "p", Seq("k")) == 3)
    val got = spark.read.parquet(t)
      .select($"k", $"p".cast("string"), $"cents")
      .as[(Long, String, Long)].collect().toSet
    assert(got == Set((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 31L),
      (4L, "b", 40L), (5L, "c", 50L), (9L, "b", 90L)))
    // untouched partition directories: identical file names AND mtimes
    assert(files("a") == aBefore)
    assert(files("c") == cBefore)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }

  test("partitioned upsert fails loudly, and writes nothing, when a " +
    "delta partition value does not cast losslessly to the target's type") {
    val dir = Files.createTempDirectory("pup_lossy").toFile.getAbsolutePath
    val t = s"$dir/t"
    // a FLOAT partition column lands in directory p=0.1, which the
    // reader infers as the DOUBLE 0.1; the float cast to double is
    // 0.10000000149, so that partition would leave the pruning set and
    // its survivor k=1 would be dropped by the dynamic overwrite
    Seq((1L, 0.1f, 10L), (2L, 0.5f, 20L)).toDF("k", "p", "cents")
      .write.partitionBy("p").parquet(t)
    val delta = Seq((3L, 0.1f, 30L)).toDF("k", "p", "cents")
    try {
      val ex = intercept[IllegalArgumentException](
        Sinks.partitionedUpsert(spark, delta, t, "p", Seq("k")))
      assert(ex.getMessage.contains("do not cast losslessly"), ex.getMessage)
      assert(spark.read.parquet(t).select($"k").as[Long].collect().toSet ==
        Set(1L, 2L))
    } finally {
      graft.core.CacheBay.drain()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("S17 line-array payload parses to one row per line") {
    val df = Seq("""["line one", "line two", "line three"]""").toDF("value")
    val rows = graft.streaming.StreamIngest.parseLineArray(df)
      .orderBy("line_index").as[(Int, String)].collect().toSeq
    assert(rows == Seq((0, "line one"), (1, "line two"), (2, "line three")))
  }
}
