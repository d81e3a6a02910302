package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.TimestampType
import graft.core.{SessionCache, Tables}

/** [[Tables]] infers each table's schema once per session and reads
  * with it afterwards: only the first read of a table in a session
  * launches the inference job, and every read is still a fresh
  * DataFrame that equals a bare `spark.read.parquet`. */
class TablesSpec extends SparkSpec {

  private val Tag = "graft.tables.spec"

  /** Spark jobs that `f` starts on this thread. Jobs carry the thread's
    * local properties, so a job from any other thread is not counted;
    * a tagged sentinel job marks the point where the listener bus has
    * delivered every earlier job start. */
  private def jobsDuring(f: => Any): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Tag)))
          .foreach(seen.add)
    }
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(Tag, tag)
      f
      sc.setLocalProperty(Tag, s"$tag:end")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.contains(s"$tag:end") &&
        System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(seen.contains(s"$tag:end"), "sentinel job never delivered")
      seen.asScala.count(_ == tag)
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(l)
    }
  }

  test("the first read of a table in a session infers its schema; " +
    "a second read launches no job") {
    val s2 = spark.newSession()
    try {
      assert(jobsDuring(Tables(s2, SfDir, "supplier")) == 1)
      assert(jobsDuring(Tables(s2, SfDir, "supplier")) == 0)
      assert(jobsDuring(Tables(s2, SfDir, "events")) == 1)
      assert(jobsDuring(Tables(s2, SfDir, "events")) == 0)
    } finally SessionCache.clear(s2)
  }

  test("every table reads the same schema and rows as spark.read.parquet") {
    for (t <- Tables.all) {
      Tables(spark, SfDir, t) // the memoized schema is used from here on
      val got = Tables(spark, SfDir, t)
      val raw = spark.read.parquet(s"$SfDir/$t.parquet")
      // the fixtures store events.ts as TIMESTAMP(MICROS) without UTC
      // adjustment, which Tables casts to TIMESTAMP (FixtureCanarySpec)
      val want =
        if (t == "events") raw.withColumn("ts", col("ts").cast(TimestampType))
        else raw
      assert(got.schema == want.schema, t)
      assert(got.collect().toSeq == want.collect().toSeq, t)
    }
  }

  test("two reads of one table are distinct relations and self-join") {
    val a = Tables(spark, SfDir, "supplier")
    val b = Tables(spark, SfDir, "supplier")
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert((ids(a) intersect ids(b)).isEmpty)
    val pairs = a.join(b, a("s_nationkey") === b("s_nationkey")).count()
    val want = a.groupBy("s_nationkey").count().collect()
      .map(r => r.getLong(1) * r.getLong(1)).sum
    assert(pairs == want && pairs > 0)
  }

  test("SessionCache.clear drops the schema memo: the next read infers again") {
    val s2 = spark.newSession()
    try {
      assert(jobsDuring(Tables(s2, SfDir, "nation")) == 1)
      assert(jobsDuring(Tables(s2, SfDir, "nation")) == 0)
      SessionCache.clear(s2)
      assert(jobsDuring(Tables(s2, SfDir, "nation")) == 1)
    } finally SessionCache.clear(s2)
  }
}
