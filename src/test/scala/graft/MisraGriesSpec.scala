package graft

import org.apache.spark.sql.functions._
import graft.operators.MisraGries

class MisraGriesSpec extends SparkSpec {
  import spark.implicits._

  test("planted heavy key survives; the singleton tail does not") {
    val keys = Seq.fill(500)("hot") ++ (1 to 500).map(i => s"cold$i")
    val df = spark.sparkContext.parallelize(
        scala.util.Random.shuffle(keys), 7)
      .toDF("k")
    val got = MisraGries.exactHeavyHitters(df, "k")
      .as[(String, Long, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    // n = 1000, k = 125 -> threshold 8: only "hot" (500 > 8) passes
    assert(got.toList === List(("hot", 500L, 1000L, 500000L)))
  }

  test("output is identical to the naive GROUP BY + HAVING on a " +
    "many-heavy-key frame, regardless of partitioning") {
    val df = (1 to 2000).map(i => (i % 37).toString).toDF("k")
      .repartition(13)
    val got = MisraGries.exactHeavyHitters(df, "k")
      .as[(String, Long, Long, Long)].collect().toSet
    graft.core.SessionCache.endQuery()
    val naive = (1 to 2000).map(i => (i % 37).toString)
      .groupBy(identity).map { case (k, xs) => (k, xs.size.toLong) }
      .filter(_._2 * MisraGries.K > 2000L)
      .map { case (k, c) =>
        (k, c, 2000L, c * 1000000L / 2000L) }.toSet
    assert(got === naive)
    assert(got.size == 37) // every key is above 0.8% here
  }

  test("fixture user_id heavy hitters equal the naive plan") {
    val ev = graft.core.Tables(spark, SfDir, "events")
    val got = MisraGries.exactHeavyHitters(ev, "user_id")
      .as[(String, Long, Long, Long)].collect().toSet
    graft.core.SessionCache.endQuery()
    val n = ev.count()
    val naive = ev.groupBy(col("user_id").cast("string").as("key"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * MisraGries.K > n)
      .as[(String, Long)].collect()
      .map { case (k, c) => (k, c, n, c * 1000000L / n) }.toSet
    assert(got === naive)
    assert(got.nonEmpty, "threshold too high for the fixture")
  }
}
