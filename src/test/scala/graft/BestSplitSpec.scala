package graft

import org.apache.spark.sql.functions._
import graft.analytics.BestSplit

class BestSplitSpec extends SparkSpec {
  import spark.implicits._

  test("bestSplit finds the perfect separator with full gain") {
    val df = (Seq.fill(4)((1L, 0L)) ++ Seq((2L, 1L)) ++
      Seq.fill(3)((3L, 1L))).toDF("v", "y")
    val got = BestSplit.bestSplit(df, col("v"), col("y"))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    // split at v<=1 separates classes exactly: score 4+4, parent 4
    assert(got.toList === List((1L, 4L, 4L, 8L, 4L, 4L)))
  }

  test("bestSplit tie-breaks to the smallest threshold") {
    val df = (Seq.fill(3)((1L, 0L)) ++ Seq((2L, 0L), (2L, 1L)) ++
      Seq.fill(3)((3L, 1L))).toDF("v", "y")
    val got = BestSplit.bestSplit(df, col("v"), col("y"))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    // v=1 and v=2 both score 6; the smaller threshold wins
    assert(got.toList === List((1L, 3L, 5L, 6L, 4L, 2L)))
  }

  test("bestSplit on fixture orders matches a scalar argmax recompute") {
    val o = graft.core.Tables(spark, SfDir, "orders")
    val got = BestSplit.bestSplit(o,
      floor(col("o_totalprice") * 100.0 + 0.5),
      when(col("o_orderstatus") === "F", 1L).otherwise(0L))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    assert(got.length == 1)
    val rows = o.select(
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L))
      .as[(Long, Long)].collect().sortBy(_._1)
    val n = rows.length.toLong
    val n1 = rows.map(_._2).sum
    var (nl, l1) = (0L, 0L)
    var best = Long.MinValue
    var bestV = 0L
    var bestNl = 0L
    rows.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (v, xs) =>
      nl += xs.length; l1 += xs.map(_._2).sum
      if (nl < n) {
        val l0 = nl - l1
        val r1 = n1 - l1
        val r0 = (n - n1) - l0
        val s = (l0 * l0 + l1 * l1) / nl + (r0 * r0 + r1 * r1) / (n - nl)
        if (s > best) { best = s; bestV = v; bestNl = nl }
      }
    }
    val parent = ((n - n1) * (n - n1) + n1 * n1) / n
    assert(got.head === ((bestV, bestNl, n - bestNl, best, parent,
      best - parent)))
  }
}
