package graft

import org.apache.spark.sql.functions._
import graft.operators.{PrefixScan, Skyline}

class PrefixScanSpec extends SparkSpec {
  import spark.implicits._

  test("prefixSum equals the naive global window on shuffled input " +
    "spread over several partitions") {
    // values chosen so every prefix is distinct; input arrives in a
    // scrambled order and in 5 partitions to exercise range placement
    val rows = (1L to 200L).map(i => (i, (i * 37 % 101) + 1))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(scala.util.Random.shuffle(rows), 5))
      .toDF("k", "v")
    val got = PrefixScan.prefixSum(df, Seq("k"), "v", "cum")
      .select("k", "cum").as[(Long, Long)].collect().toMap
    graft.core.SessionCache.endQuery()
    var acc = 0L
    val want = rows.sortBy(_._1).map { case (k, v) =>
      acc += v; (k, acc)
    }.toMap
    assert(got === want)
  }

  test("prefixAgg max: exclusive column is the strictly-before max, " +
    "Long.MinValue at the global first row") {
    val df = Seq((1L, 5L), (2L, 3L), (3L, 9L), (4L, 9L), (5L, 1L))
      .toDF("k", "v").repartition(3)
    val got = PrefixScan
      .prefixAgg(df, Seq("k"), "v", "max", "mi", "me")
      .select("k", "mi", "me").as[(Long, Long, Long)].collect()
      .sortBy(_._1)
    graft.core.SessionCache.endQuery()
    assert(got.toSeq === Seq(
      (1L, 5L, Long.MinValue), (2L, 5L, 5L), (3L, 9L, 5L),
      (4L, 9L, 9L), (5L, 9L, 9L)))
  }

  test("non-LONG value column is rejected with the associativity " +
    "rationale") {
    val df = Seq((1L, 1.5)).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      PrefixScan.prefixSum(df, Seq("k"), "v", "cum")
    }
    assert(e.getMessage.contains("must be LONG"))
  }

  test("the scan's plan has no global window and no full-frame hash " +
    "exchange — one range shuffle plus a broadcast join") {
    val df = spark.range(0, 1000)
      .select(col("id").as("k"), (col("id") % 7 + 1).as("v"))
    val scanned = PrefixScan.prefixSum(df, Seq("k"), "v", "cum")
    val p = scanned.queryExecution.executedPlan.toString
    graft.core.SessionCache.endQuery()
    assert(!p.contains("Window"), s"global window leaked in:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"full-frame hash exchange in:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("Broadcast"),
      s"offset join is not broadcast:\n$p")
  }

  test("edge cases: empty input yields empty output; a single row " +
    "scans to itself; duplicate order keys are caller error but sums " +
    "stay total-correct") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("k", "v")
    assert(PrefixScan.prefixSum(empty, Seq("k"), "v", "cum").count() == 0)
    graft.core.SessionCache.endQuery()
    val one = Seq((7L, 42L)).toDF("k", "v")
    val r = PrefixScan.prefixSum(one, Seq("k"), "v", "cum")
      .select("k", "cum").as[(Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    assert(r.toSeq == Seq((7L, 42L)))
    // ties on the order key: per-row cums are boundary-dependent (the
    // documented contract) but the FINAL cumulative is still the total
    val tied = Seq((1L, 10L), (1L, 20L), (1L, 30L)).toDF("k", "v")
    val cums = PrefixScan.prefixSum(tied, Seq("k"), "v", "cum")
      .select("cum").as[Long].collect()
    graft.core.SessionCache.endQuery()
    assert(cums.max == 60L)
  }

  test("adversarial skew: one order-key value holding 50% of rows " +
    "still spreads across partitions and matches the naive window") {
    // X141's claim is exactly "no single-task trap" — prove it under
    // a skewed key, not just uniform fixtures: the tiebreak column
    // (part of the UNIQUE total order the contract requires) lets the
    // range partitioner split the hot value's run across boundaries
    val n = 20000
    val rows = (0 until n).map { i =>
      val k = if (i % 2 == 0) 42L else (i * 131) % 1000L + 1000L
      (k, i.toLong, (i % 7 + 1).toLong)
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      scala.util.Random.shuffle(rows), 8)).toDF("k", "id", "v")
    val parts = 8
    val scanned = PrefixScan.prefixAgg(df, Seq("k", "id"), "v", "sum",
      "cum", "cum_excl", numParts = parts)
    // spread: re-derive the range placement the operator used and
    // assert no partition got more than 2x the mean
    val sizes = df.repartitionByRange(parts, col("k"), col("id"))
      .select(org.apache.spark.sql.functions.spark_partition_id()
        .as("p"))
      .groupBy("p").count().as[(Int, Long)].collect().map(_._2)
    val mean = sizes.sum.toDouble / sizes.length
    assert(sizes.max <= 2 * mean,
      s"skewed key collapsed the range partitioning: " +
        s"sizes=${sizes.toSeq} mean=$mean")
    // correctness under skew: equals the naive sequential scan
    val got = scanned.select("id", "cum", "cum_excl")
      .as[(Long, Long, Long)].collect()
      .map { case (id, c, e) => id -> (c, e) }.toMap
    graft.core.SessionCache.endQuery()
    var acc = 0L
    val want = rows.sortBy(r => (r._1, r._2)).map { case (_, id, v) =>
      val e = acc; acc += v; id -> (acc, e)
    }.toMap
    assert(got === want)
  }

  test("Skyline.frontier: hand case — dominated rows drop, equal " +
    "(price,size) duplicates both survive") {
    val part = Seq(
      // (key, brand, price, size)
      (1L, "A", 10.0, 5), // frontier (cheapest)
      (2L, "A", 20.0, 4), // dominated by 1 (pricier, smaller)
      (3L, "B", 20.0, 9), // frontier (bigger than anything cheaper)
      (4L, "B", 20.0, 9), // duplicate of 3 -> both survive
      (5L, "C", 30.0, 9), // dominated by 3 (same size, pricier)
      (6L, "C", 40.0, 12) // frontier
    ).toDF("p_partkey", "p_brand", "p_retailprice", "p_size")
    val got = Skyline.frontier(part)
      .select("p_partkey").as[Long].collect().toSet
    graft.core.SessionCache.endQuery()
    assert(got === Set(1L, 3L, 4L, 6L))
  }

  test("Skyline.frontier: fixture parts match the naive quadratic " +
    "domination filter") {
    val part = graft.core.Tables(spark, SfDir, "part")
    val got = Skyline.frontier(part).select("p_partkey")
      .as[Long].collect().toSet
    graft.core.SessionCache.endQuery()
    val rows = part.select(col("p_partkey"),
      floor(col("p_retailprice") * 100.0 + 0.5).cast("long").as("pc"),
      col("p_size").cast("long").as("sz"))
      .as[(Long, Long, Long)].collect()
    val want = rows.filter { case (_, pc, sz) =>
      !rows.exists { case (_, pc2, sz2) =>
        pc2 <= pc && sz2 >= sz && (pc2 < pc || sz2 > sz)
      }
    }.map(_._1).toSet
    assert(got === want && want.nonEmpty)
  }
}
