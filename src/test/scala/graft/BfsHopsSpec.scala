package graft

import org.apache.spark.sql.functions._
import graft.graph.BfsHops

class BfsHopsSpec extends SparkSpec {
  import spark.implicits._

  test("seedHops: hand graph — frontier order, minimal hops, unreached " +
    "nodes absent") {
    // bipartite chain off seed supplier 10:
    //   s10 -0- c1 -1- s5 -2- c2 -3- s7 -4- c3 (beyond round 4)
    // plus a component never touching a seed: c4 - s9
    val orders = Seq((101L, 1L), (102L, 1L), (103L, 2L), (104L, 2L),
      (105L, 3L), (106L, 4L)).toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((101L, 10L), (102L, 5L), (103L, 5L), (104L, 7L),
      (105L, 7L), (106L, 9L)).toDF("l_orderkey", "l_suppkey")
    val got = BfsHops.seedHops(orders, lineitem)
      .as[(String, Long, Long)].collect().toSet
    graft.core.CacheBay.drain()
    assert(got === Set(
      ("supplier", 10L, 0L),
      ("customer", 1L, 1L),
      ("supplier", 5L, 2L),
      ("customer", 2L, 3L),
      ("supplier", 7L, 4L)))
  }

  test("seedHops: a node re-reachable at a larger depth keeps its " +
    "minimal hop (anti-join against the settled set binds)") {
    // diamond: s10 - c1 - s5 - c2 and ALSO s10 - c2 directly, so c2 is
    // reachable at hop 1 and again via the long path at hop 3
    val orders = Seq((1L, 1L), (2L, 2L), (3L, 2L))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((1L, 10L), (2L, 10L), (3L, 5L))
      .toDF("l_orderkey", "l_suppkey")
    // edges: c1-s10, c2-s10, c2-s5
    val got = BfsHops.seedHops(orders, lineitem)
      .as[(String, Long, Long)].collect()
      .map { case (k, i, h) => (k, i) -> h }.toMap
    graft.core.CacheBay.drain()
    assert(got(("customer", 2L)) === 1L)
    assert(got(("supplier", 5L)) === 2L)
  }

  test("seedHops on fixture data matches a scalar BFS over the " +
    "collected edge list") {
    val orders = graft.core.Tables(spark, SfDir, "orders")
    val lineitem = graft.core.Tables(spark, SfDir, "lineitem")
    val got = BfsHops.seedHops(orders, lineitem)
      .as[(String, Long, Long)].collect()
      .map { case (k, i, h) => (k, i) -> h }.toMap
    // scalar model over the same node encoding
    val pairs = lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).cast("long"),
        (col("l_suppkey") * 2 + 1).cast("long"))
      .distinct().as[(Long, Long)].collect()
    graft.core.CacheBay.drain()
    val adj = scala.collection.mutable.Map[Long, List[Long]]()
      .withDefaultValue(Nil)
    pairs.foreach { case (c, s) => adj(c) ::= s; adj(s) ::= c }
    val dist = scala.collection.mutable.Map[Long, Long]()
    var frontier = adj.keys.filter(n => n % 2 == 1 && (n / 2) % 10 == 0)
      .toSet
    frontier.foreach(dist(_) = 0L)
    for (i <- 1 to BfsHops.Rounds) {
      frontier = frontier.flatMap(adj).filterNot(dist.contains)
      frontier.foreach(dist(_) = i.toLong)
    }
    val want = dist.map { case (n, h) =>
      ((if (n % 2 == 0) "customer" else "supplier"), n / 2) -> h
    }.toMap
    assert(got === want)
    assert(got.valuesIterator.exists(_ > 0L), "BFS never left the seeds")
  }

  test("harmonicSampled: levelsIn must hold rounds + 1 levels") {
    val o = Seq((1L, 1L)).toDF("o_orderkey", "o_custkey")
    val ex = intercept[IllegalArgumentException](BfsHops.harmonicSampled(
      o, o, rounds = 2, levelsIn = Some(IndexedSeq.fill(5)(o))))
    assert(ex.getMessage.contains("rounds = 2 needs 3"))
  }

  test("harmonicSampled: per-node sum of 1e6 div hops over both seeds " +
    "of a hand graph; seeds excluded from their own score") {
    // seeds = suppliers 0 and 100 (HarmonicSeedMod = 100):
    //   s0 - c1 - s100 (both seeds 2 hops apart via c1)
    //   s0 - c2 (only s0 side), c3 - s7 (disconnected from seeds)
    val orders = Seq((1L, 1L), (2L, 1L), (3L, 2L), (4L, 3L))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((1L, 0L), (2L, 100L), (3L, 0L), (4L, 7L))
      .toDF("l_orderkey", "l_suppkey")
    val got = BfsHops.harmonicSampled(orders, lineitem)
      .as[(String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    graft.core.CacheBay.drain()
    // c1 at hop 1 from both seeds: 2 sources, 2e6
    assert(got(("customer", 1L)) == ((2L, 2000000L)))
    // c2 at hop 1 from s0, hop 3 from s100 (s100-c1-s0-c2):
    // 1e6 + 1e6 div 3
    assert(got(("customer", 2L)) == ((2L, 1000000L + 333333L)))
    // each seed scores the OTHER seed at hop 2 (its own 0-hop row is
    // excluded): 500000
    assert(got(("supplier", 0L)) == ((1L, 500000L)))
    assert(got(("supplier", 100L)) == ((1L, 500000L)))
    // the disconnected pair never appears
    assert(!got.contains(("supplier", 7L)) &&
      !got.contains(("customer", 3L)))
  }
}
