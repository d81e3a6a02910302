package graft

import org.apache.spark.sql.functions._
import graft.graph.PageRank
import graft.maint.Maintenance

class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  test("purchaseRanks: shared supplier out-ranks exclusive one; " +
    "ranks are deterministic integers") {
    // customers 1,2 both buy from supplier 1; only customer 1 buys
    // from supplier 2 — supplier 1 must end with the higher authority
    val orders = Seq((10L, 1L), (11L, 2L)).toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((10L, 1L), (10L, 2L), (11L, 1L))
      .toDF("l_orderkey", "l_suppkey")
    val r = PageRank.purchaseRanks(orders, lineitem)
      .filter($"kind" === "supplier")
      .select($"id", $"rank_e6").as[(Long, Long)].collect().toMap
    graft.core.SessionCache.endQuery()
    assert(r(1L) > r(2L), s"shared supplier should rank higher: $r")
    // floor division only ever LOSES mass: total ≤ N · 10⁶
    assert(r.values.forall(_ > 0) && r.values.sum <= 4 * 1000000L)
  }

  test("purchaseRanksConverged: deltas shrink monotonically to the " +
    "tolerance and the result matches an equal-length unrolled run") {
    val orders = graft.core.Tables(spark, SfDir, "orders")
    val lineitem = graft.core.Tables(spark, SfDir, "lineitem")
    val (ranks, deltas) = PageRank.purchaseRanksConverged(
      orders, lineitem, tolE6 = 3000000L)
    val got = ranks.select($"kind", $"id", $"rank_e6")
      .as[(String, Long, Long)].collect().toSet
    graft.core.SessionCache.endQuery()
    // the loop ran, converged before the cap, and every round moved
    // the ranks LESS than the round before (damping contracts the
    // iteration; integer floor can only help)
    assert(deltas.nonEmpty && deltas.size < 20, s"deltas: $deltas")
    assert(deltas.last <= 3000000L, s"did not converge: $deltas")
    assert(deltas.sliding(2).forall(w => w.length < 2 || w(1) < w(0)),
      s"deltas not monotone: $deltas")
    // convergence changes pacing, not semantics: the same number of
    // rounds unrolled bit-matches
    val unrolled = PageRank.purchaseRanks(orders, lineitem,
      iters = deltas.size)
      .select($"kind", $"id", $"rank_e6")
      .as[(String, Long, Long)].collect().toSet
    graft.core.SessionCache.endQuery()
    assert(got == unrolled)
  }

  test("purchaseHits: shared supplier is the top authority, its " +
    "multi-supplier buyer the top hub; values replay an independent " +
    "integer reference loop") {
    // directed bipartite: c1→{s1,s2}, c2→{s1} (node encoding 2k/2k+1)
    val cs = Seq((2L, 3L), (2L, 5L), (4L, 3L)).toDF("src", "dst")
    val got = graft.graph.Hits.purchaseHits(cs)
      .select($"kind", $"id", $"hub_e6", $"auth_e6")
      .as[(String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // independent reference: the same alternating max-normalized
    // floor-arithmetic rounds in plain Scala Longs
    val edges = Seq((2L, 3L), (2L, 5L), (4L, 3L))
    var hub = edges.map(_._1).distinct.map(_ -> 1000000L).toMap
    var auth = Map.empty[Long, Long]
    for (_ <- 1 to graft.graph.Hits.Iters) {
      val ar = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => hub(e._1)).sum }
      val am = math.max(ar.values.max, 1L)
      auth = ar.map { case (v, r) => v -> r * 1000000L / am }
      val hr = edges.groupBy(_._1).map { case (u, es) =>
        u -> es.map(e => auth(e._2)).sum }
      val hm = math.max(hr.values.max, 1L)
      hub = hr.map { case (u, r) => u -> r * 1000000L / hm }
    }
    val want = hub.map { case (n, s) =>
      ("customer", n / 2) -> ((s, 0L)) } ++
      auth.map { case (n, s) => ("supplier", n / 2) -> ((0L, s)) }
    assert(got == want, s"got=$got want=$want")
    // the structural read: s1 (shared) is the max authority, c1 (the
    // two-supplier buyer) the max hub, and both dominate strictly
    assert(got(("supplier", 1L))._2 == 1000000L &&
      got(("supplier", 2L))._2 < 1000000L)
    assert(got(("customer", 1L))._1 == 1000000L &&
      got(("customer", 2L))._1 < 1000000L)
  }

  test("compactionPlan: start-offset binning on a hand fixture") {
    val m = Seq(("p", 1L, 3000L), ("p", 2L, 3000L), ("p", 3L, 3000L),
      ("q", 9L, 100L)).toDF("source", "doc_id", "bytes")
    val r = Maintenance.compactionPlan(m)
      .select($"source", $"doc_id", $"bin").as[(String, Long, Long)]
      .collect().toSet
    // offsets 0 / 3000 / 6000 with target 4096 → bins 0, 0, 1
    assert(r == Set(("p", 1L, 0L), ("p", 2L, 0L), ("p", 3L, 1L),
      ("q", 9L, 0L)))
  }

  test("mortonKey: bit-interleave matches the hand computation") {
    // x=3 (011), y=5 (101): z bits x0 y0 x1 y1 x2 y2 = 1·1+2·1+4·1+
    // 8·0+16·0+32·1 = 39
    val r = Seq((3L, 5L)).toDF("x", "y")
      .select(Maintenance.mortonKey($"x", $"y").as("z"))
      .as[Long].head()
    assert(r == 39L)
  }

  test("property: mortonKey is injective and order-bounded on the " +
    "16-bit grid") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: org.scalacheck.Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    (1L to 3L).foreach { seed =>
      val pts = sample(Gen.listOfN(200,
        Gen.zip(Gen.chooseNum(0L, 65535L), Gen.chooseNum(0L, 65535L))),
        seed).distinct
      val keys = pts.toDF("x", "y")
        .select($"x", $"y", Maintenance.mortonKey($"x", $"y").as("z"))
        .as[(Long, Long, Long)].collect()
      // injective: distinct inputs → distinct keys
      assert(keys.map(_._3).distinct.length == pts.length)
      // per-dimension monotone (fixed other dim): the property that
      // makes key-range pruning sound for each dimension separately
      val y0 = sample(Gen.chooseNum(0L, 65535L), seed + 9)
      val xs = sample(Gen.listOfN(100, Gen.chooseNum(0L, 65535L)),
        seed + 17).distinct.sorted
      val zx = xs.map(x => (x, y0)).toDF("x", "y")
        .select(Maintenance.mortonKey($"x", $"y")).as[Long].collect()
      assert(zx.sliding(2).forall(w => w.length < 2 || w(0) < w(1)))
      val zy = xs.map(y => (y0, y)).toDF("x", "y")
        .select(Maintenance.mortonKey($"x", $"y")).as[Long].collect()
      assert(zy.sliding(2).forall(w => w.length < 2 || w(0) < w(1)))
    }
  }

  test("property: compactionPlan bins are contiguous and every " +
    "non-final bin reaches the target") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: org.scalacheck.Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    (1L to 3L).foreach { seed =>
      val sizes = sample(Gen.listOfN(60, Gen.chooseNum(1L, 3000L)), seed)
      val m = sizes.zipWithIndex
        .map { case (sz, i) => ("p", i.toLong, sz) }
        .toDF("source", "doc_id", "bytes")
      val r = Maintenance.compactionPlan(m)
        .select($"doc_id", $"bytes", $"bin")
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      // bins are non-decreasing in file order (contiguous runs)
      assert(r.sliding(2).forall(w => w(0)._3 <= w(1)._3))
      // prefix invariant: through the end of any non-final bin k the
      // concatenated stream totals ≥ (k+1)·target — bins average ≥
      // target even though a boundary-straddling file can leave one
      // individual bin short
      val last = r.map(_._3).max
      r.map(_._3).distinct.filter(_ != last).foreach { b =>
        val prefix = r.filter(_._3 <= b).map(_._2).sum
        assert(prefix >= (b + 1) * Maintenance.TargetBytes,
          s"bin $b prefix $prefix")
      }
    }
  }

  test("zorderStats: per-bucket ranges are tight vs the global span") {
    val li = graft.core.Tables(spark, SfDir, "lineitem")
    // the sf0.001 key space is ≤8 bits per dim — bucket on bits ≥4 of
    // each dim (shift 8) so the fixture actually splits into tiles
    val stats = Maintenance.zorderStats(li, "l_partkey", "l_suppkey",
      bucketShift = 8).collect()
    val xSpanGlobal = li.agg(max($"l_partkey") - min($"l_partkey"))
      .head().getLong(0)
    val avgSpan = stats.map(r => r.getAs[Long]("x_max") -
      r.getAs[Long]("x_min")).sum.toDouble / stats.length
    // Z-order buckets bound BOTH dimensions: the average per-bucket
    // partkey span must be well under the global span (a 1-D sort on
    // suppkey alone would leave it ≈ global)
    assert(avgSpan < xSpanGlobal / 2.0,
      s"avg bucket span $avgSpan vs global $xSpanGlobal")
    assert(stats.map(_.getAs[Long]("n_rows")).sum == li.count())
  }

  test("columnStats: exact counts, null accounting, min/max, and " +
    "exact NDV below the sketch fill") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      (1L, Some(10L)), (2L, Some(10L)), (3L, Some(30L)),
      (4L, None: Option[Long]), (5L, None: Option[Long]))
      .toDF("k", "v")
    val r = graft.maint.Maintenance.columnStats(df,
      Seq("k" -> col("k"), "v" -> col("v")), k = 8)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4, x._5, x._6, x._7))).toMap
    graft.core.SessionCache.endQuery()
    assert(r("k") == ((5L, 0L, 1L, 5L, 5L, 5L)))
    assert(r("v") == ((5L, 2L, 10L, 30L, 2L, 2L)))
  }

  test("pruningAudit: the Z-order layout scans a strictly smaller " +
    "fraction than the key-hash layout; matches are layout-invariant") {
    import org.apache.spark.sql.functions.col
    val li = graft.core.Tables(spark, SfDir, "lineitem")
    val r = graft.maint.Maintenance
      .pruningAudit(li, "l_partkey", "l_suppkey", "l_orderkey")
      .collect().map(x => x.getString(0) ->
        (x.getLong(3), x.getLong(4), x.getLong(5), x.getLong(6))).toMap
    val (zTot, zScan, zMatch, zPpm) = r("zorder")
    val (nTot, nScan, nMatch, nPpm) = r("natural")
    assert(zTot == nTot && zMatch == nMatch,
      "pruning changed totals or the answer")
    assert(zScan >= zMatch, "scanned fewer rows than match the box")
    assert(zPpm < nPpm,
      s"z-order bought nothing: zorder $zPpm ppm vs natural $nPpm ppm")
  }
}
