package graft

import org.apache.spark.sql.functions._

import graft.qc.Recon

class ReconSpec extends SparkSpec {
  import spark.implicits._

  test("schemaDrift: added/dropped/type_changed/unchanged per column") {
    val before = Seq((1L, 1, "a", 0.5))
      .toDF("id", "n", "name", "score")
    val after = before.drop("score")
      .withColumn("n", col("n").cast("long"))
      .withColumn("tag", lit("x"))
    val r = Recon.schemaDrift(before, after)
      .as[(String, String, String, String)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(r("id") == (("unchanged", "BIGINT", "BIGINT")))
    assert(r("n") == (("type_changed", "INTEGER", "BIGINT")))
    assert(r("name") == (("unchanged", "VARCHAR", "VARCHAR")))
    assert(r("score") == (("dropped", "DOUBLE", null)))
    assert(r("tag") == (("added", null, "VARCHAR")))
    assert(r.size == 5)
  }

  test("snapshotCdc: insert/delete/update classified; unchanged dropped; " +
    "null flips count as updates") {
    val before = Seq((1L, Some(10L)), (2L, Some(20L)), (3L, Some(30L)),
      (4L, None: Option[Long]))
      .toDF("id", "v")
    val after = Seq((1L, Some(10L)),  // unchanged -> dropped
      (2L, Some(25L)),                // update
      (4L, Some(40L)),                // null -> value: update
      (5L, Some(50L)))                // insert; 3 deleted
      .toDF("id", "v")
    val r = Recon.snapshotCdc(before, after, Seq("id"), Seq("v"))
      .collect().map(row => row.getLong(0) ->
        ((row.getString(1),
          if (row.isNullAt(2)) null else row.getLong(2),
          if (row.isNullAt(3)) null else row.getLong(3)))).toMap
    assert(r(2L) == (("update", 20L, 25L)))
    assert(r(3L) == (("delete", 30L, null)))
    assert(r(4L) == (("update", null, 40L)))
    assert(r(5L) == (("insert", null, 50L)))
    assert(r.size == 4)
  }

  test("referentialAudit counts orphans per relation; missingDays " +
    "finds exactly the blinded gap") {
    val child = Seq((1L, "a"), (2L, "b"), (9L, "c"), (9L, "d"))
      .toDF("fk", "x")
    val parent = Seq((1L, "p"), (2L, "q"), (3L, "r")).toDF("pk", "y")
    val r = Recon.referentialAudit(Seq(("child->parent", child, "fk",
      parent, "pk"))).as[(String, Long, Long, Long)].head()
    assert(r == (("child->parent", 4L, 2L, 500000L)))

    import java.sql.Timestamp
    val ev = Seq(1, 2, 4, 5).map(d =>
      Tuple1(Timestamp.valueOf(f"2024-03-$d%02d 10:00:00"))).toDF("ts")
    val missing = Recon.missingDays(ev).as[java.sql.Date]
      .collect().map(_.toString).toSeq
    assert(missing == Seq("2024-03-03"))
  }

  test("benfordAudit: decimal-string digits, ppm shares vs the " +
    "precomputed literals; zero/negative amounts excluded") {
    val df = Seq(1.23, 0.19, 2.50, 95.00, -5.00, 0.00).toDF("v")
    val r = Recon.benfordAudit(df, "v")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(x => x._1 -> (x._2, x._3, x._4, x._5)).toMap
    graft.core.SessionCache.endQuery()
    assert(r.keySet == Set(1L, 2L, 9L))
    assert(r(1L) == ((2L, 500000L, 301030L, 198970L)))
    assert(r(2L) == ((1L, 250000L, 176091L, 73909L)))
    assert(r(9L) == ((1L, 250000L, 45757L, 204243L)))
  }

  test("fingerprintDiff: order/partitioning-invariant equality; a " +
    "single-row change flips exactly its bucket") {
    val rows = (1L to 200L).map(k => (k, k * 7 % 101))
    val aDf = rows.toDF("c_custkey", "cents")
    // same rows, scrambled order, different partitioning
    val bDf = spark.createDataFrame(spark.sparkContext.parallelize(
      scala.util.Random.shuffle(rows), 7)).toDF("c_custkey", "cents")
    val eq = Recon.fingerprintDiff(aDf, bDf, Seq("c_custkey", "cents"),
      "c_custkey")
    assert(eq.filter(col("bucket_match") === 0L).count() == 0)
    // mutate one row (key 42 -> bucket 42 % 16 = 10)
    val mut = bDf.withColumn("cents",
      when(col("c_custkey") === 42L, col("cents") + 1L)
        .otherwise(col("cents")))
    val d = Recon.fingerprintDiff(aDf, mut, Seq("c_custkey", "cents"),
      "c_custkey")
      .filter(col("bucket_match") === 0L)
      .select("bucket").as[Long].collect().toSeq
    assert(d == Seq(10L), d.toString)
  }

  test("applyCdcToAgg: inserts, deletes, updates and a group that " +
    "empties — equals recomputing the after-image") {
    // base: bucket0 = {k10: 5, k20: 7}, bucket1 = {k11: 3}
    val base = Seq((10L, 5L), (20L, 7L), (11L, 3L))
      .toDF("c_custkey", "cents")
    val baseAgg = base.groupBy((col("c_custkey") % 10).as("bucket"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("cents")).cast("long").as("cents"))
    // delete k11 (bucket1 empties), update k10 5->9, insert k30 (+2)
    val cdc = Seq(
      (11L, "delete", Some(3L), None: Option[Long]),
      (10L, "update", Some(5L), Some(9L)),
      (30L, "insert", None: Option[Long], Some(2L)))
      .toDF("c_custkey", "op", "cents_before", "cents_after")
    val got = Recon.applyCdcToAgg(baseAgg, cdc, col("c_custkey") % 10)
      .as[(Long, Long, Long)].collect().toSet
    // after-image: bucket0 = {k10: 9, k20: 7, k30: 2} -> (3, 18)
    assert(got === Set((0L, 3L, 18L)))
  }

  test("giniAudit pre-overflow witness fires on wrap-scale member " +
    "revenue before the rank-weighted sum is trusted") {
    def t(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    // 10 members at 9.1e16 dollars each: every sum stays Long-safe
    // (rank_weighted = 55·9.1e16 ≈ 5e18), but n²·max|dollars| =
    // 100·9.1e16 clears the 9e18 witness bar — a bigger cohort WOULD
    // wrap the rank-weighted sum, and the old one-sided headroom
    // checks never saw the wrap coming
    val orders = (1 to 10).map(i =>
      (i.toLong, 100L + i, 9.1e16, t("1995-01-01")))
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val cust = (1 to 10).map(i => (100L + i, 0))
      .toDF("c_custkey", "c_nationkey")
    val nat = Seq((0, "A")).toDF("n_nationkey", "n_name")
    val e = intercept[Exception] {
      graft.qc.Recon.giniAudit(orders, cust, nat).collect()
    }
    def all(x: Throwable): Seq[String] =
      if (x == null) Nil
      else Option(x.getMessage).toSeq ++ all(x.getCause)
    // under Spark 4's default ANSI mode the CSE-hoisted
    // 2·rank_weighted multiply throws ARITHMETIC_OVERFLOW before the
    // guard message can surface — equally loud; the witness text is
    // what a non-ANSI deployment (where the wrap would otherwise be
    // SILENT) sees, so both are accepted
    assert(all(e).exists(m => m.contains("gini terms exceed") ||
        m.contains("ARITHMETIC_OVERFLOW")),
      s"expected gini witness in: ${all(e).mkString(" | ")}")
  }

  test("concentrationAudit: monopoly = 1e6 ppm, even split = 1/n, " +
    "shares quantize before squaring") {
    def t(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val orders = Seq(
      // nation A: one customer owns everything -> HHI 1,000,000
      (1L, 100L, 40.0, t("1995-01-01")),
      (2L, 100L, 60.0, t("1995-01-02")),
      // nation B: two customers at 50/50 -> shares 500000, HHI 500000
      (3L, 200L, 30.0, t("1995-01-03")),
      (4L, 201L, 30.0, t("1995-01-04")),
      // nation C: 75/25 -> 562500 + 62500 = 625000
      (5L, 300L, 75.0, t("1995-01-05")),
      (6L, 301L, 25.0, t("1995-01-06")))
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val cust = Seq((100L, 0), (200L, 1), (201L, 1), (300L, 2), (301L, 2))
      .toDF("c_custkey", "c_nationkey")
    val nat = Seq((0, "A"), (1, "B"), (2, "C"))
      .toDF("n_nationkey", "n_name")
    val r = Recon.concentrationAudit(orders, cust, nat)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(x => x._1 -> (x._2, x._3, x._4, x._5)).toMap
    assert(r("A") == ((1L, 10000L, 1000000L, 1000000L)))
    assert(r("B") == ((2L, 6000L, 500000L, 500000L)))
    assert(r("C") == ((2L, 10000L, 750000L, 625000L)))
  }

  test("Expectations.audit: planted violations of every rule kind " +
    "are counted; uniqueness sees duplicate keys") {
    import spark.implicits._
    import graft.qc.Expectations
    import graft.qc.Expectations.Rule
    val df = Seq(
      (Some(1L), 10.0, "1-URGENT", "O", 100L),
      (None, 20.0, "2-HIGH", "F", 101L),        // null custkey
      (Some(3L), -5.0, "9-BOGUS", "X", 102L),   // range+regex+domain
      (Some(4L), 400000.0, "5-LOW", "P", 100L)  // range viol, dup key
    ).toDF("o_custkey", "o_totalprice", "o_orderpriority",
      "o_orderstatus", "o_orderkey")
    val got = Expectations.audit(df, Expectations.OrdersContract)
      .collect().map(r => r.getString(0) ->
        (r.getLong(3), r.getLong(4), r.getLong(6))).toMap
    assert(got("custkey_not_null") === ((4L, 1L, 0L)))
    assert(got("price_range") === ((4L, 2L, 0L)))
    assert(got("priority_format") === ((4L, 1L, 0L)))
    assert(got("status_domain") === ((4L, 1L, 0L)))
    assert(got("orderkey_unique") === ((4L, 1L, 0L)))
  }

  test("Expectations.audit: a clean frame passes every rule") {
    import spark.implicits._
    import graft.qc.Expectations
    val df = Seq((Some(1L), 10.0, "1-URGENT", "O", 1L),
      (Some(2L), 20.0, "5-LOW", "F", 2L))
      .toDF("o_custkey", "o_totalprice", "o_orderpriority",
        "o_orderstatus", "o_orderkey")
    val got = Expectations.audit(df, Expectations.OrdersContract)
      .collect()
    assert(got.length === 5 &&
      got.forall(r => r.getLong(4) == 0L && r.getLong(6) == 1L))
  }

  test("idGapAudit: intra-bucket, boundary-crossing and whole-empty-" +
    "bucket gaps all reported exactly once; matches the naive lead") {
    import spark.implicits._
    // width 8: gap 3..5 intra-bucket; 14..18 crosses the 16 boundary;
    // 24..39 spans two whole empty buckets (3 and 4)
    val present = (Seq(0L, 1L, 2L, 6L, 7L, 8L, 13L, 19L, 23L) ++
      (40L to 45L)).map(Tuple1(_))
    val df = present.toDF("id").repartition(4)
    val got = graft.qc.Recon.idGapAudit(df, "id", bucketWidth = 8L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val sorted = present.map(_._1).sorted
    val want = sorted.zip(sorted.tail).collect {
      case (a, b) if b - a > 1 => (a + 1, b - 1, b - a - 1)
    }.toSet
    assert(got === want)
    assert(want.contains((3L, 5L, 3L)) && want.contains((14L, 18L, 5L))
      && want.contains((24L, 39L, 16L)))
  }

  test("eventOrderAudit: inversions counted along the id order, " +
    "worst backstep exact, clean users report zero") {
    val ts = java.sql.Timestamp.valueOf(_: String)
    val events = Seq(
      // user 1: ids 1..4 but event 3's ts jumps BACK 90s
      (1L, 1L, ts("2024-01-01 10:00:00")),
      (1L, 2L, ts("2024-01-01 10:01:00")),
      (1L, 3L, ts("2024-01-01 09:59:30")),
      (1L, 4L, ts("2024-01-01 10:02:00")),
      // user 2: clean
      (2L, 5L, ts("2024-01-01 11:00:00")),
      (2L, 6L, ts("2024-01-01 11:05:00")))
      .toDF("user_id", "event_id", "ts")
    val got = graft.qc.Recon.eventOrderAudit(events)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) == ((3L, 1L, 333333L, 90000000L)), got.toString)
    assert(got(2L) == ((1L, 0L, 0L, 0L)))
  }

  test("rareLevels: per-column ppm exact, NULL is a level, rare flag " +
    "at the declared bar") {
    val df = Seq(
      (Some("red"), Some("S")), (Some("red"), Some("S")),
      (Some("red"), Some("S")), (Some("red"), None),
      (Some("red"), None), (Some("blue"), None))
      .toDF("color", "size")
    val got = graft.qc.Recon.rareLevels(df, Seq("color", "size"),
        minPpm = 200000L)
      .as[(String, Option[String], Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(got(("color", Some("red"))) == ((5L, 833333L, 0L)))
    assert(got(("color", Some("blue"))) == ((1L, 166666L, 1L)))
    assert(got(("size", Some("S"))) == ((3L, 500000L, 0L)))
    assert(got(("size", None)) == ((3L, 500000L, 0L)))
    assert(got.size == 4)
  }

  test("idGapAudit property: random id sets under adversarial bucket " +
    "occupancy equal the naive global lead (incl. one-bucket case)") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    // adversarial occupancy shapes: dense runs, sparse scatter, and
    // cluster-per-bucket-boundary ids; duplicates included on purpose
    // (the operator distincts)
    val idGen: Gen[List[Long]] = Gen.oneOf(
      Gen.chooseNum(1, 60).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(0L, 200L))),          // scatter
      Gen.chooseNum(1, 6).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(0L, 20L).map(_ * 8L))
          .map(_.flatMap(base => (base to base + 3L).toList))), // runs
      Gen.chooseNum(1, 10).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(0L, 24L)
          .map(k => k * 8L + 7L))))                        // boundaries
    (1L to 12L).foreach { seed =>
      val ids = sample(idGen, seed)
      val df = ids.map(Tuple1(_)).toDF("id").repartition(3)
      val sorted = ids.distinct.sorted
      val want = sorted.zip(sorted.drop(1)).collect {
        case (a, b) if b - a > 1 => (a + 1, b - 1, b - a - 1)
      }.toSet
      // width 8 spreads over many buckets; width 1L<<40 forces the
      // degenerate all-ids-in-one-bucket shape (1-row summary frame)
      Seq(8L, 1L << 40).foreach { w =>
        val got = graft.qc.Recon.idGapAudit(df, "id", bucketWidth = w)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(got === want,
          s"seed=$seed width=$w ids=${sorted.mkString(",")}")
      }
    }
  }

  test("joinCardinalityPreflight: hand-exact per-key products, hot " +
    "key first, __total__ equals the real join's row count") {
    import spark.implicits._
    val l = (Seq.fill(5)(100L) ++ Seq.fill(2)(200L) ++ Seq(300L))
      .map(Tuple1(_)).toDF("k")
    val r = (Seq.fill(4)(100L) ++ Seq.fill(3)(200L) ++ Seq(400L))
      .map(Tuple1(_)).toDF("k")
    val got = graft.qc.Recon
      .joinCardinalityPreflight(l, "k", r, "k", k = 5)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    assert(got("100") === ((5L, 4L, 20L)))
    assert(got("200") === ((2L, 3L, 6L)))
    assert(got("__total__")._3 === 26L)
    assert(got("__total__")._3 === l.join(r, Seq("k")).count())
    // 300/400 never co-occur: absent from the report
    assert(!got.contains("300") && !got.contains("400"))
  }

  test("ksDrift: hand-computed supremum on a tiny fixture") {
    import spark.implicits._
    val before = Seq(1.0, 1.0, 2.0).toDF("x")
    val after = Seq(2.0, 3.0).toDF("x")
    val r = graft.qc.Recon.ksDrift(before, after, "x")
      .as[(Long, Long, Long, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    // F1 jumps to 2/3 at v=100 cents while F2 is still 0:
    // dev = |2*2 - 0*3| = 4 of n1*n2 = 6 (KS = 2/3), attained at 100
    assert(r === Array((3L, 2L, 4L, 4L, 100L)))
  }

  test("ksDrift matches a scalar exact-KS recompute on the fixture " +
    "year slices") {
    import org.apache.spark.sql.functions._
    val o = graft.core.Tables(spark, SfDir, "orders")
    def slice(y: Int) = o.filter(year(col("o_orderdate")) === y)
    val got = graft.qc.Recon.ksDrift(slice(1995), slice(1996),
      "o_totalprice").as[(Long, Long, Long, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    assert(got.length == 1)
    val (n1, n2, dev, ppm, at) = got.head
    def cents(y: Int) = slice(y).select(col("o_totalprice"))
      .collect().map(r => math.floor(r.getDouble(0) * 100 + 0.5).toLong)
    val s1 = cents(1995).sorted
    val s2 = cents(1996).sorted
    assert(n1 == s1.length && n2 == s2.length)
    // exact scalar KS over the merged support, cross-multiplied
    val support = (s1 ++ s2).distinct.sorted
    def le(s: Array[Long], v: Long) = s.count(_ <= v).toLong
    val devs = support.map(v => (math.abs(le(s1, v) * n2 - le(s2, v) * n1), v))
    val best = devs.map(_._1).max
    assert(dev == best)
    assert(at == devs.filter(_._1 == best).map(_._2).min)
    assert(ppm == dev / math.max(n1 * n2 / 1000000L, 1L))
  }

  test("mutualInfoBits: bits-form MI is ha for a copied column, " +
    "zero for an independent uniform cross-tab") {
    // b = a, two levels x2 each: n=4, bits(4)=3, marginal/cell
    // sum_cb = 2*bits(2)*2 = 8 -> every entropy = (12-8)e6/4 = 1e6
    val dep = Seq("x", "x", "y", "y").toDF("a")
      .select(col("a"), col("a").as("b"))
    val d = Recon.mutualInfoBits(dep, col("a"), col("b"))
      .collect().head
    graft.core.SessionCache.endQuery()
    assert(d.getAs[Long]("n") == 4L && d.getAs[Long]("cells") == 2L)
    assert(d.getAs[Long]("ha_bits_e6") == 1000000L)
    assert(d.getAs[Long]("hb_bits_e6") == 1000000L)
    assert(d.getAs[Long]("hab_bits_e6") == 1000000L)
    assert(d.getAs[Long]("mi_bits_e6") == 1000000L)
    // independent uniform 2x2: hab = (12-4)e6/4 = 2e6 = ha + hb
    val ind = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q"))
      .toDF("a", "b")
    val i = Recon.mutualInfoBits(ind, col("a"), col("b"))
      .collect().head
    graft.core.SessionCache.endQuery()
    assert(i.getAs[Long]("hab_bits_e6") == 2000000L)
    assert(i.getAs[Long]("mi_bits_e6") == 0L)
  }

  test("chisqIndependence: zero for independence, n*(2-1)^2 scale for " +
    "a perfect 2x2 association, absent cells folded in closed form") {
    val ind = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q"))
      .toDF("a", "b")
    val i = Recon.chisqIndependence(ind, col("a"), col("b"))
      .collect().head
    graft.core.SessionCache.endQuery()
    assert(i.getAs[Long]("chi2_e6") == 0L && i.getAs[Long]("dof") == 1L)
    // perfect association, only 2 of 4 cells present: present pass
    // contributes 2 * (4*2-4)^2e6/(4*2*2) = 2e6; the absent pool
    // (n^2 - s_present)e6/n = (16-8)e6/4 = 2e6; chi2 = 4 = n*phi^2
    val dep = Seq(("x", "p"), ("x", "p"), ("y", "q"), ("y", "q"))
      .toDF("a", "b")
    val d = Recon.chisqIndependence(dep, col("a"), col("b"))
      .collect().head
    graft.core.SessionCache.endQuery()
    assert(d.getAs[Long]("chi2_e6") == 4000000L)
    assert(d.getAs[Long]("n") == 4L && d.getAs[Long]("cells") == 2L)
    assert(d.getAs[Long]("levels_a") == 2L &&
      d.getAs[Long]("levels_b") == 2L)
    // Cramér's V² = χ²/(n·(min−1)): perfect 2x2 association -> 1.0
    assert(d.getAs[Long]("cramers_v2_e6") == 1000000L)
    assert(i.getAs[Long]("cramers_v2_e6") == 0L)
  }

  test("keyDiscovery: unique non-null column is a key; NULLs " +
    "disqualify even a fully-distinct composite") {
    val df = Seq(
      (1L, Some(10L), "x"), (2L, Some(10L), "y"),
      (3L, None: Option[Long], "y"))
      .toDF("id", "k", "d")
    val got = Recon.keyDiscovery(df,
        Seq(Seq("id"), Seq("k"), Seq("k", "d")))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(got("id") == ((3L, 3L, 0L, 1000000L, 1L)))
    // countDistinct ignores the NULL -> 1 level; the null row reports
    assert(got("k") == ((3L, 1L, 1L, 333333L, 0L)))
    // all three (k, d) tuples distinct, but the NULL disqualifies
    assert(got("k,d") == ((3L, 3L, 1L, 1000000L, 0L)))
  }
}
