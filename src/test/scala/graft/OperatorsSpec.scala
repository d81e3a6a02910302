package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.operators.{AsOfJoin, Sessionize}

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")

  test("asOf: backward inclusive match per key; no-match rows are null") {
    val probe = Seq((1L, ts(1), "p1"), (1L, ts(5), "p2"), (1L, ts(9), "p3"),
      (2L, ts(5), "p4")).toDF("k", "t", "tag")
    val build = Seq((1L, ts(2), 10L), (1L, ts(5), 20L), (2L, ts(6), 30L))
      .toDF("k", "t", "v")
    val r = AsOfJoin.asOf(probe, build, Seq("k"), "t", Seq("v"))
      .select($"tag", $"v").as[(String, Option[Long])].collect().toMap
    assert(r("p1").isEmpty)      // before any build row
    assert(r("p2").contains(20L)) // tie at t=5 is inclusive
    assert(r("p3").contains(20L)) // latest at-or-before
    assert(r("p4").isEmpty)      // key 2's build row is in the future
  }

  test("asOf: build row with null payload field still matches") {
    val probe = Seq((1L, ts(5))).toDF("k", "t")
    val build = Seq((1L, ts(1), Some(7L)), (1L, ts(3), None))
      .toDF("k", "t", "v")
    // the t=3 row (null v) is the as-of match; struct packing must not
    // skip past it to the older t=1 row
    val r = AsOfJoin.asOf(probe, build, Seq("k"), "t", Seq("v"))
      .select($"v").as[Option[Long]].head()
    assert(r.isEmpty)
  }

  test("asOf: agrees with brute-force reference on pseudo-random data") {
    // deterministic pseudo-random corpus: 60 probe rows, 25 build rows,
    // 5 keys, colliding timestamps included on purpose
    def h(i: Long, m: Long): Long = math.floorMod(i * 2654435761L, m)
    val probe = (0L until 60L)
      .map(i => (h(i, 5), ts(h(i + 7, 24).toInt), i)).toDF("k", "t", "pid")
    val build = (0L until 25L)
      .map(i => (h(i + 3, 5), ts(h(i * 13 + 1, 24).toInt), i * 10))
      .groupBy(r => (r._1, r._2)).map { case (_, rs) => rs.maxBy(_._3) }
      .toSeq.toDF("k", "t", "v") // unique per (k, ts) per the contract
    val got = AsOfJoin.asOf(probe, build, Seq("k"), "t", Seq("v"))
      .select($"pid", $"v").as[(Long, Option[Long])].collect().toMap
    val buildRows = build.as[(Long, Timestamp, Long)].collect()
    for ((k, t, pid) <- probe.as[(Long, Timestamp, Long)].collect()) {
      val expect = buildRows
        .filter(b => b._1 == k && !b._2.after(t))
        .sortBy(_._2.getTime).lastOption.map(_._3)
      assert(got(pid) == expect, s"pid=$pid k=$k t=$t")
    }
  }

  test("asOfForward: earliest at-or-after match per key; ties " +
    "inclusive; no-future rows are null") {
    val probe = Seq((1L, ts(1), "p1"), (1L, ts(5), "p2"), (1L, ts(9), "p3"),
      (2L, ts(5), "p4")).toDF("k", "t", "tag")
    val build = Seq((1L, ts(2), 10L), (1L, ts(5), 20L), (2L, ts(4), 30L))
      .toDF("k", "t", "v")
    val r = AsOfJoin.asOfForward(probe, build, Seq("k"), "t", Seq("v"))
      .select($"tag", $"v").as[(String, Option[Long])].collect().toMap
    assert(r("p1").contains(10L)) // earliest at-or-after t=1
    assert(r("p2").contains(20L)) // tie at t=5 is inclusive
    assert(r("p3").isEmpty)       // nothing at-or-after t=9
    assert(r("p4").isEmpty)       // key 2's build row is in the past
  }

  test("asOf: contract violations fail loudly, not silently") {
    val probe = Seq((1L, ts(1), "p")).toDF("k", "t", "tag")
    val build = Seq((1L, ts(1), 5L)).toDF("k", "t", "v")
    // payload name shadowing a probe column → plan-time require
    intercept[IllegalArgumentException] {
      AsOfJoin.asOf(probe, build.withColumnRenamed("v", "tag"),
        Seq("k"), "t", Seq("tag"))
    }
    // reserved internal name on an input → plan-time require
    intercept[IllegalArgumentException] {
      AsOfJoin.asOf(probe.withColumn("__side", lit(1)), build,
        Seq("k"), "t", Seq("v"))
    }
    // null key row → execution-time raise (not a silent null-bucket match)
    val nullKey = Seq((Option.empty[Long], ts(1), "p")).toDF("k", "t", "tag")
    val ex = intercept[Exception] {
      AsOfJoin.asOf(nullKey, build, Seq("k"), "t", Seq("v")).collect()
    }
    assert(ex.getMessage.contains("asOf") ||
      Option(ex.getCause).exists(_.getMessage.contains("asOf")))
  }

  test("rangeJoin: inverted intervals drop; oversized intervals raise") {
    import graft.operators.RangeJoin
    val points = Seq((10L, 1L, ts(5))).toDF("pid", "k", "t")
    // end < start: the theta join matches nothing — the bucketed form
    // must drop it BEFORE the explode, not build a descending sequence
    val inverted = Seq((1L, ts(10), ts(2), 100L)).toDF("k", "lo", "hi", "iid")
    assert(RangeJoin.pointInRange(points, inverted,
      Seq("k"), "t", "lo", "hi").count() == 0)
    // a single far-future end would explode a huge bucket array: raise
    val farFuture = Seq((1L, ts(0), Timestamp.valueOf("2525-01-01 00:00:00"),
      100L)).toDF("k", "lo", "hi", "iid")
    intercept[Exception] {
      RangeJoin.pointInRange(points, farFuture, Seq("k"), "t", "lo", "hi",
        bucketSeconds = 60L, maxBucketsPerInterval = 1000L).count()
    }
  }

  test("rangeJoin: agrees with brute-force theta join on pseudo-random " +
    "data") {
    import graft.operators.RangeJoin
    def h(i: Long, m: Long): Long = math.floorMod(i * 2654435761L, m)
    val points = (0L until 80L)
      .map(i => (i, h(i, 4), ts(h(i + 5, 24).toInt))).toDF("pid", "k", "t")
    // intervals up to 3 buckets wide with 6h buckets; some zero-width
    val ivs = (0L until 20L).map { i =>
      val lo = h(i * 7 + 2, 24).toInt
      (i + 100L, h(i, 4), ts(lo), ts((lo + h(i, 13)).toInt min 23))
    }.filter { case (_, _, lo, hi) => !hi.before(lo) }
      .toDF("iid", "k", "lo", "hi")
    val got = RangeJoin.pointInRange(points, ivs, Seq("k"), "t", "lo", "hi",
      bucketSeconds = 21600L)
      .select($"pid", $"iid").as[(Long, Long)].collect().toSet
    val expect = points.as[(Long, Long, Timestamp)].collect().flatMap {
      case (pid, pk, t) =>
        ivs.as[(Long, Long, Timestamp, Timestamp)].collect().collect {
          case (iid, ik, lo, hi)
            if ik == pk && !t.before(lo) && !t.after(hi) => (pid, iid)
        }
    }.toSet
    assert(got == expect)
  }

  test("sessionize: gap > splits, gap <= merges; end = last + gap") {
    // boundary: an event exactly gap after the previous MERGES
    // (session_window's start <= end comparison is inclusive)
    val ev = Seq((1L, ts(0), 1.0), (1L, ts(6), 2.0), (1L, ts(13), 4.0),
      (2L, ts(0), 8.0)).toDF("user_id", "t", "value")
    val r = Sessionize.sessions(ev, "user_id", "t", "value", "6 hours")
      .orderBy($"user_id", $"session_start")
      .select($"user_id", $"session_start", $"session_end", $"n_events",
        $"value_cents")
      .collect()
    assert(r.length == 3)
    // user 1: [0h,6h] merge (gap == 6h); 13h splits (gap 7h > 6h)
    assert(r(0).getLong(3) == 2 && r(0).getTimestamp(1) == ts(0) &&
      r(0).getTimestamp(2) == ts(12)) // end = 6h + 6h gap
    assert(r(1).getLong(3) == 1 && r(1).getLong(4) == 400L)
    assert(r(2).getLong(0) == 2L)
  }

  test("rangeJoin: containment incl. boundaries, across buckets, no dup") {
    import graft.operators.RangeJoin
    val points = Seq((10L, 1L, ts(0)), (11L, 1L, ts(12)), (12L, 1L, ts(30)),
      (13L, 1L, ts(49)), (14L, 2L, ts(12))).toDF("pid", "k", "t")
    // interval [12h, 48h]: spans 3 day-buckets
    val iv = Seq((1L, ts(12), ts(48), 100L))
      .toDF("k", "lo", "hi", "iid")
    val r = RangeJoin.pointInRange(points, iv, Seq("k"), "t", "lo", "hi")
    assert(r.select($"pid").as[Long].collect().sorted.toSeq ==
      Seq(11L, 12L)) // 11 at start boundary in, 12 mid (next bucket) in,
                     // 10 before, 13 after, 14 wrong key
    assert(r.count() == 2) // exactly-once per qualifying pair
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), s"nested loop in plan:\n$plan")
  }

  test("sessionize: same expression runs streaming under a watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ms = MemoryStream[(Long, Timestamp, Double)](
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.TIMESTAMP,
        org.apache.spark.sql.Encoders.scalaDouble), spark.sqlContext)
    val ev = ms.toDF().toDF("user_id", "t", "value")
      .withWatermark("t", "1 hour")
    val q = Sessionize.sessions(ev, "user_id", "t", "value", "2 hours")
      .writeStream.format("memory").queryName("sess_test")
      .outputMode("append").start()
    try {
      ms.addData((1L, ts(1), 1.0), (1L, ts(2), 2.0), (1L, ts(8), 4.0))
      q.processAllAvailable()
      ms.addData((1L, ts(20), 8.0)) // advance watermark, close sessions
      q.processAllAvailable()
      val rows = spark.table("sess_test")
        .select($"n_events", $"value_cents").as[(Long, Long)]
        .collect().toSet
      assert(rows.contains((2L, 300L)) && rows.contains((1L, 400L)))
    } finally q.stop()
  }

  test("scd2History: contiguous non-overlapping ranges; attr changes") {
    val h = graft.analytics.Analytics.scd2History(spark, SfDir).cache()
    // ranges of one customer never overlap and adjacent ranges carry a
    // different attribute (else they'd be one island)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_custkey").orderBy($"valid_from")
    val bad = h.withColumn("pv_to", lag($"valid_to", 1).over(w))
      .withColumn("pv_attr", lag($"attr", 1).over(w))
      .filter($"pv_to".isNotNull &&
        ($"pv_to" >= $"valid_from" || $"pv_attr" === $"attr")).count()
    assert(bad == 0)
    assert(h.filter($"valid_to" < $"valid_from").count() == 0)
    h.unpersist()
  }

  test("approx sketches land within tolerance of the exact values") {
    val ev = graft.core.Tables(spark, SfDir, "events")
    // the registry row now emits bound VERDICTS (oracle-checkable
    // booleans); every verdict must hold
    val verdicts = SparkEntry.queries("events_approx_stats")(spark, SfDir)
    assert(verdicts.filter(!$"users_within_10pct" ||
      !$"p50_within_bound").count() == 0)
    // and the raw sketches stay near the exact values (HLL++ default
    // rsd = 5%, allow 3 sigma; percentile_approx accuracy 1000)
    val raw = ev.groupBy($"event_type")
      .agg(approx_count_distinct($"user_id").as("approx_users"),
        expr("percentile_approx(value, 0.5, 1000)").as("p50_approx"),
        countDistinct($"user_id").as("exact_users"),
        expr("percentile(value, 0.5)").as("p50_exact"))
    assert(raw.filter(abs($"approx_users" - $"exact_users") >
      $"exact_users" * 0.15).count() == 0)
    assert(raw.filter(abs($"p50_approx" - $"p50_exact") >
      abs($"p50_exact") * 0.05 + 0.5).count() == 0)
  }

  test("stream-static join: dimension enrichment inside a stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ms = MemoryStream[(Long, Double)](
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaDouble), spark.sqlContext)
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val joined = ms.toDF().toDF("user_id", "value")
      .join(broadcast(dim), Seq("user_id"), "left")
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      ms.addData((1L, 10.0), (3L, 7.0))
      q.processAllAvailable()
      val rows = spark.table("ss_join")
        .select($"user_id", $"tier").as[(Long, Option[String])]
        .collect().toMap
      assert(rows(1L).contains("gold") && rows(3L).isEmpty)
    } finally q.stop()
  }

  test("stream-stream interval join buffers across micro-batches " +
    "and runs the same expression in batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def mk() = MemoryStream[(Long, Timestamp, Double)](
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.TIMESTAMP,
        org.apache.spark.sql.Encoders.scalaDouble), spark.sqlContext)
    val (la, rb) = (mk(), mk())
    val left = la.toDF().toDF("user_id", "a_ts", "a_val")
      .withWatermark("a_ts", "1 hour")
    val right = rb.toDF().toDF("user_id", "b_ts", "b_val")
      .withWatermark("b_ts", "1 hour")
    val q = graft.streaming.StreamJoins
      .intervalJoin(left, right, "user_id", "a_ts", "b_ts", "2 hours")
      .select($"user_id", $"a_val", $"b_val")
      .writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    try {
      la.addData((1L, ts(3), 1.0), (2L, ts(3), 2.0))
      q.processAllAvailable()
      // right side arrives a LATER micro-batch: the left rows must
      // still be buffered in state to match
      rb.addData((1L, ts(4), 10.0), (2L, ts(9), 20.0)) // 2L out of bound
      q.processAllAvailable()
      val got = spark.table("ssj")
        .select($"user_id", $"a_val", $"b_val")
        .as[(Long, Double, Double)].collect().toSet
      assert(got == Set((1L, 1.0, 10.0)))
    } finally q.stop()
    // batch mirror: identical call on static frames
    val bl = Seq((1L, ts(3), 1.0), (2L, ts(3), 2.0))
      .toDF("user_id", "a_ts", "a_val")
    val br = Seq((1L, ts(4), 10.0), (2L, ts(9), 20.0))
      .toDF("user_id", "b_ts", "b_val")
    val batch = graft.streaming.StreamJoins
      .intervalJoin(bl, br, "user_id", "a_ts", "b_ts", "2 hours")
      .select($"user_id", $"a_val", $"b_val")
      .as[(Long, Double, Double)].collect().toSet
    assert(batch == Set((1L, 1.0, 10.0)))
  }

  test("stream-stream LEFT OUTER interval join: null-padded rows " +
    "emit only after the watermark passes the bound; batch mirrors") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def mk() = MemoryStream[(Long, Timestamp, Double)](
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.TIMESTAMP,
        org.apache.spark.sql.Encoders.scalaDouble), spark.sqlContext)
    val (la, rb) = (mk(), mk())
    val left = la.toDF().toDF("user_id", "a_ts", "a_val")
      .withWatermark("a_ts", "1 hour")
    val right = rb.toDF().toDF("user_id", "b_ts", "b_val")
      .withWatermark("b_ts", "1 hour")
    val q = graft.streaming.StreamJoins
      .intervalJoinLeftOuter(left, right, "user_id", "a_ts", "b_ts",
        "2 hours")
      .select($"user_id", $"a_val", $"b_val")
      .writeStream.format("memory").queryName("ssjl")
      .outputMode("append").start()
    try {
      // 1L matches; 2L never will — but its bound (3h + 2h tolerance
      // + 1h watermark delay) has not passed, so NO null row yet
      la.addData((1L, ts(3), 1.0), (2L, ts(3), 2.0))
      rb.addData((1L, ts(4), 10.0))
      q.processAllAvailable()
      val early = spark.table("ssjl")
        .select($"user_id", $"a_val", $"b_val")
        .as[(Long, Double, Option[Double])].collect().toSet
      assert(early == Set((1L, 1.0, Some(10.0))),
        s"null row emitted before watermark passed the bound: $early")
      // advance BOTH watermarks past 3h + 2h (global watermark = min
      // across sources); the next micro-batch evicts 2L's state and
      // emits it null-padded. The 9L pair matches and also emits.
      la.addData((9L, ts(20), 0.0))
      rb.addData((9L, ts(20), 0.0))
      q.processAllAvailable()
      // one more micro-batch: eviction runs against the watermark set
      // at the END of the previous batch
      la.addData((8L, ts(21), 0.0))
      q.processAllAvailable()
      val got = spark.table("ssjl")
        .select($"user_id", $"a_val", $"b_val")
        .as[(Long, Double, Option[Double])].collect().toSet
      assert(got.contains((2L, 2.0, None)),
        s"unmatched left row never emitted null-padded: $got")
      assert(got.contains((9L, 0.0, Some(0.0))))
      // hard eviction evidence: the join's state store must have
      // RETIRED the early rows, not only emitted them — total state
      // rows stay below everything ever buffered (4 left + 2 right)
      val stateRows = q.lastProgress.stateOperators
        .map(_.numRowsTotal).sum
      assert(stateRows < 6,
        s"state not evicted after watermark passed: $stateRows rows")
    } finally q.stop()
    // batch mirror: identical call on static frames plans as a plain
    // left join with the same rows
    val bl = Seq((1L, ts(3), 1.0), (2L, ts(3), 2.0))
      .toDF("user_id", "a_ts", "a_val")
    val br = Seq((1L, ts(4), 10.0)).toDF("user_id", "b_ts", "b_val")
    val batch = graft.streaming.StreamJoins
      .intervalJoinLeftOuter(bl, br, "user_id", "a_ts", "b_ts", "2 hours")
      .select($"user_id", $"a_val", $"b_val")
      .as[(Long, Double, Option[Double])].collect().toSet
    assert(batch == Set((1L, 1.0, Some(10.0)), (2L, 2.0, None)))
  }

  test("pointInRangeLeft: matched pairs identical to the inner form; " +
    "never-matched points emit exactly once, null-padded") {
    val points = Seq((1L, 10L, ts(1)), (2L, 10L, ts(6)), (3L, 20L, ts(1)))
      .toDF("event_id", "user_id", "pts")
    val ivals = Seq((10L, ts(0), ts(2), 100L), (10L, ts(1), ts(3), 101L))
      .toDF("user_id", "i_start", "i_end", "ival_id")
    val r = graft.operators.RangeJoin.pointInRangeLeft(points, ivals,
        Seq("user_id"), "pts", "i_start", "i_end", bucketSeconds = 3600L)
      .select($"event_id", $"ival_id")
      .as[(Long, Option[Long])].collect().toSeq
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // point 1 matches both intervals; 2 (same key, out of range) and
    // 3 (absent key) each emit once, null-padded
    assert(r(1L) == Set(Some(100L), Some(101L)))
    assert(r(2L) == Set(None) && r(3L) == Set(None))
  }

  test("pointInRangeLeft: a null point ATTRIBUTE never yields a " +
    "spurious null-padded duplicate (null-safe anti-join)") {
    // the r12 verdict case: anti-joining with null-UNSAFE equality made
    // a matched point carrying a null attribute also count as
    // "globally unmatched" and emit twice
    val points = Seq(
      (1L, 10L, ts(1), Option.empty[String]),  // matches, null attr
      (2L, 10L, ts(6), Option.empty[String]),  // no match, null attr
      (3L, 10L, ts(1), Some("x")))             // matches, non-null
      .toDF("event_id", "user_id", "pts", "tag")
    val ivals = Seq((10L, ts(0), ts(2), 100L))
      .toDF("user_id", "i_start", "i_end", "ival_id")
    val r = graft.operators.RangeJoin.pointInRangeLeft(points, ivals,
        Seq("user_id"), "pts", "i_start", "i_end", bucketSeconds = 3600L)
      .select($"event_id", $"ival_id")
      .as[(Long, Option[Long])].collect().toSeq
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(r(1L) == Seq(Some(100L)),
      s"null-attr matched point must emit exactly its match: ${r(1L)}")
    assert(r(2L) == Seq(None))
    assert(r(3L) == Seq(Some(100L)))
  }

  test("pointInRangeFull: matched pairs + both unmatched sides exactly " +
    "once; an end<start interval emits on the unmatched-interval leg") {
    val points = Seq((1L, 10L, ts(1)), (2L, 10L, ts(6)), (3L, 20L, ts(1)))
      .toDF("event_id", "user_id", "pts")
    val ivals = Seq(
      (10L, ts(0), ts(2), 100L),  // covers point 1
      (10L, ts(8), ts(9), 101L),  // covers nothing
      (30L, ts(0), ts(9), 102L),  // absent key
      (10L, ts(5), ts(3), 103L))  // end < start: pair-finding drops it
      .toDF("user_id", "i_start", "i_end", "ival_id")
    val rows = graft.operators.RangeJoin.pointInRangeFull(points, ivals,
        Seq("user_id"), "pts", "i_start", "i_end", bucketSeconds = 3600L)
      .select($"event_id", $"ival_id")
      .as[(Option[Long], Option[Long])].collect().toSeq
    assert(rows.count(_ == (Some(1L), Some(100L))) == 1)
    // unmatched points null-padded once each
    assert(rows.count(_ == (Some(2L), None)) == 1)
    assert(rows.count(_ == (Some(3L), None)) == 1)
    // unmatched intervals null-padded once each — including the
    // degenerate end<start row (it IS an interval row, just empty)
    for (iv <- Seq(101L, 102L, 103L))
      assert(rows.count(_ == (None, Some(iv))) == 1, s"ival $iv")
    assert(rows.size == 6)
  }

  test("stream-stream FULL OUTER interval join: null-padded rows on " +
    "BOTH sides only after the watermark; two-sided eviction; batch " +
    "mirrors") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def mk() = MemoryStream[(Long, Timestamp, Double)](
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.TIMESTAMP,
        org.apache.spark.sql.Encoders.scalaDouble), spark.sqlContext)
    val (la, rb) = (mk(), mk())
    val left = la.toDF().toDF("user_id", "a_ts", "a_val")
      .withWatermark("a_ts", "1 hour")
    val right = rb.toDF().toDF("user_id", "b_ts", "b_val")
      .withWatermark("b_ts", "1 hour")
    val q = graft.streaming.StreamJoins
      .intervalJoinFullOuter(left, right, "user_id", "a_ts", "b_ts",
        "2 hours")
      .select($"user_id", $"a_val", $"b_val")
      .writeStream.format("memory").queryName("ssjf")
      .outputMode("append").start()
    try {
      // 1L matches; 2L (left) and 7L (right) never will — but their
      // bounds have not passed, so NO null rows yet on either side
      la.addData((1L, ts(3), 1.0), (2L, ts(3), 2.0))
      rb.addData((1L, ts(4), 10.0), (7L, ts(4), 70.0))
      q.processAllAvailable()
      val early = spark.table("ssjf")
        .select($"user_id", $"a_val", $"b_val")
        .as[(Long, Option[Double], Option[Double])].collect().toSet
      assert(early == Set((1L, Some(1.0), Some(10.0))),
        s"null row emitted before watermark passed a bound: $early")
      // advance both watermarks far past every bound, then one more
      // micro-batch so eviction runs against the advanced watermark
      la.addData((9L, ts(20), 0.0))
      rb.addData((9L, ts(20), 0.0))
      q.processAllAvailable()
      la.addData((8L, ts(21), 0.0))
      q.processAllAvailable()
      val got = spark.table("ssjf")
        .select($"user_id", $"a_val", $"b_val")
        .as[(Long, Option[Double], Option[Double])].collect().toSet
      assert(got.contains((2L, Some(2.0), None)),
        s"unmatched LEFT row never emitted null-padded: $got")
      assert(got.contains((7L, None, Some(70.0))),
        s"unmatched RIGHT row never emitted null-padded: $got")
      assert(got.contains((9L, Some(0.0), Some(0.0))))
      // two-sided eviction: both stores retired their early rows
      val stateRows = q.lastProgress.stateOperators
        .map(_.numRowsTotal).sum
      assert(stateRows < 7,
        s"state not evicted after watermark passed: $stateRows rows")
    } finally q.stop()
    // batch mirror: identical call on static frames plans as a plain
    // full join with the same rows, key present from either side
    val bl = Seq((1L, ts(3), 1.0), (2L, ts(3), 2.0))
      .toDF("user_id", "a_ts", "a_val")
    val br = Seq((1L, ts(4), 10.0), (7L, ts(4), 70.0))
      .toDF("user_id", "b_ts", "b_val")
    val batch = graft.streaming.StreamJoins
      .intervalJoinFullOuter(bl, br, "user_id", "a_ts", "b_ts", "2 hours")
      .select($"user_id", $"a_val", $"b_val")
      .as[(Long, Option[Double], Option[Double])].collect().toSet
    assert(batch == Set((1L, Some(1.0), Some(10.0)),
      (2L, Some(2.0), None), (7L, None, Some(70.0))))
  }

  test("bm25: tf saturation and rarity ordering; misses drop out") {
    val docs = Seq(
      (1L, "spark spark spark stream alpha beta gamma"),
      (2L, "spark alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon zeta eta"))
      .toDF("doc_id", "text")
    // raw caller casing/whitespace must fold to the corpus normal form
    val r = graft.text.Bm25.score(docs, Seq(" Spark", "STREAM "))
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2)))
      .toMap
    assert(!r.contains(3L))              // no query term -> no row
    assert(r(1L)._1 == 2 && r(2L)._1 == 1)
    assert(r(1L)._2 > r(2L)._2)          // more hits + rarer term
    graft.core.SessionCache.endQuery()
  }

  test("topKPerKey: equals the plain rank window across partitionings") {
    import org.apache.spark.sql.expressions.Window
    // pseudo-random but deterministic: 500 rows, 20 keys, tied scores
    val rows = (1 to 500).map { i =>
      (i.toLong, (i * 7919 % 20).toLong, (i * 104729 % 13).toLong)
    }
    val w = Window.partitionBy($"user_id")
      .orderBy($"cents".desc, $"event_id".asc)
    for (parts <- Seq(1, 7, 32)) {
      val df = rows.toDF("event_id", "user_id", "cents").repartition(parts)
      val got = graft.operators.TopKPerKey
        .topKPerKey(df, Seq("user_id"), "cents", "event_id", 3)
        .select("event_id", "user_id", "cents", "rk")
        .as[(Long, Long, Long, Long)].collect().toSet
      val want = df.withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= 3)
        .select("event_id", "user_id", "cents", "rk")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == want, s"parts=$parts")
      assert(got.groupBy(_._2).forall(_._2.size == 3))
    }
  }

  test("topKPerKey: contract violations fail loudly, not with an NPE") {
    // non-LONG ordering column rejected at plan time
    val dbl = Seq((1L, 1L, 1.5)).toDF("event_id", "user_id", "cents")
    val e1 = intercept[IllegalArgumentException] {
      graft.operators.TopKPerKey
        .topKPerKey(dbl, Seq("user_id"), "cents", "event_id", 3)
    }
    assert(e1.getMessage.contains("must be LONG"))
    // NULL order value rejected with a descriptive message at run time
    val withNull = Seq((1L, 1L, java.lang.Long.valueOf(5L)),
      (2L, 1L, null.asInstanceOf[java.lang.Long]))
      .toDF("event_id", "user_id", "cents")
    val e2 = intercept[Exception] {
      graft.operators.TopKPerKey
        .topKPerKey(withNull, Seq("user_id"), "cents", "event_id", 3)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e2).exists(_.contains("NULL in ordering column")),
      s"got: ${messages(e2)}")
  }

  test("KmvSketch: equals the naive rank-window model per group and " +
    "for the merged row; under-filled sketches are exact") {
    val ev = graft.core.Tables(spark, SfDir, "events")
    // the fixture has 15 distinct users: k=8 fills every sketch (the
    // ratio-estimate path), k=64 fills none (the exact path)
    val dh = ev.selectExpr("event_type AS grp",
      "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, " +
        "10) AS BIGINT) AS h").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    for (k <- Seq(8, 64)) {
      val got = graft.operators.KmvSketch
        .kmvDistinct(ev, "event_type", "user_id", k)
        .as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      def sketch(hs: Seq[Long]): (Long, Long, Long) = {
        val kept = hs.distinct.sorted.take(k)
        val est = if (kept.length < k) kept.length.toLong
          else (k - 1).toLong * 4294967296L / math.max(kept.last, 1L)
        (kept.length.toLong, kept.last, est)
      }
      val want = dh.groupBy(_._1).map { case (g, rows) =>
        g -> sketch(rows.map(_._2).toSeq)
      } + ("__all__" -> sketch(dh.map(_._2).toSeq))
      assert(got === want, s"k=$k")
      val filled = want.values.count(_._1 == k)
      assert(if (k == 8) filled == want.size else filled == 0, s"k=$k")
    }
    // under-filled sketches are EXACT: k=64 rows equal countDistinct
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).cast("long")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got64 = graft.operators.KmvSketch
      .kmvDistinct(ev, "event_type", "user_id", 64)
      .filter(col("event_type") =!= "__all__")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(got64 === exact)
  }

  test("KmvSketch merge property: the __all__ row from per-group " +
    "sketches equals a direct single-group sketch") {
    val ev = graft.core.Tables(spark, SfDir, "events")
    val k = 16
    val merged = graft.operators.KmvSketch
      .kmvDistinct(ev, "event_type", "user_id", k)
      .filter(col("event_type") === "__all__")
      .as[(String, Long, Long, Long)].collect().head
    val direct = graft.operators.KmvSketch
      .kmvDistinct(ev.withColumn("one", lit("solo")), "one",
        "user_id", k)
      .filter(col("one") === "solo")
      .as[(String, Long, Long, Long)].collect().head
    assert((merged._2, merged._3, merged._4) ===
      (direct._2, direct._3, direct._4))
  }

  test("CmsSketch: estimates never undercount, exact for collision-" +
    "free items, and sketches merge by cellwise add") {
    import graft.operators.CmsSketch
    val ev = graft.core.Tables(spark, SfDir, "events")
    val est = CmsSketch.estimateAll(ev, "user_id")
      .as[(Long, Long, Long, Long)].collect()
    assert(est.nonEmpty)
    // one-sided guarantee: min-of-counters >= true count, always
    assert(est.forall { case (_, exact, cms, over) =>
      cms >= exact && over == cms - exact })
    // merge property: counters over the whole frame == cellwise sum
    // of the two halves' counters (the sliding-window/shard-union use)
    val a = ev.filter(col("event_id") % 2 === 0)
    val b = ev.filter(col("event_id") % 2 =!= 0)
    val whole = CmsSketch.build(ev, "user_id")
      .as[(Int, Long, Long)].collect().map(r => (r._1, r._2) -> r._3)
      .toMap
    val merged = (CmsSketch.build(a, "user_id")
        .as[(Int, Long, Long)].collect() ++
      CmsSketch.build(b, "user_id")
        .as[(Int, Long, Long)].collect())
      .groupBy(r => (r._1, r._2))
      .map { case (k, rows) => k -> rows.map(_._3).sum }
    assert(merged === whole)
  }

  test("Bootstrap: Poisson(1) draws average ~1, results are " +
    "deterministic, and the spread brackets the exact total") {
    import graft.operators.Bootstrap
    val o = graft.core.Tables(spark, SfDir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
    // draw-level sanity: the mean resample count over all
    // (row, replicate) pairs is ~1 (law of the inverted CDF)
    val cnts = o.select(col("o_orderkey"),
      explode(sequence(lit(0), lit(15))).as("b"))
      .selectExpr(Bootstrap.countSql(
        Bootstrap.sparkHash("o_orderkey", "b")) + " AS cnt")
      .agg(avg(col("cnt"))).head().getDouble(0)
    assert(math.abs(cnts - 1.0) < 0.05, s"mean draw $cnts")
    val run1 = Bootstrap.poissonBootstrap(o, "o_orderpriority",
      "o_orderkey", "cents")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    val run2 = Bootstrap.poissonBootstrap(o, "o_orderpriority",
      "o_orderkey", "cents")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(run1 === run2 && run1.nonEmpty)
    // with 16 replicates the spread straddles the exact total for
    // every group here (fails only if the estimator is biased/broken)
    run1.foreach { case (g, _, tot, mn, med, mx) =>
      assert(mn <= mx && mn <= med && med <= mx, g)
      assert(mn <= tot && tot <= mx,
        s"$g: [$mn, $mx] misses exact $tot")
    }
  }

  test("kmvSetOps: matches the scalar model at both fill levels; " +
    "under-filled degrades to exact set algebra") {
    val ev = graft.core.Tables(spark, SfDir, "events")
    val hs = ev.filter(col("event_type").isin("click", "purchase"))
      .selectExpr("event_type",
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), " +
          "16, 10) AS BIGINT) AS h").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val aSet = hs.filter(_._1 == "click").map(_._2).toSet
    val bSet = hs.filter(_._1 == "purchase").map(_._2).toSet
    for (k <- Seq(8, 64)) {
      val got = graft.operators.KmvSketch
        .kmvSetOps(ev, "event_type", "user_id", "click", "purchase", k)
        .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
        .collect().head
      def sk(s: Set[Long]) = s.toSeq.sorted.take(k)
      val (ka, kb) = (sk(aSet), sk(bSet))
      val ku = sk(ka.toSet ++ kb.toSet)
      def est(kept: Seq[Long]) = if (kept.length < k) kept.length.toLong
        else (k - 1).toLong * 4294967296L / math.max(kept.last, 1L)
      val nBoth = ku.count(x => ka.contains(x) && kb.contains(x)).toLong
      val estI = if (ku.length < k) nBoth
        else nBoth * 4294967296L / math.max(ku.last, 1L)
      assert(got === ((ka.length.toLong, est(ka), kb.length.toLong,
        est(kb), ku.length.toLong, ku.last, est(ku), nBoth, estI)),
        s"k=$k")
      // the under-filled path is EXACT set algebra
      if (ku.length < k) {
        assert(got._7 == (aSet ++ bSet).size.toLong)
        assert(got._9 == (aSet intersect bSet).size.toLong)
      }
    }
  }

  test("kmvRolling: a window's merged sketch equals the direct sketch " +
    "over its member days' raw events") {
    val ev = graft.core.Tables(spark, SfDir, "events")
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
    val k = 8
    val minDay = ev.agg(min(col("day"))).head().getLong(0)
    val d = minDay + 8 // a full 7-day window [d-6, d]
    val rolled = graft.operators.KmvSketch
      .kmvRolling(ev, "ts", "user_id", k)
      .filter(col("window_day") === d)
      .as[(Long, Long, Long, Long)].collect().head
    val direct = graft.operators.KmvSketch
      .kmvDistinct(ev.filter(col("day").between(d - 6, d))
        .withColumn("one", lit("solo")), "one", "user_id", k)
      .filter(col("one") === "solo")
      .as[(String, Long, Long, Long)].collect().head
    assert((rolled._2, rolled._3, rolled._4) ===
      (direct._2, direct._3, direct._4))
  }

  test("SweepLine: peak concurrency with half-open intervals, " +
    "earliest-date tie-break, zero-length intervals never open") {
    def d(n: Int) = java.sql.Date.valueOf(f"2024-01-$n%02d")
    val iv = Seq(
      // key a: [1,5) [2,4) [3,6) -> opens 1,2,3 then closes: peak 3 @ d3
      ("a", d(1), d(5)), ("a", d(2), d(4)), ("a", d(3), d(6)),
      // key b: [1,3) [3,5) touch at d3 — half-open means NOT concurrent
      ("b", d(1), d(3)), ("b", d(3), d(5)),
      // key c: zero-length [2,2) nets 0 and never opens; [1,4) carries
      ("c", d(2), d(2)), ("c", d(1), d(4)))
      .toDF("k", "s", "e")
    val got = graft.operators.SweepLine.peakConcurrency(iv, "k", "s", "e")
      .orderBy("k")
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getDate(2).toString, r.getLong(3)))
    assert(got.toSeq === Seq(
      ("a", 3L, "2024-01-03", 3L),
      ("b", 1L, "2024-01-01", 2L),
      ("c", 1L, "2024-01-01", 2L)))
  }
  test("debounce: bursts chain transitively; boundary gap stays merged") {
    def t(s: String) = Timestamp.valueOf(s"2024-01-01 $s")
    // u1: 00:00, 02:00 (gap == 7200 s, stays), 04:00 (chained — total
    // span 4 h exceeds the gap, proving transitivity), then 14:00
    // breaks; u2: a lone event; u3: gap 7200 s + 1 breaks
    val ev = Seq(
      (1L, t("00:00:00"), 10L), (1L, t("02:00:00"), 11L),
      (1L, t("04:00:00"), 12L), (1L, t("14:00:00"), 13L),
      (2L, t("09:00:00"), 20L),
      (3L, t("00:00:00"), 30L), (3L, t("02:00:01"), 31L))
      .toDF("user_id", "ts", "event_id")
    val got = graft.operators.Debounce
      .bursts(ev, "user_id", "ts", "event_id", 7200L)
      .orderBy("user_id", "burst_id")
      .select($"user_id", $"keeper_id", $"n_events", $"span_s")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (1L, 10L, 3L, 14400L), (1L, 13L, 1L, 0L),
      (2L, 20L, 1L, 0L),
      (3L, 30L, 1L, 0L), (3L, 31L, 1L, 0L)))
  }

  test("debounce: conservation — burst event counts sum to input rows") {
    val ev = graft.core.Tables(spark, SfDir, "events")
    val r = graft.operators.Debounce.bursts(ev, "user_id", "ts",
      "event_id", graft.operators.Debounce.DefaultGapSeconds)
    val total = r.agg(sum($"n_events")).as[Long].head()
    assert(total == ev.count())
    // the threshold actually collapses something at fixture geometry
    assert(r.count() < ev.count())
  }

  test("nullPatterns: co-occurring null combinations group into one " +
    "pattern row with stable bitmask and readable column list") {
    val df = Seq[(Option[String], Option[String], Option[String],
        Option[String])](
      (None, None, Some("s"), Some("x")),
      (None, None, Some("s2"), Some("x2")),
      (Some("k"), None, None, Some("x")),
      (Some("k"), Some("v"), Some("s"), Some("x")))
      .toDF("key", "value", "status", "snapshot")
    val r = graft.load.Load.nullPatterns(df,
        Seq("key", "value", "status", "snapshot"))
      .as[(Long, String, Long, Long)].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4))).toMap
    assert(r(12L) == (("key,value", 2L, 500000L)))
    assert(r(6L) == (("value,status", 1L, 250000L)))
    assert(r(0L) == (("", 1L, 250000L)))
    assert(r.size == 3)
  }
}
