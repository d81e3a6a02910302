package graft

import org.apache.spark.sql.functions._
import graft.analytics.Analytics

/** Invariant tests over the sf0.001 fixture (SURVEY §5's adopted
  * property style: conservation + partition checks). */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  test("intervalAudit: sweep catches the swallowed interval lag would " +
    "miss; backwards range flagged; gap days exact; clean key clean") {
    def d(s: String) = java.sql.Date.valueOf(s)
    val iv = Seq(
      // A: contiguous, clean (2024 is a leap year: 31+44 = span 75)
      (1L, d("2024-01-01"), d("2024-01-31")),
      (1L, d("2024-02-01"), d("2024-03-15")),
      // B: (01-02,01-03) is SWALLOWED by (01-01,01-10) — its end is
      // before the next row's start, so lag(end) alone would pass
      // (01-05,01-20); the running max must flag BOTH as overlaps
      (2L, d("2024-01-01"), d("2024-01-10")),
      (2L, d("2024-01-02"), d("2024-01-03")),
      (2L, d("2024-01-05"), d("2024-01-20")),
      // C: backwards range
      (3L, d("2024-02-10"), d("2024-02-01")),
      // D: a 4-day hole — gap evidence, still consistent
      (4L, d("2024-01-01"), d("2024-01-05")),
      (4L, d("2024-01-10"), d("2024-01-12")))
      .toDF("o_custkey", "valid_from", "valid_to")
    val r = Analytics.intervalAudit(iv).collect()
      .map(x => x.getAs[Long]("o_custkey") ->
        ((x.getAs[Long]("n_overlaps"), x.getAs[Long]("n_bad_duration"),
          x.getAs[Long]("gap_days"), x.getAs[Long]("is_consistent"))))
      .toMap
    assert(r(1L) == ((0L, 0L, 0L, 1L)), s"clean key: ${r(1L)}")
    assert(r(2L)._1 == 2L && r(2L)._4 == 0L, s"sweep overlap: ${r(2L)}")
    assert(r(3L) == ((0L, 1L, 0L, 0L)), s"backwards: ${r(3L)}")
    assert(r(4L) == ((0L, 0L, 4L, 1L)), s"gap: ${r(4L)}")
  }

  test("property: intervalAudit matches a plain-Scala sweep reference " +
    "on random interval sets") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: org.scalacheck.Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    val base = java.time.LocalDate.of(2024, 1, 1)
    (1L to 3L).foreach { seed =>
      val iv = sample(Gen.listOfN(120, Gen.zip(
        Gen.chooseNum(1L, 6L),            // key
        Gen.chooseNum(0L, 60L),           // start day offset
        Gen.chooseNum(-3L, 20L))), seed)  // signed length-1
        .map { case (k, s, l) => (k, base.plusDays(s), base.plusDays(s + l)) }
      val got = Analytics.intervalAudit(
        iv.map { case (k, f, t) =>
          (k, java.sql.Date.valueOf(f), java.sql.Date.valueOf(t)) }
          .toDF("o_custkey", "valid_from", "valid_to")).collect()
        .map(x => x.getAs[Long]("o_custkey") ->
          ((x.getAs[Long]("n_overlaps"), x.getAs[Long]("n_bad_duration"),
            x.getAs[Long]("span_days"), x.getAs[Long]("len_days"),
            x.getAs[Long]("gap_days")))).toMap
      val want = iv.groupBy(_._1).map { case (k, rows) =>
        val s = rows.map(r => (r._2.toEpochDay, r._3.toEpochDay)).sorted
        var pmax = Long.MinValue
        var overlaps = 0L
        s.foreach { case (f, t) =>
          if (pmax != Long.MinValue && f <= pmax) overlaps += 1
          pmax = math.max(pmax, t)
        }
        val span = s.map(_._2).max - s.map(_._1).min + 1
        val len = s.map(r => r._2 - r._1 + 1).sum
        k -> ((overlaps, s.count(r => r._2 < r._1).toLong, span, len,
          math.max(span - len, 0L)))
      }
      assert(got == want, s"seed=$seed got=$got want=$want")
    }
  }

  test("marginWaterfall: rational-floor bridge steps add up exactly " +
    "and match the hand computation") {
    val li = Seq(
      // gross 1000c, 5% disc → 50c, tax 8% of 950 → 76c, charged 1026
      ("N", "O", 10.00, 0.05, 0.08),
      // gross 333c, 3% disc → floor 9c, tax 7% of 324 → floor 22c
      ("N", "O", 3.33, 0.03, 0.07),
      ("R", "F", 5.00, 0.00, 0.00))
      .toDF("l_returnflag", "l_linestatus", "l_extendedprice",
        "l_discount", "l_tax")
    val r = Analytics.marginWaterfall(li).collect()
      .map(x => (x.getAs[String]("l_returnflag"),
        x.getAs[String]("l_linestatus")) ->
        ((x.getAs[Long]("gross_cents"), x.getAs[Long]("disc_cents"),
          x.getAs[Long]("tax_cents"), x.getAs[Long]("charged_cents"))))
      .toMap
    assert(r(("N", "O")) == ((1333L, 59L, 98L, 1372L)), s"${r(("N", "O"))}")
    assert(r(("R", "F")) == ((500L, 0L, 0L, 500L)))
    // the bridge identity holds on every row
    r.values.foreach { case (g, d, t, c) => assert(c == g - d + t) }
  }

  test("discountLift: integer tiers partition the discount domain; " +
    "per (brand, tier) moments hand-exact") {
    val part = Seq((1L, "Brand#A"), (2L, "Brand#B"))
      .toDF("p_partkey", "p_brand")
    val li = Seq(
      (1L, 0.00, 1.0, 10.0), (1L, 0.04, 3.0, 9.0),
      (1L, 0.05, 5.0, 8.0), (2L, 0.10, 2.0, 7.0))
      .toDF("l_partkey", "l_discount", "l_quantity", "l_extendedprice")
    val r = Analytics.discountLift(li, part).collect()
      .map(x => (x.getAs[String]("p_brand"), x.getAs[Long]("tier")) ->
        ((x.getAs[Long]("n_lines"), x.getAs[Long]("qty_units"),
          x.getAs[Long]("rev_cents"), x.getAs[Long]("mean_qty_u"))))
      .toMap
    // pct div 3: 0→tier0; 4,5→tier1; 10→tier3
    assert(r(("Brand#A", 0L)) == ((1L, 100L, 1000L, 100L)))
    assert(r(("Brand#A", 1L)) == ((2L, 800L, 1700L, 400L)))
    assert(r(("Brand#B", 3L)) == ((1L, 200L, 700L, 200L)))
    assert(r.size == 3)
  }

  test("dwellByType: forward gap lands on the CURRENT type; last " +
    "events counted but never summed; all-last type stays NULL") {
    def t(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    val ev = Seq(
      (1L, 1L, t(0L), "view"), (2L, 1L, t(10L), "click"),
      (3L, 1L, t(30L), "purchase"),
      (4L, 2L, t(0L), "view"), (5L, 2L, t(7L), "view"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val rows = Analytics.dwellByType(ev).collect()
      .map(x => x.getAs[String]("event_type") -> x).toMap
    val v = rows("view")
    assert(v.getAs[Long]("n") == 2L && v.getAs[Long]("n_last") == 1L &&
      v.getAs[Long]("sum_s") == 17L && v.getAs[Long]("sum_s2") == 149L &&
      v.getAs[Long]("mean_s") == 8L)
    val c = rows("click")
    assert(c.getAs[Long]("n") == 1L && c.getAs[Long]("sum_s") == 20L)
    val p = rows("purchase")
    assert(p.getAs[Long]("n") == 0L && p.getAs[Long]("n_last") == 1L &&
      p.isNullAt(p.fieldIndex("sum_s")) &&
      p.isNullAt(p.fieldIndex("mean_s")))
  }

  test("twapByUser: LOCF durations weight values exactly; last obs " +
    "carries none; single-event user reports zero without NULLs") {
    def t(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    val ev = Seq(
      (1L, 1L, t(0L), 1.0),   // holds 10 s at 100 c
      (2L, 1L, t(10L), 3.0),  // holds 20 s at 300 c
      (3L, 1L, t(30L), 2.0),  // last: no duration
      (4L, 2L, t(5L), 9.0))   // single event
      .toDF("event_id", "user_id", "ts", "value")
    val r = Analytics.twapByUser(ev).collect()
      .map(x => x.getAs[Long]("user_id") ->
        ((x.getAs[Long]("n_obs"), x.getAs[Long]("mass_cents_s"),
          x.getAs[Long]("dur_total_s"), x.getAs[Long]("twap_cents"))))
      .toMap
    // mass = 100·10 + 300·20 = 7000 over 30 s → floor 233 c
    assert(r(1L) == ((3L, 7000L, 30L, 233L)), s"twap: ${r(1L)}")
    assert(r(2L) == ((1L, 0L, 0L, 0L)), s"single: ${r(2L)}")
  }

  test("botScreen: fixed cadence is robotic, spread gaps are not, " +
    "support floor spares tiny users, single-event user emits no row") {
    def t(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    val ev =
      ((1 to 6).map(i => (100L + i, 1L, t(i * 10L))) ++     // 5 gaps ×10s
        Seq(0L, 10L, 30L, 60L, 100L, 155L).zipWithIndex
          .map { case (s, i) => (200L + i, 2L, t(s)) } ++   // all distinct
        Seq((301L, 3L, t(0L)), (302L, 3L, t(10L))) ++       // 1 gap only
        Seq((401L, 4L, t(0L))))                             // no gap
        .toDF("event_id", "user_id", "ts")
    val r = graft.analytics.Analytics.botScreen(ev).collect()
      .map(x => x.getAs[Long]("user_id") ->
        ((x.getAs[Long]("n_gaps"), x.getAs[Long]("modal_share_ppm"),
          x.getAs[Long]("is_robotic")))).toMap
    assert(r(1L) == ((5L, 1000000L, 1L)), s"bot: ${r(1L)}")
    assert(r(2L) == ((5L, 200000L, 0L)), s"human: ${r(2L)}")
    assert(r(3L) == ((1L, 1000000L, 0L)), s"tiny user judged: ${r(3L)}")
    assert(!r.contains(4L), "single-event user must emit no row")
  }

  test("property: twapByUser and botScreen match naive references on " +
    "random event streams") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: org.scalacheck.Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    (1L to 3L).foreach { seed =>
      val raw = sample(Gen.listOfN(150, Gen.zip(
        Gen.chooseNum(1L, 5L),       // user
        Gen.chooseNum(0L, 5000L),    // seconds offset
        Gen.chooseNum(0L, 9999L))),  // cents
        seed).zipWithIndex.map { case ((u, s, c), i) =>
        (i.toLong, u, s, c)
      }
      val ev = raw.map { case (id, u, s, c) =>
        (id, u, new java.sql.Timestamp(1700000000000L + s * 1000L),
          c.toDouble / 100.0)
      }.toDF("event_id", "user_id", "ts", "value")
      // naive per-user ordered fold
      val byUser = raw.groupBy(_._2).view.mapValues(
        _.sortBy(r => (r._3, r._1))).toMap
      val twapWant = byUser.map { case (u, rows) =>
        val durs = rows.zip(rows.drop(1)).map { case (a, b) => b._3 - a._3 }
        val mass = rows.zip(durs).map { case (r, d) => r._4 * d }.sum
        val dur = durs.sum
        u -> ((rows.size.toLong, mass, dur,
          mass / math.max(dur, 1L)))
      }
      val twapGot = Analytics.twapByUser(ev).collect()
        .map(x => x.getAs[Long]("user_id") ->
          ((x.getAs[Long]("n_obs"), x.getAs[Long]("mass_cents_s"),
            x.getAs[Long]("dur_total_s"), x.getAs[Long]("twap_cents"))))
        .toMap
      assert(twapGot == twapWant, s"twap seed=$seed")
      val botWant = byUser.flatMap { case (u, rows) =>
        val gaps = rows.zip(rows.drop(1)).map { case (a, b) => b._3 - a._3 }
        if (gaps.isEmpty) None
        else {
          val cnt = gaps.groupBy(identity).view.mapValues(_.size.toLong)
          val modal = cnt.values.max
          val share = modal * 1000000L / gaps.size
          Some(u -> ((gaps.size.toLong, cnt.size.toLong, modal, share,
            if (gaps.size >= 5 && share >= 500000L) 1L else 0L)))
        }
      }
      val botGot = Analytics.botScreen(ev).collect()
        .map(x => x.getAs[Long]("user_id") ->
          ((x.getAs[Long]("n_gaps"), x.getAs[Long]("n_distinct_gaps"),
            x.getAs[Long]("modal_cnt"), x.getAs[Long]("modal_share_ppm"),
            x.getAs[Long]("is_robotic")))).toMap
      assert(botGot == botWant, s"bot seed=$seed")
    }
  }

  test("ABC: classes partition rows, cum_share monotone within brand") {
    val r = Analytics.abcClassification(spark, SfDir)
    assert(r.filter(!col("abc_class").isin("A", "B", "C")).count() == 0)
    val bad = r.filter(col("cum_share") > 1.0 + 1e-9).count()
    assert(bad == 0)
  }

  test("XYZ: cov = std/mean and classes cover all parts") {
    val r = Analytics.xyzClassification(spark, SfDir)
    assert(r.filter(col("xyz_class").isNull).count() == 0)
    val mism = r.filter(col("mean_qty") > 0 &&
      abs(col("cov") - round(col("std_qty") / col("mean_qty"), 6)) > 1e-6)
    assert(mism.count() == 0)
  }

  test("FCA: fca = 1 - abs_err_pct when demand > 0") {
    val r = Analytics.forecastAccuracy(spark, SfDir)
    val bad = r.filter(col("actual") =!= 0 &&
      abs(col("fca") - (lit(1.0) - col("abs_err_pct"))) > 1e-5).count()
    assert(bad == 0)
  }

  test("UOM conversion: converted * to_factor recovers qty") {
    val r = Analytics.uomConversion(spark, SfDir)
    val bad = r.filter(
      abs(col("converted_qty") * col("to_factor") - col("qty")) >
        col("qty") * 1e-4 + 1e-2).count()
    assert(bad == 0)
  }

  test("delta detect: self-delta is empty (upsert of unchanged data)") {
    val d = Analytics.deltaDetect(spark, SfDir, 1996, 1996)
    assert(d.count() == 0)
  }

  test("weekly disaggregation conserves monthly totals") {
    val r = Analytics.weeklyDisaggregation(spark, SfDir)
    val monthly = graft.core.Tables(spark, SfDir, "orders")
      .filter(year(col("o_orderdate")) === 1996)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date")
        .as("month_start"))
      .agg(round(sum(col("o_totalprice")), 2).as("month_total"))
    val bad = r.groupBy("month_start")
      .agg(sum(col("week_value")).as("wsum"))
      .join(monthly, "month_start")
      .filter(abs(col("wsum") - col("month_total")) > 0.01)
    assert(bad.count() == 0)
  }

  test("unpivot of pivot restores long-form totals (conservation)") {
    val wide = Analytics.pivotSum(spark, SfDir)
    val long = Analytics.unpivotSum(spark, SfDir)
    val wideSum = wide.select(
      Analytics.Segments.map(s => sum(col(s))).reduce(_ + _))
      .as[Double].head()
    val longSum = long.agg(sum("total")).as[Double].head()
    assert(math.abs(wideSum - longSum) < 1e-6)
  }

  test("running totals: last cumulative equals group total") {
    val r = Analytics.runningTotals(spark, SfDir)
    val byBu = r.groupBy("bu")
      .agg(max("cum_total").as("mx"), sum("total").as("tot"))
      .filter(abs(col("mx") - round(col("tot"), 2)) > 0.05)
    assert(byBu.count() == 0)
  }

  test("property: funnel times are ordered, stage = prefix of hits; " +
    "AUC is shift-invariant and bounded") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    (1L to 3L).foreach { seed =>
      // random event soup: 60 events over 8 users, 3 types, 100 seconds
      val evGen = Gen.listOfN(60, for {
        u <- Gen.chooseNum(1L, 8L)
        t <- Gen.oneOf("view", "click", "purchase")
        s <- Gen.chooseNum(0, 99)
      } yield (u, t, java.sql.Timestamp.valueOf(
        f"2024-01-01 00:01:${s % 60}%02d.${s / 60}%03d")))
      val ev = sample(evGen, seed).toDF("user_id", "event_type", "ts")
      val f = Analytics.funnelStages(ev)
        .as[(Long, Long, Long, Long, Long)].collect()
      graft.core.SessionCache.endQuery()
      f.foreach { case (_, v, c, p, stage) =>
        // later stages require earlier ones, strictly increasing
        if (c != -1L) assert(v != -1L && c > v)
        if (p != -1L) assert(c != -1L && p > c)
        assert(stage == Seq(v, c, p).count(_ != -1L))
      }
      // AUC: bounded, and invariant under shifting all scores
      val scGen = Gen.listOfN(50, for {
        cts <- Gen.chooseNum(0L, 20L)
        lb <- Gen.oneOf(0L, 1L)
      } yield ("g", cts, lb))
      val sc = sample(scGen, seed + 10)
      val auc1 = Analytics.aucByGroup(sc.toDF("grp", "cents", "label"))
        .select("auc_e6").as[Long].head()
      val auc2 = Analytics.aucByGroup(
        sc.map { case (g, c, l) => (g, c + 1000L, l) }
          .toDF("grp", "cents", "label"))
        .select("auc_e6").as[Long].head()
      assert(auc1 == auc2)
      assert(auc1 == -1L || (auc1 >= 0L && auc1 <= 1000000L))
    }
  }

  test("calibrationCurve: equi-depth tiles conserve rows, rates exact") {
    val n = 100
    val scored = (1 to n).map(i =>
      (i.toLong, (i % 25).toLong, if (i % 3 == 0) 1L else 0L))
      .toDF("id", "cents", "label")
    val r = Analytics.calibrationCurve(scored)
    graft.core.SessionCache.endQuery()
    val rows = r.orderBy("tile")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.map(_._2).sum == n)          // every row in exactly one tile
    assert(rows.forall(t => t._2 == 10))     // 100 rows / 10 tiles exactly
    assert(rows.map(_._1).toSeq == (1L to 10L))
    // tiles are ordered by score: lo/hi ranges never go backwards
    assert(rows.sliding(2).forall {
      case Array(a, b) => a._5 <= b._4 || a._5 == b._4 - 0; case _ => true
    })
    assert(rows.forall(t => t._6 >= 0 && t._6 <= 1000000 &&
      t._6 == t._3 * 1000000 / t._2))
  }

  test("aucByGroup: midrank tie handling, perfect/inverse/degenerate") {
    // hand-computed: neg {1, 2}, pos {2, 3}; midranks 1, 2.5, 2.5, 4
    // R+ = 2.5 + 4 = 6.5 -> AUC = (6.5 - 3) / 4 = 0.875
    val tied = Seq(("g", 1L, 0L), ("g", 2L, 0L), ("g", 2L, 1L),
      ("g", 3L, 1L),
      // perfect separation
      ("p", 1L, 0L), ("p", 2L, 1L),
      // inverse separation
      ("i", 2L, 0L), ("i", 1L, 1L),
      // degenerate: single class
      ("d", 1L, 1L), ("d", 2L, 1L))
      .toDF("grp", "cents", "label")
    val r = Analytics.aucByGroup(tied)
      .select("grp", "auc_e6").as[(String, Long)].collect().toMap
    assert(r("g") == 875000L)
    assert(r("p") == 1000000L)
    assert(r("i") == 0L)
    assert(r("d") == -1L)
  }

  test("eventTrigrams: ordered per-user windows, count-desc tiebreak") {
    import java.sql.Timestamp
    def ts(s: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    val ev = Seq(
      (1L, 1L, "a", ts(1)), (2L, 1L, "b", ts(2)), (3L, 1L, "c", ts(3)),
      (4L, 1L, "a", ts(4)),   // user 1: a>b>c, b>c>a
      (5L, 2L, "a", ts(1)), (6L, 2L, "b", ts(2)), (7L, 2L, "c", ts(3)))
      .toDF("event_id", "user_id", "event_type", "ts")
    val r = Analytics.eventTrigrams(ev)
      .as[(String, Long, Long)].collect().toSeq.sortBy(_._3)
    assert(r == Seq(("a>b>c", 2L, 1L), ("b>c>a", 1L, 2L)))
  }

  test("retentionCohorts: cohort triangle counts distinct active users") {
    import java.sql.Timestamp
    def ts(d: Int) = Timestamp.valueOf(f"2024-05-$d%02d 09:00:00")
    val ev = Seq(
      (1L, ts(1)), (1L, ts(1)), (1L, ts(3)),   // cohort d1: offsets 0, 2
      (2L, ts(1)), (2L, ts(2)),                // cohort d1: offsets 0, 1
      (3L, ts(2)))                             // cohort d2: offset 0
      .toDF("user_id", "ts")
    val r = Analytics.retentionCohorts(ev)
      .as[(java.sql.Date, Long, Long)].collect()
      .map(t => (t._1.toString, t._2) -> t._3).toMap
    assert(r(("2024-05-01", 0L)) == 2L)   // users 1 and 2 on day 0
    assert(r(("2024-05-01", 1L)) == 1L)   // user 2 returned next day
    assert(r(("2024-05-01", 2L)) == 1L)   // user 1 returned on day 2
    assert(r(("2024-05-02", 0L)) == 1L)   // user 3's cohort
    assert(r.size == 4)
  }

  test("rollingWindow: inclusive 7-day range frame, ties share a frame") {
    import java.sql.Timestamp
    def day(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    val ev = Seq(
      (1L, 7L, day(1), 1.0),   // frame start
      (2L, 7L, day(8), 2.0),   // exactly 7 days later: includes #1
      (3L, 7L, day(9), 4.0),   // 8 days after #1: excludes it
      (4L, 7L, day(9), 8.0),   // tie with #3: same frame, both included
      (5L, 9L, day(8), 16.0))  // other user: isolated
      .toDF("event_id", "user_id", "ts", "value")
    val r = Analytics.rollingWindow(ev)
      .select("event_id", "n_win", "cents_win")
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(r(1L) == ((1L, 100L)))
    assert(r(2L) == ((2L, 300L)))      // 1.0 + 2.0
    assert(r(3L) == ((3L, 1400L)))     // 2.0 + 4.0 + 8.0 (tie shares)
    assert(r(4L) == ((3L, 1400L)))
    assert(r(5L) == ((1L, 1600L)))
  }

  test("decayScores: half-life ladder weights exact on known ages; " +
    "ancient mass decays to zero") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s + " 12:00:00")
    // as-of = 2024-12-31; ages 0, 7, 70, 400 days → k = 0, 1, 10, 30
    val ev = Seq(
      (1L, t("2024-12-31"), 1L, "A", 0.0),
      (2L, t("2024-12-24"), 1L, "A", 0.0),
      (3L, t("2024-10-22"), 1L, "B", 0.0),
      (4L, t("2023-11-27"), 1L, "B", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = graft.analytics.Analytics.decayScores(ev).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r("A") == ((2L, 1000000L + 500000L)), s"got $r")
    // 70 days = 10 rungs → 1e6 >> 10 = 976; 400 days caps at 30 → 0
    assert(r("B") == ((2L, 976L)), s"got $r")
  }

  test("gapFillDaily: dense spine per type, gaps flagged and " +
    "carried forward from the last observed day") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s + " 12:00:00")
    // A: days 1, 2, 5 (2 events on day 2) → gaps 3, 4 carry day-2's 2
    // B: single day → one dense row, no gaps
    val ev = Seq(
      (1L, t("2024-03-01"), 1L, "A", 0.0),
      (2L, t("2024-03-02"), 1L, "A", 0.0),
      (3L, t("2024-03-02"), 2L, "A", 0.0),
      (4L, t("2024-03-05"), 1L, "A", 0.0),
      (5L, t("2024-03-09"), 1L, "B", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = graft.analytics.Analytics.gapFillDaily(ev)
      .collect().map(x => (x.getString(0), x.getDate(1).toString,
        x.getLong(2), x.getBoolean(3), x.getLong(4)))
      .sortBy(x => (x._1, x._2))
    assert(r.map(_._2) sameElements Array("2024-03-01", "2024-03-02",
      "2024-03-03", "2024-03-04", "2024-03-05", "2024-03-09"))
    val a = r.filter(_._1 == "A")
    assert(a.map(_._3).toSeq == Seq(1L, 2L, 0L, 0L, 1L)) // n_obs
    assert(a.map(_._4).toSeq ==
      Seq(false, false, true, true, false)) // is_gap
    assert(a.map(_._5).toSeq == Seq(1L, 2L, 2L, 2L, 1L)) // LOCF
    assert(r.filter(_._1 == "B").toSeq ==
      Seq(("B", "2024-03-09", 1L, false, 1L)))
  }

  test("logBucketQuantiles: known buckets on a hand fixture; lower " +
    "bounds bracket the exact quantile within 2x") {
    import java.sql.Timestamp
    val ts = Timestamp.valueOf("2024-01-01 00:00:00")
    // type A: 10 values of 0.01 (1 cent, b=1) and 10 of 10.24
    // (1024 cents, b=11) → p50 lands in bucket 1, p90/p99 in bucket 11
    // type B: all zero/negative → every bucket 0
    val rows =
      (1 to 10).map(i => (i.toLong, ts, i.toLong, "A", 0.01)) ++
      (11 to 20).map(i => (i.toLong, ts, i.toLong, "A", 10.24)) ++
      (21 to 25).map(i => (i.toLong, ts, i.toLong, "B", -3.5))
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = graft.analytics.Analytics.logBucketQuantiles(ev).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4), x.getLong(5), x.getLong(6),
        x.getLong(7))).toMap
    // (n, b50, b90, b99, p50_lb, p90_lb, p99_lb) — the exact p50 is
    // 1 cent in [lb, 2·lb) = [1, 2) and the exact p90/p99 are 1024 in
    // [1024, 2048): the sketch's 2× error contract on this fixture
    assert(r("A") == ((20L, 1L, 11L, 11L, 1L, 1024L, 1024L)), s"got $r")
    assert(r("B") == ((5L, 0L, 0L, 0L, 0L, 0L, 0L)), s"got $r")
  }

  test("funnelStages: strict event-time order, stages block downstream") {
    import java.sql.Timestamp
    def ts(s: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    def us(s: Int) = ts(s).getTime * 1000L
    val ev = Seq(
      // user 1: full ordered chain
      (1L, "view", ts(1)), (1L, "click", ts(2)), (1L, "purchase", ts(3)),
      // user 2: click BEFORE view never counts; the later click does
      (2L, "click", ts(1)), (2L, "view", ts(2)), (2L, "click", ts(5)),
      // user 3: purchase before click -> stage stops at 2
      (3L, "view", ts(1)), (3L, "purchase", ts(2)), (3L, "click", ts(3)),
      // user 4: no view at all -> stage 0 despite click+purchase
      (4L, "click", ts(1)), (4L, "purchase", ts(2)))
      .toDF("user_id", "event_type", "ts")
    val r = Analytics.funnelStages(ev)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4, t._5)).toMap
    graft.core.SessionCache.endQuery()
    assert(r(1L) == ((us(1), us(2), us(3), 3L)))
    assert(r(2L) == ((us(2), us(5), -1L, 2L)))
    assert(r(3L) == ((us(1), us(3), -1L, 2L)))
    assert(r(4L) == ((-1L, -1L, -1L, 0L)))
  }

  test("property: CUSUM closed form equals the sequential recurrence " +
    "S_t = max(0, S_t-1 + dev) on random daily series") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    (1L to 6L).foreach { seed =>
      val counts = sample(Gen.listOfN(12, Gen.chooseNum(0, 9)), seed)
        .map(_ + 1) // ≥1 event per day so every day exists
      val ev = counts.zipWithIndex.flatMap { case (c, day) =>
        Seq.fill(c)(("t", java.sql.Timestamp.valueOf(
          f"2024-02-${day + 1}%02d 12:00:00")))
      }.zipWithIndex.map { case ((ty, ts), i) => (i.toLong, ty, ts) }
        .toDF("event_id", "event_type", "ts")
      val got = Analytics.cusumScores(ev).orderBy("day")
        .select("n", "cusum")
        .as[(Long, Long)].collect().toSeq
      graft.core.SessionCache.endQuery()
      // sequential model with the same integer allowance
      val k = counts.map(_.toLong).sum / counts.length
      val want = counts.map(_.toLong)
        .scanLeft(0L)((s, x) => math.max(0L, s + (x - k))).drop(1)
      assert(got.map(_._1) == counts.map(_.toLong), s"seed=$seed")
      assert(got.map(_._2) == want, s"seed=$seed k=$k counts=$counts")
    }
  }

  test("cusumScores: closed form matches the hand-run recurrence; " +
    "sustained shift accumulates to the alarm") {
    // counts 1,1,1,1,21 → k=5; dev −4×4, 16; S = 0,0,0,0,16;
    // alarm bar k·3 = 15 → last day alarms
    val ev = (1 to 4).flatMap(day => Seq((s"2024-01-0$day", 1))) ++
      Seq.fill(21)(("2024-01-05", 1))
    val df = ev.zipWithIndex.map { case ((d, _), i) =>
      (i.toLong, "buy", s"$d 10:00:00") }
      .toDF("event_id", "event_type", "t")
      .select(col("event_id"), col("event_type"),
        to_timestamp(col("t")).as("ts"))
    val r = Analytics.cusumScores(df)
      .orderBy("day").as[(String, java.sql.Date, Long, Long, Long, Long)]
      .collect()
    graft.core.SessionCache.endQuery()
    assert(r.map(_._3).toSeq == Seq(1L, 1L, 1L, 1L, 21L))
    assert(r.map(_._4).toSeq == Seq(-4L, -4L, -4L, -4L, 16L))
    assert(r.map(_._5).toSeq == Seq(0L, 0L, 0L, 0L, 16L))
    assert(r.map(_._6).toSeq == Seq(0L, 0L, 0L, 0L, 1L))
  }

  test("transitionTimes: per-user lag gaps aggregate by type pair") {
    def t(s: Long) = new java.sql.Timestamp(s * 1000L)
    val ev = Seq(
      (1L, 1L, "view", t(0)), (1L, 2L, "click", t(10)),
      (1L, 3L, "click", t(25)),
      (2L, 4L, "view", t(5)), (2L, 5L, "buy", t(9)))
      .toDF("user_id", "event_id", "event_type", "ts")
    val r = Analytics.transitionTimes(ev)
      .as[(String, String, Long, Long, Long, Long)].collect()
      .map(x => (x._1, x._2) -> (x._3, x._4, x._5, x._6)).toMap
    graft.core.SessionCache.endQuery()
    assert(r(("view", "click")) == ((1L, 10L, 10L, 10L)))
    assert(r(("click", "click")) == ((1L, 15L, 15L, 15L)))
    assert(r(("view", "buy")) == ((1L, 4L, 4L, 4L)))
    assert(r.size == 3)
  }

  test("dailyUsers: new/returning split and cumulative-as-sum-of-new") {
    def t(s: String) = java.sql.Timestamp.valueOf(s + " 09:00:00")
    val ev = Seq((1L, t("2024-01-01")), (2L, t("2024-01-01")),
      (1L, t("2024-01-02")), (3L, t("2024-01-02")),
      (2L, t("2024-01-03")), (2L, t("2024-01-03")))
      .toDF("user_id", "ts")
    val r = Analytics.dailyUsers(ev).orderBy("day")
      .as[(java.sql.Date, Long, Long, Long, Long)].collect()
      .map(x => (x._2, x._3, x._4, x._5)).toSeq
    graft.core.SessionCache.endQuery()
    assert(r == Seq((2L, 2L, 0L, 2L), (2L, 1L, 1L, 3L),
      (1L, 0L, 1L, 3L)), r.toString)
  }

  test("supplierLeadTime: day lags, SLA breach ppm, offset-div mean") {
    def t(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val o = Seq((100L, t("2020-01-01")), (200L, t("2020-01-01")))
      .toDF("o_orderkey", "o_orderdate")
    val li = Seq((100L, 1L, t("2020-01-11")), (200L, 1L, t("2020-03-11")),
      (100L, 2L, t("2020-01-06")))
      .toDF("l_orderkey", "l_suppkey", "l_shipdate")
    val r = Analytics.supplierLeadTime(o, li)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(x => x._1 -> (x._2, x._3, x._4, x._5, x._6, x._7)).toMap
    graft.core.SessionCache.endQuery()
    assert(r(1L) == ((2L, 1L, 500000L, 10L, 70L, 40L)))
    assert(r(2L) == ((1L, 0L, 0L, 5L, 5L, 5L)))
  }

  test("typeCorrelationStats: zero-filled spine, exact moments, " +
    "r2 = 1e6 for a perfectly linear pair and 0 for a flat cov") {
    def t(s: String) = java.sql.Timestamp.valueOf(s + " 01:00:00")
    def burst(ty: String, day: String, k: Int) =
      Seq.fill(k)((ty, t(day)))
    val ev = (burst("A", "2024-01-01", 1) ++ burst("A", "2024-01-02", 2)
      ++ burst("A", "2024-01-03", 3)
      ++ burst("B", "2024-01-01", 2) ++ burst("B", "2024-01-02", 4)
      ++ burst("B", "2024-01-03", 6)
      ++ burst("C", "2024-01-01", 1) ++ burst("C", "2024-01-03", 1))
      .toDF("event_type", "ts")
    val r = Analytics.typeCorrelationStats(ev)
      .as[(String, String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(x => (x._1, x._2) -> (x._7, x._8, x._9)).toMap
    graft.core.SessionCache.endQuery()
    assert(r(("A", "B")) == ((12L, 1L, 1000000L)))   // exact linear
    assert(r(("A", "C")) == ((0L, 0L, 0L)))          // flat covariance
    assert(r.size == 3)
  }

  test("runsTest: hand-traced signs, run breaks, closed-form null " +
    "moments; flat days excluded and gaps are real zeros") {
    def t(s: String) = java.sql.Timestamp.valueOf(s + " 01:00:00")
    def burst(ty: String, day: String, k: Int) =
      Seq.fill(k)((ty, t(day)))
    // A: counts 1,2,1,2,2,3 -> diffs +,-,+,0,+ -> signs +,-,+,+ ->
    // runs 3, n_up 3, n_down 1; E = 1e6 + (2*3*1*1e6)//4 = 2.5e6;
    // Var = 2*3*1*(6-4)*1e6 // (16*3) = 250000
    val a = Seq(("2024-01-01", 1), ("2024-01-02", 2), ("2024-01-03", 1),
      ("2024-01-04", 2), ("2024-01-05", 2), ("2024-01-06", 3))
      .flatMap { case (d, k) => burst("A", d, k) }
    // B: day1=1, day3=2 with a GAP day2 -> spine 1,0,2 -> signs -,+
    // -> runs 2; E = 2e6; Var = 0 (n=2)
    val b = burst("B", "2024-01-01", 1) ++ burst("B", "2024-01-03", 2)
    val r = graft.analytics.Analytics.runsTest(
      (a ++ b).toDF("event_type", "ts"))
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4, x._5, x._6))).toMap
    graft.core.SessionCache.endQuery()
    assert(r("A") == ((3L, 1L, 3L, 2500000L, 250000L)), r.toString)
    assert(r("B") == ((1L, 1L, 2L, 2000000L, 0L)), r.toString)
    assert(r.size == 2, r.toString)
  }

  test("iqrOutliers: type-1 quartiles on cents, doubled-integer " +
    "Tukey fences, low/high counts exact on a hand fixture") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // type A: cents 100..900 by 100 (n=9) -> k1=ceil(9/4)=3 -> q1=300,
    // k3=ceil(27/4)=7 -> q3=700, iqr=400; fences: lo 2*300-3*400=-600
    // (cents*2 < -600 -> none), hi 2*700+3*400=2600 -> cents*2 > 2600
    // -> 14.00 and 29.00 outliers high
    val a = (1 to 9).map(i => ("A", t("2024-01-01 01:00:00"), i * 1.0))
    val b = Seq(("A", t("2024-01-01 02:00:00"), 14.0),
      ("A", t("2024-01-01 03:00:00"), 29.0))
    // recompute A with the outliers IN the sample: n=11, k1=3 ->
    // q1=300, k3=ceil(33/4)=9 -> q3=900, iqr=600; hi fence 2*900+1800
    // = 3600 -> only 29.00 (5800 > 3600); lo -1200 -> none
    val ev = (a ++ b).toDF("event_type", "ts", "value")
    val r = graft.analytics.Analytics.iqrOutliers(ev)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(x => x._1 -> ((x._2, x._3, x._4, x._5, x._6,
        x._7, x._8))).toMap
    graft.core.SessionCache.endQuery()
    assert(r("A") == ((11L, 300L, 900L, 600L, 0L, 1L, 90909L)),
      r.toString)
  }

  test("acfDaily: a period-2 series alternates sign with |r| = 1 at " +
    "every lag with 2+ pairs; the spine zero-fills real gaps") {
    def t(s: String) = java.sql.Timestamp.valueOf(s + " 01:00:00")
    def burst(ty: String, day: String, k: Int) =
      Seq.fill(k)((ty, t(day)))
    // A: counts 1,2,1,2,1,2,1,2 over eight consecutive days
    val a = (1 to 8).flatMap(d =>
      burst("A", f"2024-01-0$d", if (d % 2 == 0) 2 else 1))
    // B: events on day 1 and day 3 only -> spine = [1, 0, 1]; without
    // the zero-fill, lag 1 would splice the non-adjacent days
    val b = burst("B", "2024-01-01", 1) ++ burst("B", "2024-01-03", 1)
    val r = Analytics.acfDaily((a ++ b).toDF("event_type", "ts"))
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(x => (x._1, x._2) -> ((x._3, x._7, x._8))).toMap
    graft.core.SessionCache.endQuery()
    assert(r(("A", 1L)) == ((7L, -1L, 1000000L)))
    assert(r(("A", 2L)) == ((6L, 1L, 1000000L)))
    assert(r(("A", 3L)) == ((5L, -1L, 1000000L)))
    assert(r(("A", 4L)) == ((4L, 1L, 1000000L)))
    assert(r(("A", 5L)) == ((3L, -1L, 1000000L)))
    assert(r(("A", 6L)) == ((2L, 1L, 1000000L)))
    assert(r(("A", 7L)) == ((1L, 0L, 0L))) // one pair: zero variance
    // B at lag 1 pairs (0,1) and (1,0) — anticorrelated ONLY because
    // the gap day is a real zero on the spine
    assert(r(("B", 1L)) == ((2L, -1L, 1000000L)))
    assert(r(("B", 2L)) == ((1L, 0L, 0L)))
    assert(r.size == 9, r.toString)
  }

  test("rfmSegmentation: exact quintiles per dimension, 3-digit code") {
    def t(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val o = Seq(
      (1L, t("2020-01-10"), 10.0), (1L, t("2020-01-01"), 10.0),
      (2L, t("2020-01-09"), 30.0), (3L, t("2020-01-08"), 40.0),
      (4L, t("2020-01-07"), 50.0), (5L, t("2020-01-06"), 5.0))
      .toDF("o_custkey", "o_orderdate", "o_totalprice")
    val r = Analytics.rfmSegmentation(o)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(x => x._1 -> x._8).toMap
    graft.core.SessionCache.endQuery()
    assert(r == Map(1L -> 152L, 2L -> 213L, 3L -> 324L,
      4L -> 435L, 5L -> 541L), r.toString)
  }

  test("intermittencyClassification: ADI from the month span, CV2 " +
    "from the moment identity, Syntetos-Boylan quadrants") {
    def d(s: String) = java.sql.Date.valueOf(s)
    val li = Seq(
      // part 1: Jan+Mar 1992, equal sizes → ADI 1.5e6, CV2 0 → intermittent
      (1L, d("1992-01-10"), 4.0), (1L, d("1992-03-05"), 4.0),
      // part 2: Jan+Feb, sizes 1 and 9 → ADI 1e6, CV2 0.64e6 → erratic
      (2L, d("1992-01-02"), 1.0), (2L, d("1992-02-02"), 9.0),
      // part 3: single month → smooth
      (3L, d("1992-01-15"), 5.0),
      // part 4: Jan+Jul, equal → ADI 3.5e6, CV2 0 → intermittent
      (4L, d("1992-01-01"), 2.0), (4L, d("1992-07-01"), 2.0))
      .toDF("l_partkey", "l_shipdate", "l_quantity")
    val r = Analytics.intermittencyClassification(li)
      .as[(Long, Long, Long, Long, Long, String)].collect()
      .map(x => x._1 -> (x._4, x._5, x._6)).toMap
    graft.core.SessionCache.endQuery()
    assert(r(1L) == ((1500000L, 0L, "intermittent")))
    assert(r(2L) == ((1000000L, 640000L, "erratic")))
    assert(r(3L) == ((1000000L, 0L, "smooth")))
    assert(r(4L) == ((3500000L, 0L, "intermittent")))
  }

  test("seasonalIndex: month shares scaled by 12, integer cents") {
    def t(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val o = Seq((1L, t("1995-01-03"), 10.0), (2L, t("1996-01-08"), 20.0),
      (3L, t("1995-02-20"), 30.0))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val r = Analytics.seasonalIndex(o)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(x => x._1 -> (x._2, x._3, x._4, x._5)).toMap
    graft.core.SessionCache.endQuery()
    assert(r(1L) == ((2L, 3000L, 8000000L, 6000000L)))
    assert(r(2L) == ((1L, 3000L, 4000000L, 6000000L)))
  }

  test("weightedMedian: hand case crosses buckets; lower-median " +
    "threshold is ceil(total/2)") {
    // brand X: prices $10/$20/$30 with quantities 1/1/2 -> 100/100/200
    // weight units, total 400, threshold 200 -> cum 100,200 crosses at
    // $20. bucketCents=1000 puts each price in its own bucket, so the
    // crossing bucket (2) is refined with cum_before=100 carried in.
    // brand Y: single line -> its own price.
    val li = Seq(
      ("X", 10.0, 1.0, 1L, 1), ("X", 20.0, 1.0, 2L, 1),
      ("X", 30.0, 2.0, 3L, 1), ("Y", 55.5, 7.0, 4L, 1))
      .toDF("b", "l_extendedprice", "l_quantity", "l_orderkey",
        "l_linenumber")
      .withColumn("l_partkey", when(col("b") === "X", 1L).otherwise(2L))
    val part = Seq((1L, "X"), (2L, "Y")).toDF("p_partkey", "p_brand")
    val byBrand = Analytics.weightedMedian(li, part, bucketCents = 1000L)
      .collect().map(row => row.getString(0) ->
        (row.getLong(1), row.getLong(2))).toMap
    graft.core.SessionCache.endQuery()
    assert(byBrand("X") == ((2000L, 400L)))
    assert(byBrand("Y") == ((5550L, 700L)))
  }

  test("dailyAutocorrelation: a weekly-spiked series scores r7 above " +
    "r1; hand-exact integers") {
    // two identical weeks of [9,1,1,1,1,1,1] daily counts:
    // energy = 2*(81+6) = 174; dot7 = 81+6 = 87 -> r7 = 500000;
    // dot1 = 9+5+9+9+5 = 37 -> r1 = 37e6 div 174 = 212643
    val rows = (0 until 14).flatMap { d =>
      val n = if (d % 7 == 0) 9 else 1
      (0 until n).map(i =>
        ("w", new java.sql.Timestamp(d * 86400000L + i * 1000L)))
    }
    val ev = rows.toDF("event_type", "ts")
    val r = Analytics.dailyAutocorrelation(ev, "event_type")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().head
    graft.core.SessionCache.endQuery()
    assert(r === (("w", 14L, 174L, 37L, 212643L, 87L, 500000L)))
  }

  test("weightedQuantiles: hand quartiles; q=50 equals weightedMedian " +
    "on fixture data") {
    val li = Seq(
      ("X", 10.0, 1.0, 1L, 1), ("X", 20.0, 1.0, 2L, 1),
      ("X", 30.0, 2.0, 3L, 1), ("Y", 55.5, 7.0, 4L, 1))
      .toDF("b", "l_extendedprice", "l_quantity", "l_orderkey",
        "l_linenumber")
      .withColumn("l_partkey", when(col("b") === "X", 1L).otherwise(2L))
    val part = Seq((1L, "X"), (2L, "Y")).toDF("p_partkey", "p_brand")
    val r = Analytics.weightedQuantiles(li, part, bucketCents = 1000L)
      .as[(String, Long, Long, Long)].collect()
      .map(x => (x._1, x._2) -> x._3).toMap
    graft.core.SessionCache.endQuery()
    assert(r(("X", 25L)) == 1000L && r(("X", 50L)) == 2000L &&
      r(("X", 75L)) == 3000L)
    assert(r(("Y", 25L)) == 5550L && r(("Y", 75L)) == 5550L)
    // q=50 reproduces the median operator exactly on real data
    val liF = graft.core.Tables(spark, SfDir, "lineitem")
    val partF = graft.core.Tables(spark, SfDir, "part")
    val med = Analytics.weightedMedian(liF, partF)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    graft.core.SessionCache.endQuery()
    val q50 = Analytics.weightedQuantiles(liF, partF, qPcts = Seq(50))
      .collect().map(x => x.getString(0) -> x.getLong(2)).toMap
    graft.core.SessionCache.endQuery()
    assert(q50 === med)
  }

  test("weightedMedian: two-pass refinement equals the naive global " +
    "window on fixture data, at a bucket width that forces refinement") {
    val li = graft.core.Tables(spark, SfDir, "lineitem")
    val part = graft.core.Tables(spark, SfDir, "part")
    val got = Analytics.weightedMedian(li, part, bucketCents = 50000L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    graft.core.SessionCache.endQuery()
    li.join(part, li("l_partkey") === part("p_partkey"))
      .selectExpr("p_brand",
        "cast(floor(l_extendedprice * 100.0 + 0.5) as long) as pc",
        "cast(floor(l_quantity * 100.0 + 0.5) as long) as w",
        "l_orderkey", "l_linenumber")
      .createOrReplaceTempView("wm_naive_base")
    val naive = spark.sql(
      """SELECT p_brand, MIN(pc) AS med, MAX(totw) AS totw FROM (
        |  SELECT p_brand, pc,
        |    SUM(w) OVER (PARTITION BY p_brand ORDER BY pc, l_orderkey,
        |      l_linenumber ROWS UNBOUNDED PRECEDING) AS cumw,
        |    SUM(w) OVER (PARTITION BY p_brand) AS totw
        |  FROM wm_naive_base)
        |WHERE cumw >= (totw + 1) div 2 GROUP BY p_brand""".stripMargin)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got === naive)
  }

  test("trendByKey: hand-exact slopes — rising, falling, flat, " +
    "single-point NULL; shift-invariant re-basing") {
    import spark.implicits._
    val series = Seq(
      // key "up": y = 10x + 5 at x = 100..103 -> slope_e6 = 10e6
      ("up", 100L, 1005L), ("up", 101L, 1015L),
      ("up", 102L, 1025L), ("up", 103L, 1035L),
      // key "down": y = -3x + 50 at x = 0..2 -> slope_e6 = -3e6
      ("down", 0L, 50L), ("down", 1L, 47L), ("down", 2L, 44L),
      // key "flat": constant -> slope 0
      ("flat", 7L, 9L), ("flat", 8L, 9L),
      // key "one": single x -> NULL slope
      ("one", 5L, 123L)
    ).toDF("k", "x", "y")
    val got = graft.analytics.Analytics
      .trendByKey(series, "k", "x", "y")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getLong(3))).toMap
    assert(got("up") === ((4L, Some(10000000L), 1020L)))
    assert(got("down") === ((3L, Some(-3000000L), 47L)))
    assert(got("flat") === ((2L, Some(0L), 9L)))
    assert(got("one") === ((1L, None, 123L)))
  }

  test("transitionMatrix: hand-exact counts and e6 probabilities " +
    "over interleaved user sequences") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(i: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$i%02d")
    // user 1: A B A B ; user 2: A A C  (interleaved arrival order)
    val ev = Seq(
      (1L, ts(0), "A", 1L), (2L, ts(1), "A", 10L),
      (1L, ts(2), "B", 2L), (2L, ts(3), "A", 11L),
      (1L, ts(4), "A", 3L), (2L, ts(5), "C", 12L),
      (1L, ts(6), "B", 4L)
    ).toDF("user_id", "ts", "event_type", "event_id")
      .repartition(3)
    val got = graft.analytics.Analytics
      .transitionMatrix(ev, "user_id", Seq("ts", "event_id"),
        "event_type")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // from A: A->B twice (u1), A->A once, A->C once (u2) = total 4
    assert(got(("A", "B")) === ((2L, 4L, 500000L)))
    assert(got(("A", "A")) === ((1L, 4L, 250000L)))
    assert(got(("A", "C")) === ((1L, 4L, 250000L)))
    // from B: B->A once, total 1 (the final B has no successor)
    assert(got(("B", "A")) === ((1L, 1L, 1000000L)))
    assert(got.size === 4)
  }

  test("decayScores: hand-exact weekly halving — same-week full " +
    "weight, each later week halves, deep past contributes zero") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(day: String) = Timestamp.valueOf(s"2024-$day 12:00:00")
    val ev = Seq(
      // user 1: 100 cents at as-of (w=1e6), 200 cents 7 days back
      // (w=500000), 400 cents 21 days back (w=125000)
      (1L, t("03-29"), 1.0), (1L, t("03-22"), 2.0),
      (1L, t("03-08"), 4.0),
      // user 2: one event 160 days back -> 22 weeks -> weight 0
      (2L, t("03-29"), 5.0), (2L, Timestamp.valueOf(
        "2023-10-21 12:00:00"), 9.0)
    ).toDF("user_id", "ts", "value")
    val got = graft.analytics.Analytics
      .decayScores(ev, "user_id", "ts", "value")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) === ((3L, 700L,
      100L * 1000000L + 200L * 500000L + 400L * 125000L)))
    assert(got(2L) === ((2L, 1400L, 500L * 1000000L + 0L)))
  }

  test("topPaths: hand-exact 3-gram counts with deterministic " +
    "tie-break rank") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(i: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$i%02d")
    // user 1: A B C D -> paths A>B>C, B>C>D ; user 2: A B C -> A>B>C
    val ev = Seq(
      (1L, t(0), "A", 1L), (1L, t(1), "B", 2L),
      (1L, t(2), "C", 3L), (1L, t(3), "D", 4L),
      (2L, t(0), "A", 5L), (2L, t(1), "B", 6L), (2L, t(2), "C", 7L)
    ).toDF("user_id", "ts", "event_type", "event_id").repartition(3)
    val got = graft.analytics.Analytics
      .topPaths(ev, "user_id", Seq("ts", "event_id"), "event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq(("A > B > C", 2L, 1L),
      ("B > C > D", 1L, 2L)))
  }

  test("locfDaily: gaps fill with the last observation, leading days " +
    "stay NULL, observed days pass through") {
    import spark.implicits._
    // key A observed days 3 and 6 (span 1..6 set by key B)
    val obs = Seq(("A", 3L, 30L), ("A", 6L, 60L),
      ("B", 1L, 10L), ("B", 6L, 11L)).toDF("key", "day", "cents")
    val got = graft.analytics.Analytics.locfDaily(obs)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap
    assert(got.size === 12) // 2 keys x days 1..6
    assert(got(("A", 1L)) === ((0L, 0L, None))) // before first obs
    assert(got(("A", 2L)) === ((0L, 0L, None)))
    assert(got(("A", 3L)) === ((1L, 0L, Some(30L))))
    assert(got(("A", 4L)) === ((0L, 1L, Some(30L)))) // carried
    assert(got(("A", 5L)) === ((0L, 1L, Some(30L))))
    assert(got(("A", 6L)) === ((1L, 0L, Some(60L))))
    assert(got(("B", 2L)) === ((0L, 1L, Some(10L))))
    assert(got(("B", 6L)) === ((1L, 0L, Some(11L))))
  }

  test("theilSenByKey: robust to one wild point where OLS is not; " +
    "over-long series fail loudly") {
    import spark.implicits._
    // y = 2x except one wild outlier at x=5 (y=1000)
    val series = (Seq((0L, 0L), (1L, 2L), (2L, 4L), (3L, 6L),
      (4L, 8L), (5L, 1000L), (6L, 12L), (7L, 14L))
      .map { case (x, y) => ("k", x, y) }).toDF("k", "x", "y")
    val ts = graft.analytics.Analytics
      .theilSenByKey(series, "k", "x", "y")
      .collect().head
    assert(ts.getLong(1) === 28L) // 8 choose 2
    assert(math.abs(ts.getDouble(2) - 2.0) < 0.5) // median near 2
    val ols = graft.analytics.Analytics
      .trendByKey(series, "k", "x", "y").collect().head
    assert(math.abs(ols.getLong(2)) > 10000000L) // OLS blown > 10
    val long = (1 to 1500).map(i => ("k", i.toLong, i.toLong))
      .toDF("k", "x", "y")
    val e = intercept[Exception] {
      graft.analytics.Analytics.theilSenByKey(long, "k", "x", "y")
        .collect()
    }
    assert(e.getMessage.contains("series too long") ||
      e.getCause != null)
  }

  test("markovEval: parity-split argmax predictor, per-state and " +
    "__all__ hit rates on a hand fixture") {
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-04-01 10:$m%02d:00")
    // user 2 (train) sequence a,b,a,b,a,c,b,a gives transitions
    // a->b x2, a->c, b->a x3, c->b => pred(a)=b, pred(b)=a, pred(c)=b
    // user 1 (eval): a->b (hit), b->c (miss)
    // user 3 (eval): a->c (miss), c->a (miss)
    val ev = Seq(
      (2L, 1L, "a", ts(0)), (2L, 2L, "b", ts(1)), (2L, 3L, "a", ts(2)),
      (2L, 4L, "b", ts(3)), (2L, 5L, "a", ts(4)), (2L, 6L, "c", ts(5)),
      (2L, 7L, "b", ts(6)), (2L, 8L, "a", ts(7)),
      (1L, 10L, "a", ts(0)), (1L, 11L, "b", ts(1)), (1L, 12L, "c", ts(2)),
      (3L, 20L, "a", ts(0)), (3L, 21L, "c", ts(1)), (3L, 22L, "a", ts(2)))
      .toDF("user_id", "event_id", "event_type", "ts")
    val got = graft.analytics.Analytics.markovEval(ev, "user_id",
      Seq("ts", "event_id"), "event_type")
      .as[(String, Option[String], Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got("a") === ((Some("b"), 2L, 1L, 500000L)))
    assert(got("b") === ((Some("a"), 1L, 0L, 0L)))
    assert(got("c") === ((Some("b"), 1L, 0L, 0L)))
    assert(got("__all__") === ((None, 4L, 1L, 250000L)))
  }

  test("lifetable: events, censorings, risk sets and hazards on a " +
    "hand fixture with pre-view purchases excluded") {
    import java.sql.Timestamp
    def ts(d: Int) = Timestamp.valueOf(f"2024-06-${d + 1}%02d 12:00:00")
    val ev = Seq(
      (1L, 1L, "view", ts(0)), (1L, 2L, "purchase", ts(2)),   // event t=2
      (2L, 3L, "view", ts(0)), (2L, 4L, "click", ts(5)),      // cens t=5
      (3L, 5L, "purchase", ts(0)),                            // no view
      (4L, 6L, "view", ts(0)), (4L, 7L, "purchase", ts(0)),   // event t=0
      (5L, 8L, "view", ts(3)))                                // cens t=0
      .toDF("user_id", "event_id", "event_type", "ts")
    val got = graft.analytics.Analytics.lifetable(ev)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got === Map(
      0L -> ((4L, 1L, 1L, 250000L)),
      2L -> ((2L, 1L, 0L, 500000L)),
      5L -> ((1L, 0L, 1L, 0L))))
  }

  test("tailIndexBits: powers-of-two ladder and boundary-tie " +
    "invariance") {
    val v = Seq(512L, 256L, 128L, 64L, 32L, 16L, 8L).toDF("x")
    val got = graft.analytics.Analytics.tailIndexBits(v, "x", k = 4)
      .as[(Long, Long, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    // top-5: 512..32, ref 32 (6 bits): diffs 4+3+2+1+0 = 10
    assert(got.toList === List((4L, 10L, 2500000L, 400000L)))
    // tie at the k+1 boundary: which 4 is kept cannot matter
    val t = Seq(16L, 8L, 4L, 4L, 4L).toDF("x")
    val got2 = graft.analytics.Analytics.tailIndexBits(t, "x", k = 2)
      .as[(Long, Long, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    assert(got2.toList === List((2L, 3L, 1500000L, 666666L)))
  }

  test("interpDaily: rising and falling gaps interpolate exactly; " +
    "no extrapolation outside a key's observed span") {
    val obs = Seq(("a", 0L, 100L), ("a", 4L, 300L),
      ("b", 0L, 100L), ("b", 2L, 1L), ("c", 2L, 50L))
      .toDF("key", "day", "cents")
    val got = graft.analytics.Analytics.interpDaily(obs)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3)))))
      .toMap
    assert(got.size == 15) // 3 keys x global span 0..4
    assert(got(("a", 1L)) == ((0L, Some(150L))))
    assert(got(("a", 2L)) == ((0L, Some(200L))))
    assert(got(("a", 3L)) == ((0L, Some(250L))))
    assert(got(("a", 4L)) == ((1L, Some(300L))))
    // falling series: 100 + (-1) * (99 * 1 div 2) = 51 (truncating)
    assert(got(("b", 1L)) == ((0L, Some(51L))))
    assert(got(("b", 3L)) == ((0L, None)) && got(("b", 4L))._2.isEmpty)
    assert(got(("c", 0L))._2.isEmpty && got(("c", 1L))._2.isEmpty)
    assert(got(("c", 2L)) == ((1L, Some(50L))))
    assert(got(("c", 3L))._2.isEmpty)
  }

  test("cohortLtv: exact cents cumulative per cohort age") {
    val d = java.sql.Date.valueOf(_: String)
    val orders = Seq(
      (1L, d("1995-01-10"), 10.00), (1L, d("1995-03-05"), 20.00),
      (2L, d("1995-01-20"), 5.00), (3L, d("1995-03-15"), 7.00))
      .toDF("o_custkey", "o_orderdate", "o_totalprice")
    val got = graft.analytics.Analytics.cohortLtv(orders)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    graft.core.SessionCache.endQuery()
    val jan = 1995L * 12 + 0 // 1995-01 as year*12 + month - 1
    assert(got((jan, 0L)) == ((2L, 1500L, 1500L, 750L)))
    assert(got((jan, 2L)) == ((2L, 2000L, 3500L, 1750L)))
    assert(got((jan + 2, 0L)) == ((1L, 700L, 700L, 700L)))
    assert(got.size == 3)
  }

  test("abcXyzMatrix on the fixture: cells partition the part " +
    "domain, shares sum to ~1e6, classes well-formed") {
    val got = graft.analytics.Analytics.abcXyzMatrix(spark, SfDir)
      .as[(String, String, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    assert(got.nonEmpty && got.length <= 9)
    assert(got.forall(c => Set("A", "B", "C")(c._1) &&
      Set("X", "Y", "Z")(c._2)))
    val nParts = graft.core.Tables(spark, SfDir, "lineitem")
      .select(col("l_partkey")).distinct().count()
    assert(got.map(_._3).sum == nParts)
    val shareSum = got.map(_._4).sum
    assert(shareSum > 999900L && shareSum <= 1000000L, shareSum.toString)
  }

  test("abcMigration on the fixture: every part counted once, classes " +
    "well-formed, shares sum to ~1e6") {
    val got = graft.analytics.Analytics.abcMigration(spark, SfDir)
      .as[(String, String, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    val classes = Set("A", "B", "C", "N")
    assert(got.nonEmpty && got.length <= 16)
    assert(got.forall(c => classes(c._1) && classes(c._2)))
    // the (N, N) cell cannot exist: a part absent from BOTH periods
    // never enters either leg
    assert(!got.exists(c => c._1 == "N" && c._2 == "N"))
    val nParts = graft.core.Tables(spark, SfDir, "lineitem")
      .select(col("l_partkey")).distinct().count()
    assert(got.map(_._3).sum == nParts)
    val shareSum = got.map(_._4).sum
    assert(shareSum > 999900L && shareSum <= 1000000L, shareSum.toString)
  }

  test("activityStreaks: islands split on missing days, current " +
    "streak only for runs ending on the last observed day") {
    val ts = java.sql.Timestamp.valueOf(_: String)
    val events = Seq(
      // user 1: Jan 1-3, Jan 5, Jan 7-8 (8th = corpus last day);
      // two events on Jan 2 must collapse to one streak day
      (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-02 09:00:00")),
      (1L, ts("2024-01-02 23:00:00")), (1L, ts("2024-01-03 01:00:00")),
      (1L, ts("2024-01-05 12:00:00")), (1L, ts("2024-01-07 08:00:00")),
      (1L, ts("2024-01-08 20:00:00")),
      // user 2: Jan 1-2 only — streak does not reach the last day
      (2L, ts("2024-01-01 11:00:00")), (2L, ts("2024-01-02 11:00:00")))
      .toDF("user_id", "ts")
    val got = graft.analytics.Analytics.activityStreaks(events)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) == ((6L, 3L, 3L, 2L)))
    assert(got(2L) == ((2L, 1L, 2L, 0L)))
  }

  test("basketProfile: size classes exact, shares partition orders " +
    "and cents") {
    val li = Seq(
      (1L, 10.00), (1L, 5.00),   // order 1: 2 items, 1500c
      (2L, 1.00),                // order 2: 1 item, 100c
      (3L, 2.00),                // order 3: 1 item, 200c
      (4L, 3.00), (4L, 3.00), (4L, 4.00)) // order 4: 3 items, 1000c
      .toDF("l_orderkey", "l_extendedprice")
    val got = graft.analytics.Analytics.basketProfile(li)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got == Map(
      2L -> ((1L, 1500L, 250000L, 1500L * 1000000L / 2800L)),
      1L -> ((2L, 300L, 500000L, 300L * 1000000L / 2800L)),
      3L -> ((1L, 1000L, 250000L, 1000L * 1000000L / 2800L))))
  }

  test("abLift: arms replay the md5 split, converters counted once " +
    "per user, ppm exact") {
    def armOf(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) "A" else "B"
    }
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val ids = 0L until 40L
    // users ≡ 0 (mod 4) purchase (twice — must count once); rest view
    val events = ids.flatMap { u =>
      if (u % 4 == 0) Seq((u, ts, "purchase"), (u, ts, "purchase"))
      else Seq((u, ts, "view"))
    }.toDF("user_id", "ts", "event_type")
    val got = graft.analytics.Analytics.abLift(events)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val want = ids.groupBy(armOf).map { case (arm, us) =>
      val conv = us.count(_ % 4 == 0).toLong
      arm -> ((us.size.toLong, conv, conv * 1000000L / us.size))
    }
    assert(got == want, got.toString)
  }

  test("dowHourHeatmap: cells land on Spark's 1-based Sunday week, " +
    "ppm shares exact") {
    val ts = java.sql.Timestamp.valueOf(_: String)
    // 2024-01-01 is a Monday (dow 2); 2024-01-02 a Tuesday (dow 3)
    val events = Seq(
      (1L, ts("2024-01-01 10:15:00")), (2L, ts("2024-01-01 10:45:00")),
      (3L, ts("2024-01-02 23:05:00")))
      .toDF("user_id", "ts")
    val got = graft.analytics.Analytics.dowHourHeatmap(events)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got == Map((2L, 10L) -> ((2L, 666666L)),
      (3L, 23L) -> ((1L, 333333L))))
  }

  test("sessionPeakConcurrency: overlapping sessions peak at the " +
    "first overlap minute; days independent") {
    val ts = java.sql.Timestamp.valueOf(_: String)
    val sessions = Seq(
      (ts("2024-01-01 10:00:00"), ts("2024-01-01 10:05:00")),
      (ts("2024-01-01 10:03:00"), ts("2024-01-01 10:10:00")),
      (ts("2024-01-01 10:20:00"), ts("2024-01-01 10:25:00")),
      (ts("2024-01-02 08:00:00"), ts("2024-01-02 08:01:00")))
      .toDF("session_start", "last_ts")
    val got = graft.analytics.Analytics
      .sessionPeakConcurrency(sessions)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val day0 = ts("2024-01-01 00:00:00").getTime / 86400000L
    val min1003 = ts("2024-01-01 10:03:00").getTime / 60000L
    val min0800 = ts("2024-01-02 08:00:00").getTime / 60000L
    assert(got(day0) == ((2L, min1003, 3L)), got.toString)
    assert(got(day0 + 1) == ((1L, min0800, 1L)))
  }

  test("reorderCycle: hand-exact gap percentiles with interpolation, " +
    "single-order customers drop out") {
    val d = java.sql.Date.valueOf(_: String)
    val orders = Seq(
      (1L, 10L, d("1995-01-01")), (1L, 11L, d("1995-01-03")),
      (1L, 12L, d("1995-01-10")), (1L, 13L, d("1995-01-11")),
      (2L, 20L, d("1995-02-01"))) // one order: no gap, no row
      .toDF("o_custkey", "o_orderkey", "o_orderdate")
    val got = graft.analytics.Analytics.reorderCycle(orders)
      .as[(Long, Long, Double, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // gaps [2, 7, 1] → p50 = 2.0; p90 interpolates 2 + 0.8·(7−2) = 6
    assert(got(1L) == ((3L, 2.0, 6.0, 7L)))
    assert(!got.contains(2L))
  }

  test("backlogAging: bucket boundaries inclusive at 30/90/180 days, " +
    "closed and post-asof orders excluded, cents exact") {
    val d = java.sql.Date.valueOf(_: String)
    // as-of 1997-06-01: ages 30 / 31 / 180 / 181; one F closed, one
    // O order placed ON the as-of date excluded by the strict filter
    val orders = Seq(
      ("1-URGENT", "O", d("1997-05-02"), 10.00),  // age 30  -> 0-30
      ("1-URGENT", "P", d("1997-05-01"), 20.00),  // age 31  -> 31-90
      ("2-HIGH", "O", d("1996-12-03"), 30.00),    // age 180 -> 91-180
      ("2-HIGH", "O", d("1996-12-02"), 40.00),    // age 181 -> 181+
      ("2-HIGH", "F", d("1996-12-02"), 99.00),    // closed: excluded
      ("3-MEDIUM", "O", d("1997-06-01"), 5.00))   // on as-of: excluded
      .toDF("o_orderpriority", "o_orderstatus", "o_orderdate",
        "o_totalprice")
    val got = graft.analytics.Analytics.backlogAging(orders)
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got == Map(
      ("1-URGENT", "0-30") -> ((1L, 1000L)),
      ("1-URGENT", "31-90") -> ((1L, 2000L)),
      ("2-HIGH", "91-180") -> ((1L, 3000L)),
      ("2-HIGH", "181+") -> ((1L, 4000L))), got.toString)
  }

  test("growthAccounting: all four statuses exact; churn capped at " +
    "the last observed week") {
    def at(wk: Long) = new java.sql.Timestamp(wk * 604800000L)
    val w0 = 2818L
    val events = Seq(
      // u1: W, W+1, W+3 → new, retained, resurrected; churned at W+2
      (1L, at(w0)), (1L, at(w0 + 1)), (1L, at(w0 + 3)),
      // u2: W only → new; churned at W+1
      (2L, at(w0)),
      // u3: W+3 only (sets the last week) → new; churn at W+4 capped
      (3L, at(w0 + 3)))
      .toDF("user_id", "ts")
    val got = graft.analytics.Analytics.growthAccounting(events)
      .as[(Long, String, Long)].collect()
      .map(r => (r._1 - w0, r._2) -> r._3).toMap
    val want = Map(
      (0L, "new") -> 2L, (1L, "retained") -> 1L, (1L, "churned") -> 1L,
      (2L, "churned") -> 1L, (3L, "resurrected") -> 1L,
      (3L, "new") -> 1L)
    assert(got == want, got.toString)
  }

  test("activityStreaks property: random day sets equal a naive " +
    "run-length recompute (incl. duplicate events per day)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    val gen: Gen[List[(Long, Int)]] = Gen.chooseNum(1, 50).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.chooseNum(1L, 4L),
        Gen.chooseNum(0, 30))))
    (1L to 10L).foreach { seed =>
      val evs = sample(gen, seed)
      val events = evs.map { case (u, d) =>
        (u, java.sql.Timestamp.valueOf(
          f"2024-01-${d + 1}%02d ${(d * 7) % 24}%02d:00:00")) }
        .toDF("user_id", "ts")
      val got = graft.analytics.Analytics.activityStreaks(events)
        .as[(Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      // naive: per user, sort distinct days, split runs on gaps
      val byUser = evs.groupBy(_._1).view
        .mapValues(_.map(_._2).distinct.sorted).toMap
      val lastDay = evs.map(_._2).max
      val want = byUser.map { case (u, days) =>
        val runs = days.foldLeft(List.empty[List[Int]]) {
          case (acc, d) if acc.nonEmpty && acc.head.head == d - 1 =>
            (d :: acc.head) :: acc.tail
          case (acc, d) => List(d) :: acc
        }
        u -> ((days.size.toLong, runs.size.toLong,
          runs.map(_.size).max.toLong,
          runs.find(_.head == lastDay).map(_.size.toLong).getOrElse(0L)))
      }
      assert(got == want, s"seed=$seed events=$evs")
    }
  }

  test("seasonalNaiveMase property: random sparse monthly series " +
    "equal a naive dense-lag recompute") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    val gen: Gen[List[(Long, Int, Int)]] = Gen.chooseNum(5, 60)
      .flatMap(n => Gen.listOfN(n, Gen.zip(Gen.chooseNum(1L, 3L),
        Gen.chooseNum(0, 35), Gen.chooseNum(1, 50))))
    (1L to 8L).foreach { seed =>
      val obs = sample(gen, seed) // (part, monthOffset from 1995-01, qty)
      val li = obs.map { case (p, m, q) =>
        (p, java.sql.Date.valueOf(
          f"${1995 + m / 12}-${m % 12 + 1}%02d-15"), q.toDouble) }
        .toDF("l_partkey", "l_shipdate", "l_quantity")
      val got = graft.analytics.Analytics.seasonalNaiveMase(li)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3),
            if (r.isNullAt(4)) -1L else r.getLong(4)))).toMap
      // naive: dense per-part series over the GLOBAL month span
      val m0 = obs.map(_._2).min
      val m1 = obs.map(_._2).max
      val parts = obs.map(_._1).distinct
      val want = parts.map { p =>
        val q = (m0 to m1).map(m =>
          obs.filter(o => o._1 == p && o._2 == m).map(_._3.toLong).sum)
        val evalIdx = 12 to (m1 - m0)
        val sae12 = evalIdx.map(i => math.abs(q(i) - q(i - 12))).sum
        val sae1 = evalIdx.map(i => math.abs(q(i) - q(i - 1))).sum
        p -> ((evalIdx.size.toLong, sae12, sae1,
          if (sae1 == 0) -1L else sae12 * 1000000L / sae1))
      }.toMap
      // parts drop out when the eval window is empty (span < 13 months)
      val wantKept = if (m1 - m0 >= 12) want else Map.empty[Long,
        (Long, Long, Long, Long)]
      assert(got == wantKept, s"seed=$seed span=${m1 - m0}")
    }
  }

  test("seasonalNaiveMase: a perfectly seasonal series scores 0, a " +
    "constant series has no scale (NULL), hand case exact") {
    val d = java.sql.Date.valueOf(_: String)
    def yearRows(part: Long, y: Int, qs: Seq[Int]) =
      qs.zipWithIndex.map { case (q, i) =>
        (part, d(f"$y-${i + 1}%02d-15"), q.toDouble) }
    val li = (
      // part 1: same 12-month profile both years → seasonal error 0
      yearRows(1L, 1995, 1 to 12) ++ yearRows(1L, 1996, 1 to 12) ++
      // part 2: constant 5 → both error sums 0, mase undefined
      yearRows(2L, 1995, Seq.fill(12)(5)) ++
        yearRows(2L, 1996, Seq.fill(12)(5)) ++
      // part 3: year2 = year1 + 2 per month → sae12 = 24;
      // lag-1 diffs equal part 1's within-year walk
      yearRows(3L, 1995, 1 to 12) ++ yearRows(3L, 1996, 3 to 14))
      .toDF("l_partkey", "l_shipdate", "l_quantity")
    val got = graft.analytics.Analytics.seasonalNaiveMase(li)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4)))).toMap
    // eval window = months 13..24 of the global span, for every part
    assert(got(1L)._1 == 12L && got(2L)._1 == 12L && got(3L)._1 == 12L)
    // part 1: seasonal naive is perfect; lag-1 walk = |1-12| + 11×1
    assert(got(1L) == ((12L, 0L, 22L, 0L)))
    // part 2: constant — no scale, NULL mase
    assert(got(2L) == ((12L, 0L, 0L, -1L)))
    // part 3: +2 every month vs last year; lag-1: |3-12|=9 + 11×1=20
    assert(got(3L) == ((12L, 24L, 20L, 24L * 1000000L / 20L)))
  }

  test("sesHalfLife: closed form equals the alpha=1/2 recursion, " +
    "demand gaps smooth toward zero, window truncates at 24") {
    import java.sql.Timestamp
    def t(ym: String) = Timestamp.valueOf(s"$ym-15 00:00:00")
    // supplier 1: q=[4,2,6] -> s1=4, s2=3, s3=4.5
    // supplier 2: q=[5,GAP,8] -> dense [5,0,8] -> s3=5.25
    // supplier 3: 26 months of q=1 -> window keeps 24, ses exactly 1
    // (the spine densifies every supplier over the GLOBAL span, so
    // suppliers 1/2 gain leading zero months: their recursion must be
    // replayed over the dense series)
    val rows =
      Seq((1L, "1997-01", 4L), (1L, "1997-02", 2L), (1L, "1997-03", 6L),
        (2L, "1997-01", 5L), (2L, "1997-03", 8L)) ++
      (1 to 26).map(i => (3L, f"${1995 + (i - 1) / 12}%04d-${(i - 1) % 12 + 1}%02d", 1L))
    val li = rows.map { case (s, ym, q) => (s, t(ym), q.toDouble) }
      .toDF("l_suppkey", "l_shipdate", "l_quantity")
    val got = Analytics.sesHalfLife(Analytics.supplierMonthlyDense(li))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(3), r.getLong(4)))).toMap
    // global span 1995-01..1997-03 = 27 months; suppliers 1/2 take the
    // last 24 -> long zero prefix then the planted tail; replay the
    // recursion as the independent check
    def ses(qs: Seq[Long]): Double =
      qs.tail.foldLeft(qs.head.toDouble)((s, q) => 0.5 * q + 0.5 * s)
    val s1 = Seq.fill(21)(0L) ++ Seq(4L, 2L, 6L)
    val s2 = Seq.fill(21)(0L) ++ Seq(5L, 0L, 8L)
    assert(got(1L) == ((24L, 6L, math.floor(ses(s1) * 1e6).toLong)))
    assert(got(2L) == ((24L, 8L, math.floor(ses(s2) * 1e6).toLong)))
    // supplier 3: 26 observed one-months, but the global span ends at
    // 1997-03 (suppliers 1/2), so its dense tail gains one trailing
    // zero: window = [1x23, 0] -> s = 0.5 exactly; qty_last = 0
    assert(got(3L) == ((24L, 0L, 500000L)))
  }

  test("priceElasticity: midpoint arc elasticity exact in micro-units; " +
    "single-tier brands yield NULL") {
    import java.sql.Timestamp
    val part = Seq(
      (1L, "B", 10.00), (2L, "B", 30.00), // lo / hi split at mean 20
      (3L, "C", 5.00)) // one part -> price == mean -> all-lo brand
      .toDF("p_partkey", "p_brand", "p_retailprice")
    val li = Seq((1L, 10.0), (1L, 0.0), (2L, 5.0), (3L, 7.0))
      .map { case (p, q) =>
        (p, Timestamp.valueOf("1997-01-15 00:00:00"), q) }
      .toDF("l_partkey", "l_shipdate", "l_quantity")
    val got = Analytics.priceElasticity(part, li).collect()
      .map(r => r.getString(0) -> r).toMap
    val b = got("B")
    assert(b.getLong(1) == 1L && b.getLong(2) == 1L) // m_lo, m_hi
    assert(b.getLong(3) == 10L && b.getLong(4) == 5L) // q_lo, q_hi
    // arc: dQ/Qm = -5/7.5, dP/Pm = 2000/2000 -> -2/3 -> floor toward
    // zero after the sign split: -(5*4000*1e6 div 30000) = -666666
    assert(b.getLong(7) == -666666L)
    assert(got("C").isNullAt(7)) // no hi tier -> no slope
  }

  test("retentionTriangle: hand fixture — cohorts by first epoch-week, " +
    "offset cells count returning users, ppm exact") {
    import java.sql.Timestamp
    def ts(d: String) = Timestamp.valueOf(s"$d 10:00:00")
    // epoch weeks run Thursday..Wednesday (1970-01-01 was a Thursday):
    // w0 = 2024-01-04..01-10, w1 = 01-11..01-17, w2 = 01-18..01-24
    val ev = Seq(
      (1L, ts("2024-01-04")), (1L, ts("2024-01-11")), // w0, w1
      (2L, ts("2024-01-05")), (2L, ts("2024-01-18")), // w0, w2
      (3L, ts("2024-01-12")), // w1 only
      (1L, ts("2024-01-04"))) // dup within week — must not double count
      .toDF("user_id", "ts")
    val w0 = r0(ev)
    val r = Analytics.retentionTriangle(ev)
      .select("cohort_week", "offset_weeks", "n_active", "cohort_size",
        "retained_ppm")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(x => (x._1 - w0, x._2) -> ((x._3, x._4, x._5))).toMap
    // cohort w0 = users {1,2}: offset 0 -> 2, offset 1 -> {1}, offset
    // 2 -> {2}; cohort w1 = {3}: offset 0 -> 1
    assert(r((0L, 0L)) == ((2L, 2L, 1000000L)))
    assert(r((0L, 1L)) == ((1L, 2L, 500000L)))
    assert(r((0L, 2L)) == ((1L, 2L, 500000L)))
    assert(r((1L, 0L)) == ((1L, 1L, 1000000L)))
    assert(r.size == 4)
    graft.core.SessionCache.endQuery()
  }

  // min cohort week of the fixture, to normalize epoch-week ids
  private def r0(ev: org.apache.spark.sql.DataFrame): Long =
    ev.select(expr("min(unix_micros(ts) div 604800000000)"))
      .head().getLong(0)

  test("pre-overflow witnesses fire on wrap-scale inputs BEFORE the " +
    "sum goes bad (the guards the one-sided post-sum checks missed)") {
    import java.sql.Timestamp
    def t(ym: String) = Timestamp.valueOf(s"$ym-15 00:00:00")
    def fires(msgs: String*)(body: => Unit): Unit = {
      val e = intercept[Exception](body)
      def all(x: Throwable): Seq[String] =
        if (x == null) Nil
        else Option(x.getMessage).toSeq ++ all(x.getCause)
      assert(all(e).exists(m => msgs.exists(m.contains)),
        s"expected one of $msgs in: ${all(e).mkString(" | ")}")
    }
    // SES: one month of qty 10^13 -> max|qty|*2^0 > 9e12
    fires("SES e6 scaling exceeds") {
      val li = Seq((1L, t("1997-01"), 1.0e13))
        .toDF("l_suppkey", "l_shipdate", "l_quantity")
      Analytics.sesHalfLife(Analytics.supplierMonthlyDense(li)).collect()
    }
    // Croston: two demand months of z = 10^13 -> max|z|*2^0 > 9e12
    fires("Croston e6 scaling exceeds") {
      val li = Seq((1L, t("1997-01"), 1.0e13), (1L, t("1997-02"), 1.0e13))
        .toDF("l_suppkey", "l_shipdate", "l_quantity")
      Analytics.crostonRate(li).collect()
    }
    // intermittency: q = 2e9 twice — every sum stays Long-safe, but
    // the true S = 4e9 clears the √Long.Max bar the squared terms
    // need. Under Spark 4's default ANSI mode the CSE-hoisted s·s
    // multiply throws ARITHMETIC_OVERFLOW before the guard message
    // can surface — equally loud; the witness text is what a
    // non-ANSI deployment (where the wrap would otherwise be SILENT)
    // sees, so both are accepted
    fires("intermittency cv2 exceeds", "ARITHMETIC_OVERFLOW") {
      val li = Seq((1L, t("1997-01"), 2.0e9), (1L, t("1997-02"), 2.0e9))
        .toDF("l_partkey", "l_shipdate", "l_quantity")
      Analytics.intermittencyClassification(li).collect()
    }
    // seasonal: a month at cents = 10^13 — Long-safe sum, but past
    // the 12e6-scaling headroom the guard protects
    fires("seasonal index exceeds") {
      val orders = Seq((Timestamp.valueOf("1997-01-10 00:00:00"), 5.0e10),
        (Timestamp.valueOf("1997-01-20 00:00:00"), 5.0e10))
        .toDF("o_orderdate", "o_totalprice")
      Analytics.seasonalIndex(orders).collect()
    }
    // trend: y = 4e18 twice — sums Long-safe, but n·Σxy would pass
    // Long.Max/2 and the n·Σxy − Σx·Σy difference could wrap
    fires("trend numerator exceeds") {
      val series = Seq(("k", 0L, 4000000000000000000L),
        ("k", 1L, 4000000000000000000L)).toDF("k", "x", "y")
      Analytics.trendByKey(series, "k", "x", "y").collect()
    }
    // MDE: cents = 2.13e9 twice — Σc² = 9.07e18 is still Long-safe,
    // but n·max² clears the 9e18 witness bar (one more row WOULD wrap)
    fires("MDE decimal(38) headroom exceeded") {
      val ev = Seq(
        ("a", Timestamp.valueOf("1997-01-01 00:00:00"), 21300000.0),
        ("a", Timestamp.valueOf("1997-01-02 00:00:00"), 21300000.0))
        .toDF("event_type", "ts", "value")
      Analytics.mdeSampleSize(ev).collect()
    }
    // and the witnesses stay silent on sane magnitudes
    val ok = Seq((1L, t("1997-01"), 4.0), (1L, t("1997-02"), 2.0))
      .toDF("l_suppkey", "l_shipdate", "l_quantity")
    assert(Analytics.sesHalfLife(
      Analytics.supplierMonthlyDense(ok)).count() > 0)
  }

  test("crostonRate: twin SES numerators over sizes and intervals, " +
    "single-demand suppliers excluded") {
    import java.sql.Timestamp
    def t(ym: String) = Timestamp.valueOf(s"$ym-15 00:00:00")
    // supplier 1 demand months 1997-01/02/04/08, sizes 5,3,6,4:
    // events (z,p) = (3,1), (6,2), (4,4); k=3, weights [1,1,2] oldest
    // to newest -> Z = 3+6+8 = 17, P = 1+2+8 = 11
    // recursion check: z_hat = 4.25 = 17/4, p_hat = 2.75 = 11/4
    val li = Seq(
      (1L, "1997-01", 5.0), (1L, "1997-02", 3.0),
      (1L, "1997-04", 6.0), (1L, "1997-08", 4.0),
      (2L, "1997-03", 9.0)) // one demand month -> no interval -> out
      .map { case (s, ym, q) => (s, t(ym), q) }
      .toDF("l_suppkey", "l_shipdate", "l_quantity")
    val got = Analytics.crostonRate(li).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 3L)
    assert(r.getLong(2) == 4L && r.getLong(3) == 4L) // z_last, p_last
    assert(r.getLong(4) == 17000000L / 11L)
  }

  test("holtLinear: exact dyadic dot product equals the replayed " +
    "alpha=beta=1/2 recursion on ramp and constant series") {
    import java.sql.Timestamp
    val W = Analytics.HoltWindow
    def t(i: Int) = { // 16 consecutive months from 1995-01
      val y = 1995 + (i - 1) / 12; val m = (i - 1) % 12 + 1
      Timestamp.valueOf(f"$y%04d-$m%02d-15 00:00:00")
    }
    val ramp = (1 to W).map(i => (1L, t(i), (3 * i + 5).toDouble))
    val const = (1 to W).map(i => (2L, t(i), 7.0))
    val li = (ramp ++ const)
      .toDF("l_suppkey", "l_shipdate", "l_quantity")
    val got = Analytics.holtLinear(Analytics.supplierMonthlyDense(li)).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(3), r.getLong(4)))).toMap
    // independent replay: the recursion in doubles (all states are
    // dyadic rationals with denominator 2^30 and magnitude << 2^53,
    // so double arithmetic is exact here)
    def holt(ys: Seq[Double]): (Double, Double) =
      ys.tail.foldLeft((ys.head, 0.0)) { case ((l, b), y) =>
        val ln = 0.5 * y + 0.5 * (l + b); (ln, 0.5 * (ln - l) + 0.5 * b)
      }
    def e6(x: Double) =
      math.signum(x).toLong * math.floor(math.abs(x) * 1e6).toLong
    val (lr, br) = holt(ramp.map(_._3))
    assert(got(1L) == ((W.toLong, e6(lr + br), e6(br))))
    // constant series: l = 7, b = 0 at every step, exactly
    assert(got(2L) == ((W.toLong, 7000000L, 0L)))
  }

  test("didLift: cells match an independent md5 treatment derivation; " +
    "a planted treated-only post lift is recovered exactly") {
    import java.sql.Timestamp
    def flagged(id: Long): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = d.take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 4 == 0
    }
    val pre = Timestamp.valueOf("2024-01-10 00:00:00")
    val post = Timestamp.valueOf("2024-01-20 00:00:00")
    // every user: pre value 10; post value 30 if treated else 20 ->
    // DiD = (30-10) - (20-10) = 10 = 1e9 micro-cents
    val users = (1L to 40L)
    val ev = users.flatMap { u =>
      val p = if (flagged(u)) 30.0 else 20.0
      Seq((u, pre, 10.0), (u, post, p))
    }.toDF("user_id", "ts", "value")
    val r = Analytics.didLift(ev).collect().head
    val nt = users.count(flagged).toLong
    assert(nt > 0 && nt < 40, "fixture needs both groups")
    assert(r.getAs[Long]("n_t_post") == nt &&
      r.getAs[Long]("n_t_pre") == nt)
    assert(r.getAs[Long]("cents_t_post") == 3000L * nt &&
      r.getAs[Long]("cents_t_pre") == 1000L * nt)
    assert(r.getAs[Long]("n_c_post") == 40L - nt &&
      r.getAs[Long]("cents_c_post") == 2000L * (40L - nt))
    assert(r.getAs[Long]("did_cents_e6") == 1000000000L)
  }

  test("mdeSampleSize: 16 sigma^2 / delta^2 at a 5% MDE from exact " +
    "moments; constant metric needs 0; zero-sum metric is NULL") {
    import java.sql.Timestamp
    val ts = Timestamp.valueOf("2024-01-10 00:00:00")
    val ev = Seq(
      ("a", 1.0), ("a", 3.0),   // sigma^2=1e4 cents^2, mean 200c,
                                // delta 10c -> n = 16e4/100 = 1600
      ("b", 2.0), ("b", 2.0),   // constant -> 0
      ("c", 0.0))               // zero sum -> NULL
      .map { case (t, v) => (t, ts, v) }
      .toDF("event_type", "ts", "value")
    val got = Analytics.mdeSampleSize(ev).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("a").getAs[Long]("n_required") == 1600L)
    assert(got("b").getAs[Long]("n_required") == 0L)
    assert(got("c").isNullAt(got("c").fieldIndex("n_required")))
  }

  test("scd2Apply: close+open on change, passthrough on no-op and " +
    "absent keys, insert on new keys, history untouched") {
    import java.sql.Date
    def d(s: String) = Date.valueOf(s)
    val open = d(Analytics.Scd2OpenEnd)
    val dim = Seq(
      (1L, "A", d("1995-01-01"), d("1995-12-01"), 0L), // history
      (1L, "B", d("1996-01-01"), open, 1L),            // will change
      (2L, "X", d("1997-01-01"), open, 1L),            // no-op change
      (3L, "Y", d("1997-06-01"), open, 1L))            // not in batch
      .toDF("o_custkey", "attr", "valid_from", "valid_to", "is_current")
    val changes = Seq((1L, "C"), (2L, "X"), (4L, "Z"))
      .toDF("o_custkey", "attr")
    val got = Analytics.scd2Apply(dim, changes, "1999-01-01")
      .as[(Long, String, Date, Date, Long)].collect().toSet
    graft.core.SessionCache.endQuery()
    assert(got == Set(
      (1L, "A", d("1995-01-01"), d("1995-12-01"), 0L),
      (1L, "B", d("1996-01-01"), d("1998-12-31"), 0L),
      (1L, "C", d("1999-01-01"), open, 1L),
      (2L, "X", d("1997-01-01"), open, 1L),
      (3L, "Y", d("1997-06-01"), open, 1L),
      (4L, "Z", d("1999-01-01"), open, 1L)))
  }
}
