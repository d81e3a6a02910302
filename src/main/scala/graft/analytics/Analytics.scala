package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.GraftFunctions._

/** The reference's reusable analytics library re-expressed Spark-first
  * (SURVEY.md §2.5 W1–W4, §2.4 A3/A12/A13, §2.3 J5/J6/J10, §2.8
  * F24/F27/F28): ABC/XYZ classification, forecast accuracy (FCA), UOM
  * conversion, delta detection, pivot/unpivot, weekly disaggregation.
  *
  * Scale notes:
  *  - ABC's cumulative window partitions by the (bounded) class key —
  *    per-partition ordered scan after one hash aggregate; never a
  *    global unpartitioned window over fact-sized data.
  *  - Delta detection is a PK equi-join (shuffle on PK both sides; at
  *    deployment scale both snapshots would be bucketed by PK so the
  *    join is co-located).
  *  - UOM conversion joins a dimension-sized factor table → broadcast.
  */
object Analytics {

  /** W1+W2 (`myConversionsClass.py:228-253` calcABC): revenue per part
    * within each brand, cumulative-share ABC classes with the
    * reference's exact edge rules: negatives clamped to 0 first; the
    * first positive row of a group is always A (val == its own cumsum);
    * A for cum-share in (0, a]; B for (a, b]; a still-C row with a
    * single share ≥ (b−a) is promoted to B. Window partitions by brand
    * — cumulative sums never cross groups. */
  def abcClassification(spark: SparkSession, dir: String,
      aCut: Double = 0.8, bCut: Double = 0.95): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val p = Tables(spark, dir, "part")
    val rev = li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"), col("l_partkey"))
      .agg(greatest(round(sum(col("l_extendedprice")), 2), lit(0.0))
        .as("revenue"))
    abcOn(rev, aCut, bCut)
  }

  /** The ABC classification tail shared verbatim by
    * [[abcClassification]] and both period legs of [[abcMigration]]:
    * given the (p_brand, l_partkey, revenue) frame, attach the
    * cumulative/share columns and the A/B/C class. Windows partition
    * by brand — a bounded key after one hash aggregate, never a
    * global unpartitioned window over fact-sized data. */
  private def abcOn(rev: DataFrame, aCut: Double,
      bCut: Double): DataFrame = {
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(desc("revenue"), asc("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("p_brand"))
    rev
      .withColumn("cum_sum", round(sum(col("revenue")).over(w), 2))
      .withColumn("share",
        round(col("revenue") / sum(col("revenue")).over(tot), 6))
      .withColumn("cum_share",
        round(sum(col("revenue")).over(w) / sum(col("revenue")).over(tot), 6))
      .withColumn("abc_class",
        when(col("revenue") > 0 && col("revenue") === col("cum_sum"), "A")
          .when(col("cum_share") > 0 && col("cum_share") <= aCut, "A")
          .when(col("cum_share") > aCut && col("cum_share") <= bCut, "B")
          .when(col("share") >= bCut - aCut, "B")
          .otherwise("C"))
  }

  /** ABC class-migration matrix (X216) — the "class drift" read a
    * planner runs between planning cycles: each part is ABC-classified
    * on the EARLY half of history and again on the LATE half, and the
    * 4×4 transition matrix (including 'N' = absent from a period —
    * new or discontinued parts) says how stable the portfolio ranking
    * is. A part that migrated A→C is a demand collapse to review; a
    * heavy diagonal means last cycle's stocking policy still holds.
    * Both class legs are the EXACT [[abcClassification]] tail
    * ([[abcOn]]) over period-filtered revenue, so the matrix inherits
    * its oracle-proven edge rules verbatim.
    *
    * Scale: the shipdate filter pushes to the parquet scan; each leg
    * is one part-grain hash aggregate + the brand-partitioned
    * classification window; the full-outer join is 1:1 at part grain
    * (a part has one brand); the matrix is a ≤16-row aggregate and
    * the 1-row total broadcasts. */
  def abcMigration(spark: SparkSession, dir: String,
      splitDate: String = "1998-07-01"): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val p = Tables(spark, dir, "part")
    def leg(pred: org.apache.spark.sql.Column, as: String): DataFrame =
      abcOn(li.filter(pred)
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("l_partkey"))
        .agg(greatest(round(sum(col("l_extendedprice")), 2), lit(0.0))
          .as("revenue")), 0.8, 0.95)
        .select(col("l_partkey"), col("abc_class").as(as))
    val early = leg(col("l_shipdate") < lit(splitDate), "abc_early")
    val late = leg(col("l_shipdate") >= lit(splitDate), "abc_late")
    // persisted: the share-of-total crossJoin reads `cells` twice (the
    // rows and the 1-row total) — without the boundary BOTH abc legs
    // (two fact scans + windows each) re-evaluate for the total side
    val cells = graft.core.SessionCache.transient(
      early.join(late, Seq("l_partkey"), "full_outer")
      .select(coalesce(col("abc_early"), lit("N")).as("abc_early"),
        coalesce(col("abc_late"), lit("N")).as("abc_late"))
      .groupBy(col("abc_early"), col("abc_late"))
      .agg(count(lit(1)).cast("long").as("n_parts")))
    cells.crossJoin(broadcast(
        cells.agg(sum(col("n_parts")).cast("long").as("n_total"))))
      .select(col("abc_early"), col("abc_late"), col("n_parts"),
        expr("(n_parts * 1000000) div greatest(n_total, 1)")
          .cast("long").as("share_ppm"))
  }

  /** Seasonal-naive MASE backtest (X217, Hyndman & Koehler 2006) —
    * the scale-free forecastability screen run BEFORE choosing a
    * forecasting method: per part, the lag-12 (seasonal-naive)
    * forecast's summed absolute error over the common eval window,
    * scaled by the lag-1 naive's — `mase_ppm < 10⁶` means last year's
    * month beats last month, i.e. the series has exploitable
    * seasonality; `≫ 10⁶` means season-blind smoothing wins. Demand
    * semantics: the per-part series is DENSE over the global month
    * span with absent months = 0 (no shipment IS zero demand — the
    * same contract as the intermittency classifier). Quantities are
    * integer-valued, so both error sums are exact Longs and the ratio
    * is one truncating div over non-negative sums (NULL when the
    * lag-1 denominator is 0 — a constant series has no scale).
    *
    * Scale: one fact-grain hash aggregate to (part, month), a
    * bounded ×|months| spine (the X159/X172 calendar discipline, the
    * 1-row span broadcasts), TWO lags over ONE part-partition window
    * pass, one part-grain aggregate. */
  def seasonalNaiveMase(li: DataFrame): DataFrame = {
    // persisted: the monthly aggregate feeds THREE consumers (the span
    // aggregate, the part spine, and the dense left join) — without the
    // cache boundary the fact-grain groupBy re-runs per consumer
    // (measured 3 lineitem scans in the r16 plan dump)
    val obs = graft.core.SessionCache.transient(
      li.groupBy(col("l_partkey"),
        (year(col("l_shipdate")) * 12 + month(col("l_shipdate")) - 1)
          .cast("long").as("m"))
      .agg(sum(col("l_quantity").cast("long")).cast("long").as("qty")))
    val span = obs.agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
    val spine = obs.select(col("l_partkey")).distinct()
      .crossJoin(broadcast(span))
      .select(col("l_partkey"),
        explode(sequence(col("m0"), col("m1"))).as("m"))
    val dense = spine.join(obs, Seq("l_partkey", "m"), "left")
      .select(col("l_partkey"), col("m"),
        coalesce(col("qty"), lit(0L)).as("qty"))
    val w = Window.partitionBy(col("l_partkey")).orderBy(col("m"))
    dense
      .withColumn("lag1", lag(col("qty"), 1).over(w))
      .withColumn("lag12", lag(col("qty"), 12).over(w))
      // eval window: the months where the seasonal forecast exists
      // (m ≥ m0+12); lag1 is defined a fortiori on every such row
      .filter(col("lag12").isNotNull)
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).cast("long").as("n_eval"),
        sum(abs(col("qty") - col("lag12"))).cast("long")
          .as("sae_seasonal"),
        sum(abs(col("qty") - col("lag1"))).cast("long").as("sae_naive1"))
      .select(col("l_partkey"), col("n_eval"), col("sae_seasonal"),
        col("sae_naive1"),
        expr("(sae_seasonal * 1000000) div nullif(sae_naive1, 0)")
          .cast("long").as("mase_ppm"))
  }

  /** A13 (`myConversionsClass.py:214-225` calcXYZ): per-part monthly
    * demand mean, population std-dev, COV = σ/μ, XYZ classes. */
  def xyzClassification(spark: SparkSession, dir: String,
      xCut: Double = 0.5, yCut: Double = 1.0): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val monthly = li
      .groupBy(col("l_partkey"),
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
          .cast("long").as("month_key"))
      .agg(sum(col("l_quantity")).as("qty"))
    // population σ via the explicit moment formula (not stddev_pop):
    // engines implement stddev differently (Welford vs two-pass) but
    // avg/multiply/sqrt are bit-identical IEEE ops on exact sums.
    // Edge rules per the reference (`myConversionsClass.py:215-225`):
    // COV sentinel 9.0 when mean ≤ 0; X requires COV strictly > 0
    // (zero-variance demand is Z, not X).
    monthly.groupBy(col("l_partkey"))
      .agg(round(avg(col("qty")), 6).as("mean_qty"),
        round(sqrt(greatest(
          avg(col("qty") * col("qty")) - avg(col("qty")) * avg(col("qty")),
          lit(0.0))), 6).as("std_qty"),
        count(lit(1)).as("n_months"))
      .withColumn("cov", round(
        when(col("mean_qty") > 0, col("std_qty") / col("mean_qty"))
          .otherwise(lit(9.0)), 6))
      .withColumn("xyz_class",
        when(col("cov") > 0 && col("cov") <= xCut, "X")
          .when(col("cov") > xCut && col("cov") <= yCut, "Y")
          .otherwise("Z"))
  }

  /** F24 (`myConversionsClass.py:254-264` calcFCA): treat 1995 per-part
    * monthly qty as the "forecast" for 1996 actuals; AbsErr% and FCA
    * with the demand=0 ⇒ (0, 0.99) edge rule.
    *
    * ONE lineitem scan with conditional aggregation, not a per-year
    * scan pair joined back together — half the I/O and one shuffle
    * instead of two plus a join. The raw l_shipdate range predicate is
    * the sargable twin of the year() filter (row-group pruning). */
  def forecastAccuracy(spark: SparkSession, dir: String,
      fcYear: Int = 1995, actYear: Int = 1996): DataFrame = {
    val yr = year(col("l_shipdate"))
    val lo = s"${math.min(fcYear, actYear)}-01-01"
    val hi = s"${math.max(fcYear, actYear) + 1}-01-01"
    Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi) &&
        yr.isin(fcYear, actYear))
      .groupBy(col("l_partkey"), month(col("l_shipdate")).as("mo"))
      .agg(sum(when(yr === fcYear, col("l_quantity"))).as("forecast"),
        sum(when(yr === actYear, col("l_quantity"))).as("actual"))
      .filter(col("forecast").isNotNull && col("actual").isNotNull)
      .select(col("l_partkey"), col("mo").cast("long").as("mo"),
        round(col("forecast"), 2).as("forecast"),
        round(col("actual"), 2).as("actual"),
        round(absErrPct(col("actual") - col("forecast"), col("actual")), 6)
          .as("abs_err_pct"),
        round(fca(col("actual") - col("forecast"), col("actual")), 6)
          .as("fca"))
  }

  /** J6 (`myConversionsClass.py:627-672` UOM conversion): factor table
    * derived from part (EA=1, BOX=p_size, PAL=p_size*10); convert
    * lineitem quantities EA→BOX via from-factor / to-factor joins with
    * the reference's default-1 fallbacks. Factor dim is broadcast. */
  def uomConversion(spark: SparkSession, dir: String, fromUom: String = "EA",
      toUom: String = "BOX"): DataFrame = {
    val p = Tables(spark, dir, "part")
    val factors = p.select(col("p_partkey"),
        explode(array(
          struct(lit("EA").as("uom"), lit(1.0).as("factor")),
          struct(lit("BOX").as("uom"), col("p_size").cast("double")
            .as("factor")),
          struct(lit("PAL").as("uom"), (col("p_size") * 10).cast("double")
            .as("factor")))).as("f"))
      .select(col("p_partkey"), col("f.uom").as("uom"),
        col("f.factor").as("factor"))
    val li = Tables(spark, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(round(sum(col("l_quantity")), 2).as("qty"))
    val fFrom = factors.filter(col("uom") === fromUom)
      .select(col("p_partkey").as("pk_from"), col("factor").as("from_factor"))
    val fTo = factors.filter(col("uom") === toUom)
      .select(col("p_partkey").as("pk_to"), col("factor").as("to_factor"))
    li.join(broadcast(fFrom), li("l_partkey") === col("pk_from"), "left")
      .join(broadcast(fTo), li("l_partkey") === col("pk_to"), "left")
      .select(col("l_partkey"), col("qty"),
        coalesce(col("from_factor"), lit(1.0)).as("from_factor"),
        coalesce(col("to_factor"), lit(1.0)).as("to_factor"),
        round(col("qty") * coalesce(col("from_factor"), lit(1.0))
          / coalesce(col("to_factor"), lit(1.0)), 6).as("converted_qty"))
  }

  /** J5/S13 (`mySQLClass.py:148-220` delta upsert detection): per-part
    * 1996 aggregate vs 1995 aggregate on the same PK; keep rows whose
    * value differs (including one-sided nulls) — the rows an upsert
    * would write. */
  def deltaDetect(spark: SparkSession, dir: String, newYear: Int = 1996,
      oldYear: Int = 1995): DataFrame = {
    // one scan + one shuffle via conditional aggregation (the
    // left-join-of-two-scans form reads lineitem twice); sargable
    // range twin of the year() predicates, as in forecastAccuracy
    val yr = year(col("l_shipdate"))
    val lo = s"${math.min(newYear, oldYear)}-01-01"
    val hi = s"${math.max(newYear, oldYear) + 1}-01-01"
    Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi) &&
        yr.isin(newYear, oldYear))
      .groupBy(col("l_partkey"))
      .agg(round(sum(when(yr === newYear, col("l_quantity"))), 2)
        .as("new_qty"),
        round(sum(when(yr === oldYear, col("l_quantity"))), 2)
          .as("old_qty"))
      .filter(col("new_qty").isNotNull &&
        (col("old_qty").isNull || col("new_qty") =!= col("old_qty")))
  }

  /** W3/J10 (`myConversionsClass.py:342-353` groupwise max): orders
    * with the max totalprice per market segment (ties kept). */
  def groupwiseMax(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val c = Tables(spark, dir, "customer")
    val j = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .select(col("c_mktsegment").as("bu"), col("o_orderkey"),
        col("o_totalprice"))
    j.withColumn("mx",
        max(col("o_totalprice")).over(Window.partitionBy(col("bu"))))
      .filter(col("o_totalprice") === col("mx"))
      .select(col("bu"), col("o_orderkey"), col("o_totalprice"))
  }

  /** W4 (`myConversionsClass.py:506-530` ordinal snapshot slice):
    * dense-rank distinct order months ascending, keep ordinals [lo,hi].
    * Ranking runs on the DISTINCT month list (tiny), never the fact. */
  def ordinalSnapshotSlice(spark: SparkSession, dir: String, lo: Int = 2,
      hi: Int = 4): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val months = o.select(date_trunc("month", col("o_orderdate"))
        .cast("date").as("snap")).distinct()
    months.withColumn("ordinal", dense_rank().over(Window.orderBy("snap"))
        .cast("long"))
      .filter(col("ordinal").between(lo, hi))
  }

  /** Pivot-to-unpivot round trip covering A3 + F28: nation × mktsegment
    * order totals pivoted wide (fixed segment list so the plan is one
    * pass), then melted back to long via stack. */
  val Segments: Seq[String] =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  def pivotSum(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val c = Tables(spark, dir, "customer")
    val n = Tables(spark, dir, "nation")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .pivot("c_mktsegment", Segments)
      .agg(round(sum(col("o_totalprice")), 2))
      .na.fill(0.0, Segments)
  }

  def unpivotSum(spark: SparkSession, dir: String): DataFrame = {
    val stackExpr = Segments.map(s => s"'$s', `$s`").mkString(", ")
    pivotSum(spark, dir).select(col("nation"),
      expr(s"stack(${Segments.size}, $stackExpr) AS (bu, total)"))
  }

  /** F27/J9 (`myConversionsClass.py:532-547` weekly disaggregation):
    * monthly per-nation totals divided evenly over that month's
    * calendar weeks (Mondays overlapping the month), one row per week.
    * The week calendar is generated from the month dim (tiny, no
    * fact-side blow-up before the final explode). */
  def weeklyDisaggregation(spark: SparkSession, dir: String,
      yr: Int = 1996): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val monthly = o.filter(year(col("o_orderdate")) === yr)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date")
        .as("month_start"))
      .agg(round(sum(col("o_totalprice")), 2).as("month_total"))
    val withWeeks = monthly.withColumn("weeks",
      sequence(
        date_trunc("week", col("month_start")).cast("date"),
        date_trunc("week", last_day(col("month_start"))).cast("date"),
        expr("interval 7 days")))
    withWeeks
      .select(col("month_start"), col("month_total"),
        size(col("weeks")).cast("long").as("n_weeks"),
        explode(col("weeks")).as("week_start"))
      .select(col("month_start"), col("week_start"), col("n_weeks"),
        round(col("month_total") / col("n_weeks"), 6).as("week_value"))
  }

  /** W1 standalone (`myConversionsClass.py:236-244`): running cumulative
    * order total per segment over months + percent-of-total. */
  def runningTotals(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val c = Tables(spark, dir, "customer")
    val monthly = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment").as("bu"),
        date_trunc("month", col("o_orderdate")).cast("date").as("snap"))
      .agg(round(sum(col("o_totalprice")), 2).as("total"))
    val w = Window.partitionBy(col("bu")).orderBy(col("snap"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("bu"))
    monthly
      .withColumn("cum_total", round(sum(col("total")).over(w), 2))
      .withColumn("pct_of_total",
        round(col("total") / sum(col("total")).over(tot), 6))
  }

  /** SCD2 (slowly-changing-dimension type 2) validity-range derivation
    * from an observation series: per customer, the monthly observed
    * order priority collapses into [valid_from, valid_to] ranges, a new
    * range opening whenever the attribute changes — the gaps-and-
    * islands build every warehouse runs to turn snapshots into history
    * tables. Consecutive OBSERVATIONS define adjacency (months with no
    * orders don't split a range) — the standard event-series SCD2 form.
    *
    * Scale shape: one aggregate shuffle to the monthly grain, then the
    * lag/cumsum windows and the final rollup all share the SAME
    * (o_custkey) hash partitioning — Catalyst reuses one exchange for
    * all three; nothing global. `max_by(priority, orderkey)` makes the
    * per-month pick deterministic under concurrent orders. */
  def scd2History(spark: SparkSession, dir: String): DataFrame =
    scd2HistoryOf(Tables(spark, dir, "orders"))

  /** [[scd2History]] over an explicit orders frame — the X292 apply
    * query derives its pre-cutoff base through this. */
  def scd2HistoryOf(orders: DataFrame): DataFrame = {
    val snap = orders
      .groupBy(col("o_custkey"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(expr("max_by(o_orderpriority, o_orderkey)").as("attr"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("month"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    snap
      .withColumn("chg",
        when(lag(col("attr"), 1).over(w).isNull ||
          lag(col("attr"), 1).over(w) =!= col("attr"), 1L).otherwise(0L))
      .withColumn("island", sum(col("chg")).over(cum))
      .groupBy(col("o_custkey"), col("island"), col("attr"))
      .agg(min(col("month")).as("valid_from"),
        max(col("month")).as("valid_to"),
        count(lit(1)).as("n_months"))
      .select(col("o_custkey"), col("attr"), col("valid_from"),
        col("valid_to"), col("n_months"))
  }

  /** Open-row sentinel for [[scd2Apply]] (the warehouse convention —
    * a real date, so range predicates need no NULL branch). */
  val Scd2OpenEnd = "9999-12-31"

  /** X292: SCD2 MERGE apply — the nightly dimension-maintenance write
    * the X236 history READ derives from (and Kimball's Type-2 rule
    * verbatim): given the current versioned dimension (`key, attr,
    * valid_from, valid_to, is_current`; open rows carry
    * [[Scd2OpenEnd]]) and a change batch (`key, attr`) effective at
    * `effDate`,
    *  - an unchanged or unmentioned key keeps its open row,
    *  - a changed key CLOSES the open row at `effDate − 1 day` and
    *    OPENS a new version at `effDate`,
    *  - a brand-new key inserts an open version,
    *  - closed history passes through untouched.
    * Pure-transform face of the S13 MERGE surface: the output IS the
    * post-merge table, so the semantics are batch-oracle-checkable
    * (the side-effecting Delta leg stays spec-verified in SinksSpec).
    *
    * Scale: ONE key-grain full-outer join between the open rows and
    * the change batch (both dimension-sized, both hash-partitioned on
    * the key — never fact-sized), two narrow projections off the same
    * joined frame, a pass-through union. */
  def scd2Apply(dim: DataFrame, changes: DataFrame,
      effDate: String): DataFrame = {
    val hist = dim.filter(col("is_current") === 0)
    val cur = dim.filter(col("is_current") === 1)
      .select(col("o_custkey"), col("attr").as("cur_attr"),
        col("valid_from").as("cur_from"))
    val j = graft.core.SessionCache.transient(
      cur.join(changes.select(col("o_custkey"),
        col("attr").as("new_attr")), Seq("o_custkey"), "full_outer"))
      .toDF()
    val eff = to_date(lit(effDate))
    val openEnd = to_date(lit(Scd2OpenEnd))
    // leg 1: surviving / closed versions of previously-open rows
    val fromCur = j.filter(col("cur_attr").isNotNull)
      .select(col("o_custkey"),
        col("cur_attr").as("attr"),
        col("cur_from").as("valid_from"),
        when(col("new_attr").isNotNull &&
          col("new_attr") =!= col("cur_attr"), date_sub(eff, 1))
          .otherwise(openEnd).as("valid_to"),
        when(col("new_attr").isNotNull &&
          col("new_attr") =!= col("cur_attr"), 0L).otherwise(1L)
          .as("is_current"))
    // leg 2: newly-opened versions (changed keys + brand-new keys)
    val opened = j.filter(col("new_attr").isNotNull &&
        (col("cur_attr").isNull || col("new_attr") =!= col("cur_attr")))
      .select(col("o_custkey"), col("new_attr").as("attr"),
        eff.as("valid_from"), openEnd.as("valid_to"),
        lit(1L).as("is_current"))
    hist.select(col("o_custkey"), col("attr"), col("valid_from"),
        col("valid_to"), col("is_current"))
      .unionByName(fromCur).unionByName(opened)
  }

  /** Temporal-interval integrity audit (X260) — the validity-range
    * contract check every warehouse runs on its SCD2 / valid-time
    * tables (Snodgrass's sequenced-integrity conditions, the dbt
    * valid-at test): per key, inclusive [from, to] DATE ranges must
    * not overlap, must not run backwards, and ideally tile their span.
    * Overlap detection is the sweep form — a row overlaps iff its
    * start ≤ the running MAX of all PRIOR ends (ordered by start, end;
    * `lag` alone misses an interval swallowed by an earlier long one).
    * Gap evidence is integer day arithmetic: `gap_days =
    * span − Σ lengths` — exact when no overlaps (double-counting makes
    * it a lower bound otherwise, and the verdict has already failed).
    * `is_consistent` = no overlaps AND no backwards ranges.
    *
    * Scale: the window and the final rollup share ONE (key) hash
    * partitioning — a single exchange; per-key state is the running
    * max, O(1). */
  def intervalAudit(iv: DataFrame, key: String = "o_custkey",
      from: String = "valid_from", to: String = "valid_to"): DataFrame = {
    val w = Window.partitionBy(col("k")).orderBy(col("f"), col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    iv.select(col(key).as("k"), col(from).as("f"), col(to).as("t"))
      .withColumn("pmax", max(col("t")).over(w))
      .withColumn("is_overlap",
        when(col("pmax").isNotNull && col("f") <= col("pmax"), 1L)
          .otherwise(0L))
      .withColumn("is_bad", when(col("t") < col("f"), 1L).otherwise(0L))
      .groupBy(col("k").as(key))
      .agg(count(lit(1)).cast("long").as("n_ranges"),
        sum(col("is_overlap")).cast("long").as("n_overlaps"),
        sum(col("is_bad")).cast("long").as("n_bad_duration"),
        (datediff(max(col("t")), min(col("f"))) + 1)
          .cast("long").as("span_days"),
        sum(datediff(col("t"), col("f")) + 1)
          .cast("long").as("len_days"))
      .withColumn("gap_days",
        greatest(col("span_days") - col("len_days"), lit(0L)))
      .withColumn("is_consistent",
        when(col("n_overlaps") === 0 && col("n_bad_duration") === 0, 1L)
          .otherwise(0L))
  }

  /** Rolling event-time window aggregate: per user, the count and
    * exact-cents sum of that user's events in the trailing `days`-day
    * window ENDING at each event (inclusive RANGE frame over event
    * time — the "activity in the last 7 days as of this event" feature
    * every behavioral model consumes). A RANGE frame, not ROWS: ties
    * on ts share one frame, so per-row values depend only on
    * (user_id, ts) and the output is deterministic under any
    * partition order. Values accumulate as integer cents (the repo's
    * standard guard against cross-engine float-summation-order drift);
    * timestamps ride as epoch-micros longs.
    *
    * Scale: one shuffle on the user key; per-user frame state is
    * bounded by the window span, not history length — Spark's sliding
    * range-frame evaluation adds and retires rows incrementally. */
  def rollingWindow(events: DataFrame, days: Int = 7): DataFrame = {
    val spanUs = days * 86400L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-spanUs, 0)
    events.select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("cents_win", sum(col("cents")).over(w))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("n_win"), col("cents_win"))
  }

  /** Exact per-group AUC (ROC area) via the Mann–Whitney rank
    * statistic — the model-eval metric a training pipeline computes at
    * corpus scale, without a global sort and without floating point:
    *
    *   AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻),  R⁺ = Σ midrank(positives)
    *
    * Midranks decompose over the per-(group, score) DISTINCT-VALUE
    * aggregate (2·midrank = 2·|rows below| + c + 1, integers
    * throughout), so the only window runs over the value-distribution
    * frame — bounded by the score domain, not the row count — exactly
    * the X44 decomposition. Ties are handled exactly (midrank), which
    * naive "count concordant pairs" samplers get wrong.
    *
    * Emitted as integer `auc_e6`; −1 flags a degenerate group (single
    * class). Exact-integer headroom: r2·10⁶ must fit a long, which
    * holds to ~3·10⁶ rows per group — beyond that, stratify groups
    * finer (the statistic is per-group by construction) or drop the e6
    * scaling to widen headroom; the decomposition itself is exact at
    * any scale.
    *
    * Input contract: `grp` (group key), `cents` (LONG score — quantize
    * doubles first, e.g. `round(value·100)`), `label` (0/1 LONG). */
  def aucByGroup(scored: DataFrame): DataFrame = {
    val byScore = scored.groupBy(col("grp"), col("cents"))
      .agg(count(lit(1)).as("c"), sum(col("label")).as("pos_c"))
    val w = Window.partitionBy(col("grp")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("below", coalesce(sum(col("c")).over(w), lit(0L)))
      .withColumn("r2c", col("pos_c") * (col("below") * 2 + col("c") + 1))
      .groupBy(col("grp"))
      .agg(sum(col("c")).cast("long").as("n"),
        sum(col("pos_c")).cast("long").as("n_pos"),
        sum(col("r2c")).cast("long").as("r2"))
      .select(col("grp"), col("n"), col("n_pos"),
        (col("n") - col("n_pos")).as("n_neg"),
        when(col("n_pos") === 0 || col("n_pos") === col("n"), lit(-1L))
          .otherwise(expr(
            "((r2 - n_pos * (n_pos + 1)) * 1000000) div " +
              "(2 * n_pos * (n - n_pos))"))
          .as("auc_e6"))
  }

  /** Sequential-pattern mining, n-gram form: the top-k most frequent
    * event-type trigrams across all per-user event sequences — the
    * "what do users actually do, in order" summary funnels are then
    * built from. Trigrams come from two `lead()`s over one
    * user-partitioned window (a single key shuffle; sequences never
    * leave their partition), counts from one hash aggregate over a
    * domain bounded by |event types|³, and the global top-k through
    * `orderBy.limit` = TakeOrdered. Deterministic (count desc, trigram
    * asc) tiebreak. */
  def eventTrigrams(events: DataFrame, topK: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val counts = events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3"))
        .as("trigram"))
      .groupBy(col("trigram")).agg(count(lit(1)).as("n"))
    counts.orderBy(col("n").desc, col("trigram")).limit(topK)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("n").desc, col("trigram"))).cast("long"))
  }

  /** Retention cohort matrix: users grouped by first-seen day, then
    * for each (cohort, day-offset) the count of cohort members active
    * that many days later — the triangle every growth dashboard draws.
    * Three key-partitioned shuffles, nothing user-quadratic: per-user
    * first day (groupBy user), distinct (user, day) activity, an equi-
    * join on the user key, and the final (cohort, offset) aggregate.
    * All-integer output (DATE + day offsets + counts). */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val firstDay = events.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("cohort_day"))
    events.select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .join(firstDay, Seq("user_id"))
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long")
          .as("day_offset"))
      .agg(count(lit(1)).cast("long").as("n_users"))
  }

  /** CUBE totals over order priority × status — A6's rollup
    * generalized to the full grouping-sets lattice: detail, both
    * single-dimension subtotal planes, and the grand total in ONE
    * aggregation pass. Explicit `GROUPING()` flags distinguish a NULL
    * dimension value from an all-values subtotal (the classic cube
    * ambiguity). Spark plans CUBE as a single Expand (4× the rows,
    * map-side) into one partial-aggregated hash shuffle — one exchange
    * for all four planes, versus four separate scans+shuffles for the
    * naive union-of-group-bys; the measure is integer cents so every
    * plane is accumulation-order-exact. */
  def cubeTotals(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .select(col("o_orderpriority").as("priority"),
        col("o_orderstatus").as("status"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .cube(col("priority"), col("status"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        sum(col("cents")).cast("long").as("sum_cents"),
        grouping(col("priority")).cast("long").as("g_priority"),
        grouping(col("status")).cast("long").as("g_status"))
      .select(coalesce(col("priority"), lit("ALL")).as("priority"),
        coalesce(col("status"), lit("ALL")).as("status"),
        col("g_priority"), col("g_status"),
        col("n_orders"), col("sum_cents"))

  /** Per-key mergeable rollup: count + exact-cents sum. The measure
    * set is deliberately ALGEBRAIC (count/sum merge by addition) so
    * partial rollups combine exactly — the same property map-side
    * partial aggregation exploits within a job, lifted to CROSS-RUN
    * incremental maintenance. */
  def eventRollup(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(round(col("value") * 100).cast("long")).cast("long")
          .as("cents"))

  /** Incremental rollup maintenance: merge a STORED rollup with the
    * rollup of a new data slice — the update path that keeps a 100 TB
    * running aggregate current without rescanning history. Each
    * period merges yesterday's rollup with today's partition: cost =
    * |keys| + |new slice|, never |history|. The registry query proves
    * the invariant that matters: split-rollup-then-merge is
    * bit-identical to recomputing over everything (its oracle IS the
    * full recompute). */
  def mergeRollups(stored: DataFrame, delta: DataFrame,
      keys: Seq[String]): DataFrame =
    stored.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("n")).cast("long").as("n"),
        sum(col("cents")).cast("long").as("cents"))

  /** Score-calibration curve (reliability diagram): equi-depth score
    * deciles × observed positive rate — the companion diagnostic to
    * [[aucByGroup]] (AUC says the ranking works; calibration says the
    * scores mean what they claim). Deciles come from the X44
    * decomposition (global rank = broadcast distinct-value offset +
    * intra-value window on the row id), so there is NO global sort of
    * the fact table; positive rates are integer ppm.
    *
    * Input contract: `id` (unique row id — the tile of a tied score
    * row is tie-broken by id, exactly as the oracle does), `cents`
    * (LONG score), `label` (0/1 LONG). */
  def calibrationCurve(scored: DataFrame, k: Int = 10): DataFrame = {
    // Spread, not repartition(id): the id is unique, so the hash
    // exchange bought nothing but local parallelism repair — on an
    // already-split source it was a full-table shuffle for free
    // (the r7 Similarity cleanup, applied here)
    val base = graft.core.SessionCache.transient(graft.core.Spread(scored))
    val off = base.groupBy(col("cents")).agg(count(lit(1)).as("c"))
      .withColumn("below", coalesce(
        sum(col("c")).over(Window.orderBy(col("cents"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("cents"), col("below"))
    val nd = base.agg(count(lit(1)).as("n_total"))
    base.join(broadcast(off), Seq("cents"))
      .withColumn("grank", (col("below") + row_number().over(
        Window.partitionBy(col("cents")).orderBy(col("id")))).cast("long"))
      .crossJoin(broadcast(nd))
      .select(col("cents"), col("label"),
        (expr(s"((grank - 1) * $k) div n_total") + 1L).as("tile"))
      .groupBy(col("tile"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("label")).cast("long").as("n_pos"),
        min(col("cents")).as("cents_lo"),
        max(col("cents")).as("cents_hi"))
      .withColumn("pos_rate_e6", expr("(n_pos * 1000000) div n"))
  }

  /** Ordered-sequence funnel: per user, the earliest strictly-
    * increasing chain of stage timestamps (first 'view', first 'click'
    * AFTER it, first 'purchase' after that) and the stage count
    * reached — the sequential-pattern query event analytics runs that
    * no single groupBy expresses. One pass per stage: filter the stage
    * type, join the previous stage's time on user_id, min-aggregate —
    * every shuffle is on the user key, no window over raw events and
    * nothing quadratic. Times emitted as epoch MICROS longs (−1 =
    * stage not reached): integer-exact cross-engine, immune to
    * sub-second normalization. */
  def funnelStages(events: DataFrame,
      stages: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    val base = graft.core.SessionCache.transient(
      events.repartition(col("user_id"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us")))
    val users = base.select(col("user_id")).distinct()
    val withTs = stages.zipWithIndex.foldLeft(
      users.withColumn("t0", lit(Long.MinValue))) { case (acc, (st, i)) =>
      val prev = s"t$i"
      val cur = s"t${i + 1}"
      val m = base.filter(col("event_type") === st)
        .join(acc.select(col("user_id"), col(prev)), Seq("user_id"))
        .filter(col("ts_us") > col(prev))
        .groupBy(col("user_id")).agg(min(col("ts_us")).as(cur))
      acc.join(m, Seq("user_id"), "left")
        // carry a non-null boundary for the next stage's filter: users
        // who missed this stage can't reach later ones
        .withColumn(cur, coalesce(col(cur), lit(Long.MaxValue)))
    }
    val tCols = stages.indices.map(i => col(s"t${i + 1}"))
    val stageN = tCols.map(t => when(t =!= Long.MaxValue, 1L).otherwise(0L))
      .reduce(_ + _)
    withTs.select(col("user_id") +:
      stages.indices.map(i =>
        when(tCols(i) === Long.MaxValue, lit(-1L)).otherwise(tCols(i))
          .as(s"t_${stages(i)}_us")) :+
      stageN.as("funnel_stage"): _*)
  }

  /** Half-life (days) and step cap for [[decayScores]]. */
  val DecayHalfLifeDays = 7
  val DecayMaxSteps = 30

  /** Step-wise exponential time-decay scoring — the freshness weight a
    * curation pipeline hangs on sources/types before sampling (stale
    * mass shouldn't dominate the mix). Each event contributes
    * `10⁶ >> min(age_days div halfLife, 30)` µunits as of the
    * NEWEST event date: a power-of-two half-life ladder instead of a
    * float `exp(-λt)`, so the decay is EXACT INTEGER in any engine and
    * any accumulation order — `shiftright` here, `// power(2, k)` in
    * the oracle (2^k ≤ 2³⁰ is float-exact). Step-wise (weekly rungs)
    * rather than smooth, which sampling weights don't mind and
    * hash-exactness does. One narrow map pass + one hash aggregate;
    * the as-of scalar broadcasts. */
  def decayScores(events: DataFrame,
      halfLifeDays: Int = DecayHalfLifeDays): DataFrame = {
    val asOf = events.agg(max(to_date(col("ts"))).as("as_of"))
    events.select(col("event_type"), to_date(col("ts")).as("d"))
      .crossJoin(broadcast(asOf))
      .select(col("event_type"),
        least(expr(s"datediff(as_of, d) div $halfLifeDays"),
          lit(DecayMaxSteps.toLong)).as("k"))
      .select(col("event_type"),
        expr("shiftright(CAST(1000000 AS BIGINT), CAST(k AS INT))")
          .as("w"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("w")).cast("long").as("decayed_mass_e6"))
  }

  /** Shards the quantile-sketch partials are built over (stands in for
    * "yesterday's sketch" + "today's batch" at test scale). */
  val SketchShards = 4L

  /** Mergeable log-bucket quantile sketch — the bounded-error,
    * merge-friendly alternative to the exact `percentile` aggregate
    * (`events_percentiles`) when the exact form's per-group sort state
    * is too big or the sketch must accumulate across days: values
    * bucket to
    * `bitlength(cents)` (power-of-two buckets, relative error ≤ 2×,
    * all integer — `length(bin(x))` here, `format('{:b}', x)` in the
    * oracle, the [[graft.similarity.Similarity.ScaledNBitsSql]]
    * device), per-bucket counts form the sketch, and a quantile reads
    * off the cumulative counts as the lower bound of the first bucket
    * whose cumulative share clears p. Counts are a commutative monoid,
    * so sketches MERGE exactly: this implementation deliberately
    * builds per-shard partials first and merges them — the oracle
    * computes the sketch directly, so the hash-match IS the
    * mergeability proof. Negative values clamp to the zero bucket
    * (document the domain, don't silently wrap). One narrow map pass,
    * two keyed aggregates, a per-type window over ≤64 bucket rows. */
  def logBucketQuantiles(events: DataFrame): DataFrame = {
    val cents = greatest(floor(col("value") * 100.0 + 0.5).cast("long"),
      lit(0L))
    val bucket = when(cents === 0, lit(0L))
      .otherwise(length(bin(cents)).cast("long"))
    val partials = events
      .select(col("event_type"),
        pmod(col("user_id"), lit(SketchShards)).as("shard"),
        bucket.as("b"))
      .groupBy(col("event_type"), col("shard"), col("b"))
      .agg(count(lit(1)).cast("long").as("c"))
    val counts = partials.groupBy(col("event_type"), col("b"))
      .agg(sum(col("c")).cast("long").as("c"))
    val cum = counts.withColumn("cum",
      sum(col("c")).over(Window.partitionBy(col("event_type"))
        .orderBy(col("b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"))
    val tot = counts.groupBy(col("event_type"))
      .agg(sum(col("c")).cast("long").as("n"))
    def qb(p: Int) =
      min(when(col("cum") * 100 >= col("n") * p, col("b"))).as(s"b$p")
    def lb(b: String) =
      expr(s"CASE WHEN $b = 0 THEN CAST(0 AS BIGINT) " +
        s"ELSE shiftleft(CAST(1 AS BIGINT), CAST($b - 1 AS INT)) END")
        .cast("long").as(s"p${b.drop(1)}_lb_cents")
    cum.join(tot, Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), qb(50), qb(90), qb(99))
      .select(col("event_type"), col("n"),
        col("b50"), col("b90"), col("b99"),
        lb("b50"), lb("b90"), lb("b99"))
  }

  /** Calendar gap fill with last-observation-carried-forward — the
    * time-series repair step between gap DETECTION
    * ([[graft.qc.Recon]]'s missing-days audit) and any rolling/decay
    * consumer that assumes a dense daily spine: per event type, every
    * day in [min, max] gets a row; days with no events carry the most
    * recent observed daily count forward (`is_gap` marks them, `n_obs`
    * keeps the honest 0).
    *
    * Scale shape: the spine is |types| × |days| — bounded by the
    * CALENDAR and the type domain, not the event count — built by one
    * per-type min/max aggregate and a `sequence()` explode; the
    * left join back is keyed on (type, day); the carry-forward window
    * partitions per type over calendar days. Nothing here grows with
    * event volume except the one initial daily aggregate. */
  def gapFillDaily(events: DataFrame): DataFrame =
    dailySpine(events)
      .select(col("event_type"), col("day"),
        coalesce(col("n"), lit(0L)).as("n_obs"),
        col("n").isNull.cast("boolean").as("is_gap"),
        last(col("n"), ignoreNulls = true).over(
          Window.partitionBy(col("event_type")).orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long").as("n_filled"))

  /** The per-type dense daily spine shared by [[gapFillDaily]],
    * [[acfDaily]] and [[runsTest]]: the (type, day) count aggregate
    * left-joined onto each type's min..max calendar sequence; `n` is
    * NULL on gap days (callers coalesce to the honest zero, or read
    * the null as the gap flag). The daily aggregate is a transient
    * persist because the spine derivation consumes it twice
    * (min/max + the join back) — one events scan per query, not
    * two. */
  private def dailySpine(events: DataFrame): DataFrame = {
    val daily = graft.core.SessionCache.transient(
      events.select(col("event_type"), to_date(col("ts")).as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).cast("long").as("n")))
    daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(col("event_type"),
        explode(sequence(col("mn"), col("mx"))).as("day"))
      .join(daily, Seq("event_type", "day"), "left")
  }

  /** Fulfillment-lag SLA threshold (days) for [[supplierLeadTime]]. */
  val LeadTimeSlaDays = 60L

  /** Supplier lead-time scorecard (the fulfillment-lag KPI the
    * reference's demand pipeline feeds — which suppliers ship an
    * order's lines promptly, which breach the SLA): per supplier, line
    * count, SLA-breach ppm (ship lag > [[LeadTimeSlaDays]] days), and
    * min/mean/max order→ship day lags. Lags could in principle be
    * negative (data error: ship before order), so the mean uses the
    * offset spelling `((Σd + K·n) div n) − K` (K = 10⁶ ≫ any real lag;
    * Spark div truncates, DuckDB // floors — the shift keeps the
    * numerator where they agree). One order-keyed equi-join (fact to
    * fact — at 100 TB both sides bucket on orderkey, the X118 layout)
    * + one supplier-keyed aggregate. */
  def supplierLeadTime(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val d = datediff(to_date(col("l_shipdate")),
      to_date(col("o_orderdate"))).cast("long")
    lineitem.select(col("l_orderkey"), col("l_suppkey"),
        col("l_shipdate"))
      .join(orders.select(col("o_orderkey").as("l_orderkey"),
        col("o_orderdate")), Seq("l_orderkey"))
      .select(col("l_suppkey"), d.as("lag_d"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).cast("long").as("n_lines"),
        sum(when(col("lag_d") > LeadTimeSlaDays, 1L).otherwise(0L))
          .cast("long").as("n_breach"),
        min(col("lag_d")).cast("long").as("min_lag_d"),
        max(col("lag_d")).cast("long").as("max_lag_d"),
        sum(col("lag_d")).cast("long").as("sum_lag_d"))
      .select(col("l_suppkey"), col("n_lines"), col("n_breach"),
        expr("(n_breach * 1000000) div n_lines").as("breach_ppm"),
        col("min_lag_d"), col("max_lag_d"),
        expr("((sum_lag_d + 1000000 * n_lines) div n_lines)" +
          " - 1000000").as("mean_lag_d"))
  }

  /** Robotic-cadence screen (X263) — the bot filter run before any
    * behavioral read trusts per-user counts: a scripted client fires
    * at a FIXED cadence, so one inter-event gap value dominates its
    * gap distribution, where human activity spreads. Per user: event
    * and gap counts, distinct gap values, the modal gap's exact count
    * and integer share (`modal_cnt·10⁶ div n_gaps`), and the verdict
    * at [[BotModalSharePpm]] with a [[BotMinGaps]] support floor (a
    * 3-event user is never judged). Emits the modal SHARE, not the
    * modal gap value — the share is tie-invariant, so no cross-engine
    * argmax tie-break is ever needed. Different question from the
    * gap-percentile profile: percentiles measure pace, modality
    * measures REGULARITY.
    *
    * Scale: the lag window, the (user, gap) count and the user rollup
    * all share ONE user-key hash partitioning — a single exchange. */
  val BotModalSharePpm = 500000L
  val BotMinGaps = 5L

  def botScreen(events: DataFrame): DataFrame = {
    // the X174 gap device: micro-diff floor-divided to whole seconds
    val gaps = events
      .withColumn("gap_s", expr(
        "(unix_micros(ts) - lag(unix_micros(ts), 1) over " +
          "(partition by user_id order by ts, event_id)) " +
          "div 1000000"))
      .filter(col("gap_s").isNotNull)
      .groupBy(col("user_id"), col("gap_s"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    gaps.groupBy(col("user_id"))
      .agg((sum(col("cnt")) + 1).cast("long").as("n_events"),
        sum(col("cnt")).cast("long").as("n_gaps"),
        count(lit(1)).cast("long").as("n_distinct_gaps"),
        max(col("cnt")).cast("long").as("modal_cnt"))
      .withColumn("modal_share_ppm",
        expr("(modal_cnt * 1000000) div n_gaps"))
      .withColumn("is_robotic",
        when(col("n_gaps") >= BotMinGaps &&
          col("modal_share_ppm") >= BotModalSharePpm, 1L).otherwise(0L))
  }

  /** Revenue margin waterfall (X269) — the P&L bridge the reference's
    * own subsystem name ("DP Waterfall") points at: gross → −discount
    * → +tax → charged, decomposed per (returnflag, linestatus) in
    * EXACT integer arithmetic. The float form
    * `price·(1−disc)·(1+tax)` reassociates differently per engine;
    * here the percent columns quantize to integers once
    * (`floor(x·100 + 0.5)`, the fixture's discounts/taxes are exact
    * hundredths) and each bridge step is a defined rational floor:
    * `disc_c = gross_c·dpct div 100`, `tax_c = (gross_c − disc_c)
    * ·tpct div 100`, `charged_c = gross_c − disc_c + tax_c` — so the
    * waterfall ADDS UP row by row and replays bit-identically in any
    * engine. One small-grain map-side-combinable aggregate, no joins
    * (the TPC-H Q1 shape). */
  def marginWaterfall(lineitem: DataFrame): DataFrame =
    lineitem.select(col("l_returnflag"), col("l_linestatus"),
        floor(col("l_extendedprice") * 100.0 + 0.5).cast("long")
          .as("gross_c"),
        floor(col("l_discount") * 100.0 + 0.5).cast("long").as("dpct"),
        floor(col("l_tax") * 100.0 + 0.5).cast("long").as("tpct"))
      .withColumn("disc_c", expr("(gross_c * dpct) div 100"))
      .withColumn("tax_c", expr("((gross_c - disc_c) * tpct) div 100"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).cast("long").as("n_lines"),
        sum(col("gross_c")).cast("long").as("gross_cents"),
        sum(col("disc_c")).cast("long").as("disc_cents"),
        sum(col("tax_c")).cast("long").as("tax_cents"))
      .withColumn("charged_cents",
        expr("gross_cents - disc_cents + tax_cents"))

  /** Discount-lift read (X267) — the merchandising question behind
    * every promo decision: does a deeper discount actually MOVE
    * volume, per brand? Lines bucket into integer discount tiers
    * (percent = `floor(discount·100 + 0.5)`, tier = percent div
    * [[DiscountTierPct]]); per (brand, tier) the exact line count,
    * quantity units (×100) and revenue cents, plus the floor mean
    * quantity per line — the within-brand tier-over-tier comparison
    * IS the lift read, left as exact evidence (the X129 moments
    * discipline; a regression slope would hide the non-monotone
    * middle tiers every real curve has).
    *
    * Scale: one broadcast dim join (part is the small side), one
    * (brand, tier)-grain map-side-combinable aggregate — \|brands\|×4
    * output rows. */
  val DiscountTierPct = 3L

  def discountLift(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val li = lineitem.select(col("l_partkey"),
      floor(col("l_discount") * 100.0 + 0.5).cast("long").as("disc_pct"),
      floor(col("l_quantity") * 100.0 + 0.5).cast("long").as("qty_u"),
      floor(col("l_extendedprice") * 100.0 + 0.5).cast("long")
        .as("cents"))
    li.join(broadcast(part.select(col("p_partkey").as("l_partkey"),
        col("p_brand"))), Seq("l_partkey"))
      .withColumn("tier", expr(s"disc_pct div $DiscountTierPct"))
      .groupBy(col("p_brand"), col("tier"))
      .agg(count(lit(1)).cast("long").as("n_lines"),
        sum(col("qty_u")).cast("long").as("qty_units"),
        sum(col("cents")).cast("long").as("rev_cents"))
      .withColumn("mean_qty_u", expr("qty_units div n_lines"))
  }

  /** Per-type dwell time (X268) — the "time spent on this step" read
    * product analytics derives for every event type: the FORWARD gap
    * from each event to the user's next event (any type), attributed
    * to the CURRENT event's type. The last event of a user has no
    * forward gap and is excluded — with its count reported as
    * `n_last` per type so the exclusion is visible, not silent.
    * Exact integer moments (n, Σs, Σs², floor mean) per type; the
    * percentile read stays with the per-user gap profile (X174) —
    * this is the type-grain aggregation it cannot express.
    *
    * Scale: the lead window shuffles on the user key, the final
    * aggregate on the \|types\|-grain — map-side combinable. Σs² is
    * asserted under the Long-exact bar. */
  def dwellByType(events: DataFrame): DataFrame =
    events
      .withColumn("dwell_s", expr(
        "(unix_micros(lead(ts, 1) over " +
          "(partition by user_id order by ts, event_id)) " +
          "- unix_micros(ts)) div 1000000"))
      .groupBy(col("event_type"))
      .agg(count(when(col("dwell_s").isNotNull, 1L)).cast("long").as("n"),
        count(when(col("dwell_s").isNull, 1L)).cast("long").as("n_last"),
        sum(col("dwell_s")).cast("long").as("sum_s"),
        sum(col("dwell_s") * col("dwell_s")).cast("long").as("sum_s2"),
        max(abs(col("dwell_s"))).as("max_abs_s"))
      .select(col("event_type"), col("n"), col("n_last"),
        col("sum_s"),
        // Pre-overflow witness (the qualityLengthCorr pattern): bound
        // the sum BEFORE it can wrap — n · max(|s|)² in double space.
        // Asserting on the summed Long itself cannot work: a wrap
        // lands negative and sails under a one-sided bound.
        expr("coalesce(cast(assert_true(" +
          "coalesce(cast(n as double) * cast(max_abs_s as double) " +
          "* cast(max_abs_s as double), 0.0) <= 9.0e18, " +
          "'dwell sum of squares may exceed the Long-exact range') " +
          "as bigint), 0) + sum_s2").cast("long").as("sum_s2"),
        expr("sum_s div greatest(n, 1)").cast("long").as("mean_s"))

  /** Time-weighted average moments (X266) — the TWAP/LOCF-weighted
    * mean every finance and sensor pipeline computes over IRREGULAR
    * samples, where the arithmetic mean over-weights bursts: each
    * observation's value holds until the next observation (LOCF), so
    * it is weighted by that duration. Per user the exact integer
    * moments — Σ cents·seconds (the value-time mass) and Σ seconds —
    * plus `twap_cents = mass div duration` (floor; both non-negative).
    * The LAST observation carries no duration and contributes only to
    * `n_obs` — the standard half-open-interval convention; single-
    * event users report zero duration and a NULL-free zero TWAP.
    * Values quantize to cents once (the house device), gaps ride the
    * X174 micro-diff device, so the mass is a replayable Long (≈10⁴
    * cents · 10⁷ s per user — asserted under the Long-exact bar in
    * double space like every guarded sum).
    *
    * Scale: the lead window and the user rollup share ONE user-key
    * hash partitioning — a single exchange, O(1) window state. */
  def twapByUser(events: DataFrame): DataFrame = {
    events.select(col("user_id"), col("ts"), col("event_id"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
      // the X174 micro-diff device, forward: duration to the NEXT obs
      .withColumn("dur_s", expr(
        "(unix_micros(lead(ts, 1) over " +
          "(partition by user_id order by ts, event_id)) " +
          "- unix_micros(ts)) div 1000000"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_obs"),
        sum(expr("cents * coalesce(dur_s, 0)"))
          .cast("long").as("mass_cents_s"),
        sum(expr("coalesce(dur_s, 0)"))
          .cast("long").as("dur_total_s"),
        max(abs(col("cents"))).as("max_abs_cents"),
        max(expr("abs(coalesce(dur_s, 0))")).as("max_abs_dur"))
      .select(col("user_id"), col("n_obs"),
        // Pre-overflow witness: n · max(|cents|) · max(|dur|) bounds
        // every partial AND the final sum in double space before a
        // Long wrap can occur — two-sided by construction (abs), and
        // NULL-coalesced so an all-NULL value column emits its NULL
        // mass row (matching the oracle) instead of throwing.
        expr("coalesce(cast(assert_true(" +
          "coalesce(cast(n_obs as double) * cast(max_abs_cents as double)" +
          " * cast(max_abs_dur as double), 0.0) <= 9.0e18, " +
          "'TWAP mass may exceed the Long-exact range') as bigint), 0) " +
          "+ mass_cents_s").cast("long").as("mass_cents_s"),
        col("dur_total_s"),
        expr("mass_cents_s div greatest(dur_total_s, 1)")
          .cast("long").as("twap_cents"))
  }

  /** Cross-series correlation over the zero-filled daily type counts —
    * which event types move TOGETHER day to day (shared upstream
    * driver, mirrored instrumentation) and which are independent. The
    * moment sums (n, Σx, Σy, Σxy, Σx², Σy²) are the mergeable
    * sufficient statistics — a commutative monoid like the X94/X99
    * sketches, which is what makes the statistic maintainable
    * incrementally at scale — and every derived quantity is exact
    * integer arithmetic: `cov = n·Σxy − Σx·Σy` (sign carried
    * separately), `r²·10⁶ = (cov²·10⁶) div (vx·vy)` under the house
    * overflow assert. ZERO-filling over the global day spine is load-
    * bearing: joining only on days where both types fired would bias
    * the correlation toward co-active days. Spine = |days|·|types|
    * rows — calendar-sized, never event-volume-sized. */
  def typeCorrelationStats(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("long").as("n"))
    val spine = daily.select(col("day")).distinct()
      .crossJoin(daily.select(col("event_type")).distinct())
    val filled = graft.core.SessionCache.transient(
      spine.join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("n"), lit(0L)).as("n")))
    val pairs = filled.select(col("day"), col("event_type").as("type_a"),
        col("n").as("x"))
      .join(filled.select(col("day"), col("event_type").as("type_b"),
        col("n").as("y")), Seq("day"))
      .filter(col("type_a") < col("type_b"))
    pairs.groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).cast("long").as("n_days"),
        max(col("x")).cast("long").as("mx"),
        max(col("y")).cast("long").as("my"),
        sum(col("x")).cast("long").as("sx"),
        sum(col("y")).cast("long").as("sy"),
        sum(col("x") * col("y")).cast("long").as("sxy"),
        sum(col("x") * col("x")).cast("long").as("sxx"),
        sum(col("y") * col("y")).cast("long").as("syy"))
      .select(col("type_a"), col("type_b"), col("n_days"),
        col("mx"), col("my"),
        col("sx"), col("sy"), col("sxy"), col("sxx"), col("syy"),
        expr("n_days * sxy - sx * sy").as("cov_n2"),
        expr("n_days * sxx - sx * sx").as("vx_n2"),
        expr("n_days * syy - sy * sy").as("vy_n2"))
      .select(col("type_a"), col("type_b"), col("n_days"),
        col("sx"), col("sy"), col("sxy"), col("cov_n2"),
        signum(col("cov_n2")).cast("long").as("cov_sign"),
        // Pre-overflow witness (VERDICT r13 #2), two-tier: the loose
        // double-space bounds n·mx·mx / n·my·my / n·mx·my ≤ 9e18
        // prove every moment sum (Σxy ≤ n·mx·my, Σx² ≤ n·mx², …)
        // never wrapped — the old guard tested cov_n2, computed FROM
        // possibly-wrapped sums. The actual-value div-form checks
        // then run on TRUSTWORTHY integers and keep the original
        // firing thresholds: |n·Σxy| and |Σx·Σy| each ≤ Long.Max/2
        // so their difference cannot wrap, n·Σx² ≤ Long.Max with
        // (Σx)² ≤ n·Σx² by Cauchy-Schwarz for the variances (`and`
        // short-circuits left-to-right in codegen, so cov² only
        // computes once |cov| ≤ √Long.Max holds).
        expr("case when vx_n2 = 0 or vy_n2 = 0 then 0 else " +
          "coalesce(cast(assert_true(" +
          "cast(n_days as double) * cast(mx as double) * " +
          "cast(mx as double) <= 9.0e18 and " +
          "cast(n_days as double) * cast(my as double) * " +
          "cast(my as double) <= 9.0e18 and " +
          "cast(n_days as double) * cast(mx as double) * " +
          "cast(my as double) <= 9.0e18 and " +
          "abs(sxy) <= 4611686018427387903 div greatest(n_days, 1) " +
          "and abs(sx) <= 4611686018427387903 div " +
          "greatest(abs(sy), 1) and " +
          "sxx <= 9223372036854775807 div greatest(n_days, 1) and " +
          "syy <= 9223372036854775807 div greatest(n_days, 1) and " +
          "abs(cov_n2) <= 3037000499 and " +
          "cov_n2 * cov_n2 <= 9223372036854775807 div 1000000 and " +
          "vx_n2 <= 9223372036854775807 div vy_n2," +
          " 'correlation moments exceed the Long-exact range: shard " +
          "the day spine or move to decimal(38)') as bigint), 0)" +
          " + ((cov_n2 * cov_n2 * 1000000) div (vx_n2 * vy_n2)) end")
          .as("r2_ppm"))
  }

  /** X313: Tukey IQR outlier screen per event type — the box-plot
    * fence QC beside the X-row MAD screen (MAD is the robust
    * per-point z-score; Tukey fences are the distribution-shape
    * verdict audit dashboards draw): quartiles as exact ORDER
    * STATISTICS on integer cents (type-1, `q = smallest value whose
    * cumulative count ≥ ⌈p·n⌉` — no interpolation, so no float
    * boundary to disagree on), fences at q1 − 1.5·IQR / q3 + 1.5·IQR
    * compared in doubled integers (`2·v < 2·q1 − 3·iqr`) so the half
    * never leaves integer land, low/high outlier counts and the ppm.
    *
    * Scale shape: quartiles come from the VALUE-DOMAIN offset device
    * (the X28/weighted-median discipline) — per-(type, cents) counts
    * + a cumulative window over the bounded distinct-value domain,
    * never a per-row sort; fence counting reuses the same value
    * frame, and the per-type fence table broadcasts. */
  def iqrOutliers(events: DataFrame): DataFrame = {
    val vc = graft.core.SessionCache.transient(
      events.select(col("event_type"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
        .groupBy(col("event_type"), col("cents"))
        .agg(count(lit(1)).cast("long").as("c")))
    val cum = vc.withColumn("cum",
      sum(col("c")).over(Window.partitionBy(col("event_type"))
        .orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"))
    val n = vc.groupBy(col("event_type"))
      .agg(sum(col("c")).cast("long").as("n"))
    val q = cum.join(n, Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        min(when(col("cum") >= expr("(n + 3) div 4"), col("cents")))
          .cast("long").as("q1_cents"),
        min(when(col("cum") >= expr("(3 * n + 3) div 4"), col("cents")))
          .cast("long").as("q3_cents"))
      .withColumn("iqr_cents", col("q3_cents") - col("q1_cents"))
    vc.join(broadcast(q), Seq("event_type"))
      // ADVICE r15: the house pre-overflow witnesses — bound the
      // doubled/tripled fence operands BEFORE the products form (the
      // runsTest/acfDaily discipline): |cents|,|q| ≤ Long.Max/4 keeps
      // each 2·x at ≤ Long.Max/2 and |iqr|·3 ≤ Long.Max/2, so the
      // fence difference/sum cannot wrap silently
      .withColumn("cents", expr("coalesce(cast(assert_true(" +
        "abs(cents) <= 2305843009213693951 and " +
        "abs(q1_cents) <= 2305843009213693951 and " +
        "abs(q3_cents) <= 2305843009213693951 and " +
        "abs(iqr_cents) <= 1537228672809129301," +
        " 'IQR fence operands exceed the Long-exact range: move to " +
        "decimal(38)') as bigint), 0) + cents"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        max(col("q1_cents")).as("q1_cents"),
        max(col("q3_cents")).as("q3_cents"),
        max(col("iqr_cents")).as("iqr_cents"),
        sum(when(col("cents") * 2 <
          col("q1_cents") * 2 - col("iqr_cents") * 3, col("c"))
          .otherwise(0L)).cast("long").as("n_low"),
        sum(when(col("cents") * 2 >
          col("q3_cents") * 2 + col("iqr_cents") * 3, col("c"))
          .otherwise(0L)).cast("long").as("n_high"))
      .select(col("event_type"), col("n"), col("q1_cents"),
        col("q3_cents"), col("iqr_cents"), col("n_low"), col("n_high"),
        // ADVICE r15: (n_low + n_high) ≤ n, so bounding n covers the
        // ppm scale-up product
        expr("coalesce(cast(assert_true(" +
          "n <= 9223372036854775807 div 1000000," +
          " 'IQR outlier ppm exceeds the Long-exact e6 range: shard " +
          "the type grain') as bigint), 0) + " +
          "((n_low + n_high) * 1000000) div n").cast("long")
          .as("outlier_ppm"))
  }

  /** X315: Wald–Wolfowitz RUNS TEST on the daily count series per
    * event type — the randomness screen the forecast family is
    * gated by from the other side of [[acfDaily]]: ACF finds
    * structure at a specific lag, the runs test asks the lag-free
    * question "do up/down moves cluster at all?" (too FEW runs =
    * trending/sticky series — smoothing leaves structure on the
    * table; too MANY = oscillation — a period the ACF grid may
    * straddle). Day-over-day moves come off the zero-filled spine
    * (gaps are real zeros); flat days (diff = 0) are excluded, the
    * standard treatment. Emitted in the house exact-moment style —
    * observed runs R plus the CLOSED-FORM null moments as scaled
    * integers (`E[R]·10⁶ = 10⁶ + (2·n₁·n₂·10⁶) div (n₁+n₂)`,
    * `Var[R]·10⁶` from the textbook formula, both floor-divs on
    * non-negative integers) — never a float z-score, so both engines
    * agree bit-for-bit and the consumer applies whatever cut it
    * wants.
    *
    * Shape: the per-type daily aggregate + spine explode, two
    * type-partitioned windows (diff lag, run-break lag over the
    * nonzero-sign subsequence) — partitions bounded by the day span,
    * never a global sort; one final per-type rollup. The house
    * double-space witness bounds the variance numerator before the
    * product forms. */
  def runsTest(events: DataFrame): DataFrame = {
    val filled = dailySpine(events)
      .select(col("event_type"), col("day"),
        coalesce(col("n"), lit(0L)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val signs = filled
      .withColumn("d", col("n") - lag(col("n"), 1).over(w))
      .filter(col("d").isNotNull && col("d") =!= 0L)
      .withColumn("s", signum(col("d")).cast("long"))
    val runs = signs
      .withColumn("brk", when(lag(col("s"), 1).over(w).isNull ||
        col("s") =!= lag(col("s"), 1).over(w), 1L).otherwise(0L))
      .groupBy(col("event_type"))
      .agg(sum(when(col("s") === 1L, 1L).otherwise(0L)).cast("long")
          .as("n_up"),
        sum(when(col("s") === -1L, 1L).otherwise(0L)).cast("long")
          .as("n_down"),
        sum(col("brk")).cast("long").as("n_runs"))
    runs.select(col("event_type"), col("n_up"), col("n_down"),
      col("n_runs"),
      expr("case when n_up + n_down = 0 then 0 else " +
        "1000000 + (2 * n_up * n_down * 1000000) div (n_up + n_down)" +
        " end").cast("long").as("expected_runs_e6"),
      // Var[R] = 2n1n2(2n1n2 − n1 − n2) / ((n1+n2)²(n1+n2−1)); the
      // double-space witness proves both products fit a Long before
      // they form (2n1n2 and its cofactor are each ≤ ~2n², so the
      // n⁴-scale numerator is the binding term)
      expr("case when n_up + n_down < 2 then 0 else " +
        "coalesce(cast(assert_true(" +
        "2.0 * cast(n_up as double) * cast(n_down as double) * " +
        "(2.0 * cast(n_up as double) * cast(n_down as double)) * " +
        "1.0e6 <= 9.0e18 and " +
        "cast(n_up + n_down as double) * cast(n_up + n_down as double)" +
        " * cast(n_up + n_down as double) <= 9.0e18, " +
        "'runs-test variance exceeds the Long-exact range: move to " +
        "decimal(38)') as bigint), 0) + " +
        "((2 * n_up * n_down * " +
        "(2 * n_up * n_down - n_up - n_down) * 1000000) div " +
        "((n_up + n_down) * (n_up + n_down) * (n_up + n_down - 1)))" +
        " end").cast("long").as("var_runs_e6"))
  }

  /** Max lag (days) for [[acfDaily]] — a week of daily lags covers
    * the weekly-seasonality read the forecast family needs. */
  val AcfMaxLag = 7

  /** X311: daily-count AUTOCORRELATION function per event type — the
    * seasonality detector the forecast family (SES/Croston/Holt) is
    * chosen BY: a spike at lag 7 says weekly cadence (use a seasonal
    * model / the X-row seasonal indices), flat ACF says the smoothing
    * family suffices, slow decay says trend (Holt). Per (type, lag ∈
    * 1..[[AcfMaxLag]]): the exact Pearson moments of the
    * (x_t, x_{t−k}) pair series over the ZERO-FILLED per-type daily
    * spine (gaps are real zeros — the [[gapFillDaily]] spine device;
    * skipping gap days would splice non-adjacent days together), with
    * the [[typeCorrelationStats]] output convention: `cov_sign`
    * carries the direction and `acf2_ppm = (cov_n2²·10⁶) div
    * (vx_n2·vy_n2)` the squared magnitude — non-negative by
    * construction, so div ≡ // and no negative-floor-div divergence;
    * the same two-tier pre-overflow witness guards every moment.
    *
    * Shape: one per-type daily aggregate, the per-type spine
    * explode, ONE window pass producing all [[AcfMaxLag]] lag
    * columns (partitioned by type — bounded partitions, no global
    * sort), a `stack` unpivot to (type, lag) grain and one hash
    * aggregate — the lag count is a constant, so work is
    * O(days·maxLag) per type. */
  def acfDaily(events: DataFrame, maxLag: Int = AcfMaxLag): DataFrame = {
    val filled = dailySpine(events)
      .select(col("event_type"), col("day"),
        coalesce(col("n"), lit(0L)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val lagged = filled.select(
      Seq(col("event_type"), col("n")) ++
        (1 to maxLag).map(k => lag(col("n"), k).over(w).as(s"l$k")): _*)
    val pairs = lagged
      .select(col("event_type"), col("n").as("x"),
        expr(s"stack($maxLag, " + (1 to maxLag)
          .map(k => s"cast($k as bigint), l$k").mkString(", ") +
          ") as (lag, y)"))
      .filter(col("y").isNotNull)
    pairs.groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        max(col("x")).cast("long").as("mx"),
        max(col("y")).cast("long").as("my"),
        sum(col("x")).cast("long").as("sx"),
        sum(col("y")).cast("long").as("sy"),
        sum(col("x") * col("y")).cast("long").as("sxy"),
        sum(col("x") * col("x")).cast("long").as("sxx"),
        sum(col("y") * col("y")).cast("long").as("syy"))
      .select(col("event_type"), col("lag"), col("n_pairs"),
        col("mx"), col("my"), col("sx"), col("sy"), col("sxy"),
        col("sxx"), col("syy"),
        expr("n_pairs * sxy - sx * sy").as("cov_n2"),
        expr("n_pairs * sxx - sx * sx").as("vx_n2"),
        expr("n_pairs * syy - sy * sy").as("vy_n2"))
      .select(col("event_type"), col("lag"), col("n_pairs"),
        col("sx"), col("sy"), col("sxy"),
        signum(col("cov_n2")).cast("long").as("cov_sign"),
        // the typeCorrelationStats two-tier witness verbatim: loose
        // double-space bounds prove the moment sums never wrapped,
        // the div-form checks then run on trustworthy integers
        expr("case when vx_n2 = 0 or vy_n2 = 0 then 0 else " +
          "coalesce(cast(assert_true(" +
          "cast(n_pairs as double) * cast(mx as double) * " +
          "cast(mx as double) <= 9.0e18 and " +
          "cast(n_pairs as double) * cast(my as double) * " +
          "cast(my as double) <= 9.0e18 and " +
          "cast(n_pairs as double) * cast(mx as double) * " +
          "cast(my as double) <= 9.0e18 and " +
          "abs(sxy) <= 4611686018427387903 div greatest(n_pairs, 1) " +
          "and abs(sx) <= 4611686018427387903 div " +
          "greatest(abs(sy), 1) and " +
          "sxx <= 9223372036854775807 div greatest(n_pairs, 1) and " +
          "syy <= 9223372036854775807 div greatest(n_pairs, 1) and " +
          "abs(cov_n2) <= 3037000499 and " +
          "cov_n2 * cov_n2 <= 9223372036854775807 div 1000000 and " +
          "vx_n2 <= 9223372036854775807 div vy_n2," +
          " 'acf moments exceed the Long-exact range: shard the day " +
          "spine or move to decimal(38)') as bigint), 0)" +
          " + ((cov_n2 * cov_n2 * 1000000) div (vx_n2 * vy_n2)) end")
          .as("acf2_ppm"))
  }

  /** Daily active / new / cumulative user curve — the product-growth
    * view beside the cohort matrix (X66 answers "does a cohort come
    * back"; this answers "is the user base growing or churning in
    * place"): per day, active users, NEW users (first-ever-seen that
    * day), returning = active − new, and the cumulative distinct user
    * count — which is exactly the running sum of daily new (a user is
    * new exactly once), so the "cumulative distinct" needs no
    * distinct-over-growing-window at all. One (user, day) dedup, one
    * per-user min aggregate, two day-keyed rollups and a prefix
    * window over the day spine — all exact integers. */
  def dailyUsers(events: DataFrame): DataFrame = {
    val ud = graft.core.SessionCache.transient(
      events.select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct())
    val active = ud.groupBy(col("day"))
      .agg(count(lit(1)).cast("long").as("n_active"))
    val firstSeen = ud.groupBy(col("user_id"))
      .agg(min(col("day")).as("day"))
      .groupBy(col("day"))
      .agg(count(lit(1)).cast("long").as("n_new"))
    active.join(firstSeen, Seq("day"), "left")
      .select(col("day"), col("n_active"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .select(col("day"), col("n_active"), col("n_new"),
        (col("n_active") - col("n_new")).as("n_returning"),
        sum(col("n_new")).over(Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long").as("cum_users"))
  }

  /** X304: weekly cohort retention TRIANGLE — the canonical
    * product-retention artifact (cohort week × weeks-since-cohort
    * matrix) beside [[dailyUsers]]' growth curve and the cohort-LTV
    * revenue view: every user joins the cohort of their first active
    * epoch-week, and cell (c, k) counts the cohort-c users active
    * again k weeks later, with the cohort size and the retained ppm.
    * Weeks are integer epoch-week indexes (floor(unix_micros /
    * 7·86400·10⁶) via pmod floordiv — no calendar/locale week
    * truncation, and floor (not truncate-toward-zero) semantics so
    * both engines agree on every boundary including pre-1970).
    *
    * Scale: one (user, week) dedup, one per-user min, one
    * (cohort, offset) rollup, one cohort-size join — all keyed hash
    * aggregates, map-side combinable; the triangle itself is bounded
    * by weeks², never user count. */
  def retentionTriangle(events: DataFrame): DataFrame = {
    // ADVICE r14: Spark `div` truncates toward zero while the oracle's
    // DuckDB `//` floors — pre-1970 timestamps (negative micros) would
    // shift cohort cells. pmod-based floordiv (subtract the always-
    // non-negative remainder, then exact-multiple div) gives floor
    // semantics in exact integers — the lloydCentersE6 discipline.
    val uw = graft.core.SessionCache.transient(
      events.select(col("user_id"),
        expr("(unix_micros(ts) - pmod(unix_micros(ts), " +
          "604800000000)) div 604800000000").as("w"))
        .distinct())
    val cohort = uw.groupBy(col("user_id"))
      .agg(min(col("w")).as("cohort_week"))
    val sizes = cohort.groupBy(col("cohort_week"))
      .agg(count(lit(1)).cast("long").as("cohort_size"))
    uw.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (col("w") - col("cohort_week")).as("offset_weeks"))
      .agg(count(lit(1)).cast("long").as("n_active"))
      .join(sizes, Seq("cohort_week"))
      .select(col("cohort_week").cast("long").as("cohort_week"),
        col("offset_weeks").cast("long").as("offset_weeks"),
        col("n_active"), col("cohort_size"),
        expr("(n_active * 1000000) div cohort_size").cast("long")
          .as("retained_ppm"))
  }

  /** Quintile count for [[rfmSegmentation]]. */
  val RfmTiles = 5

  /** Exact global k-tile of `base` on `v` (ties → `id` asc) WITHOUT a
    * global sort — the X28 decomposition: per-VALUE offsets (a
    * value-domain-sized cumulative sum) + intra-value row_number give
    * the exact global rank; `tile = ((rank−1)·k) div n + 1`. */
  private def tileOn(input: DataFrame, id: String, v: String, k: Int,
      out: String): DataFrame = {
    // three consumers below (offsets, total, join) — without the
    // persist a CHAIN of tileOn calls re-evaluates its upstream 3^depth
    // times (measured 7.4 s for the RFM triple at sf0.1; 0.9 s with it)
    val base = graft.core.SessionCache.transient(input)
    val off = base.groupBy(col(v)).agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(
        sum(col("c")).over(Window.orderBy(col(v))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(v), col("off"))
    val nd = base.agg(count(lit(1)).as("n_total"))
    base.join(broadcast(off), Seq(v))
      .withColumn("grk", col("off") + row_number().over(
        Window.partitionBy(col(v)).orderBy(col(id))))
      .crossJoin(broadcast(nd))
      .withColumn(out, (expr(s"((grk - 1) * $k) div n_total") + 1L)
        .cast("long"))
      .drop("off", "grk", "n_total")
  }

  /** RFM customer segmentation (the CRM/demand-planning workhorse:
    * Recency = days since last order at the corpus as-of, Frequency =
    * order count, Monetary = lifetime cents) with each dimension cut
    * into exact global quintiles — tile 1 = most recent / fewest /
    * lowest, tile 5 the opposite end; `rfm = r·100 + f·10 + m` is the
    * classic 3-digit segment code. Quintiles use [[tileOn]]'s
    * no-global-sort decomposition three times (the X28 discipline —
    * a `ntile` over all customers would force a total sort); ties
    * break on c_custkey, data-independent in both engines. The as-of
    * is the orders' own max date (never wall-clock — the §7.4
    * determinism rule). */
  def rfmSegmentation(orders: DataFrame, k: Int = RfmTiles): DataFrame = {
    val asOf = orders.agg(max(to_date(col("o_orderdate"))).as("as_of"))
    val base = orders
      .select(col("o_custkey").as("c_custkey"),
        to_date(col("o_orderdate")).as("d"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
      .groupBy(col("c_custkey"))
      .agg(max(col("d")).as("last_d"),
        count(lit(1)).cast("long").as("f_orders"),
        sum(col("cents")).cast("long").as("m_cents"))
      .crossJoin(broadcast(asOf))
      .select(col("c_custkey"),
        datediff(col("as_of"), col("last_d")).cast("long").as("r_days"),
        col("f_orders"), col("m_cents"))
    // The three dimensions tile INDEPENDENTLY (r16, guide §2.4): the
    // chained spelling tileOn(tileOn(tileOn(base))) persisted each
    // layer's full output because every layer feeds the next one's
    // three consumers — three persists and nine keyed passes over the
    // customer frame. Tiling each dimension off ONE cached base
    // (2-col projections of it) and joining the three (c_custkey,
    // tile) results back is the same rank definition per dimension —
    // ties still break on c_custkey within equal values — with one
    // persist and three narrow custkey-keyed joins.
    val b = graft.core.SessionCache.transient(base)
    def tiles(v: String, out: String): DataFrame =
      tileOn(b.select(col("c_custkey"), col(v)), "c_custkey", v, k, out)
        .select(col("c_custkey"), col(out))
    val tiled = b
      .join(tiles("r_days", "r_tile"), Seq("c_custkey"))
      .join(tiles("f_orders", "f_tile"), Seq("c_custkey"))
      .join(tiles("m_cents", "m_tile"), Seq("c_custkey"))
    tiled.select(col("c_custkey"), col("r_days"), col("f_orders"),
      col("m_cents"), col("r_tile"), col("f_tile"), col("m_tile"),
      (col("r_tile") * 100 + col("f_tile") * 10 + col("m_tile"))
        .cast("long").as("rfm"))
  }

  /** Per-transition timing profile — the dwell-time matrix behavioral
    * analytics hangs beside the sequence counts (X67 counts WHICH
    * type-paths occur; this measures HOW LONG each hop takes): for
    * every (prev_type, next_type) transition within a user's ordered
    * event stream, the count and min/mean/max gap in whole seconds.
    * Second diffs are floor-of-epoch differences — Spark's
    * `cast(ts as long)` and DuckDB's `date_diff('second', …)` agree
    * exactly — and the mean is `sum div n` (gaps are non-negative by
    * the (ts, event_id) order, so div ≡ //). One user-keyed lag window
    * (the X67 shuffle) + one aggregate on the bounded type-pair key. */
  def transitionTimes(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts"), col("ts").cast("long").as("sec"))
      .select(col("event_type").as("next_type"), col("sec"),
        lag(col("event_type"), 1).over(byUser).as("prev_type"),
        lag(col("sec"), 1).over(byUser).as("prev_sec"))
      .filter(col("prev_type").isNotNull)
      .select(col("prev_type"), col("next_type"),
        (col("sec") - col("prev_sec")).as("gap_s"))
      .groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        min(col("gap_s")).cast("long").as("min_gap_s"),
        max(col("gap_s")).cast("long").as("max_gap_s"),
        expr("sum(gap_s) div count(1)").cast("long").as("mean_gap_s"))
  }

  /** Syntetos-Boylan cut points in e6 units (ADI 1.32, CV² 0.49 —
    * Syntetos, Boylan & Croston 2005, the standard quadrant bounds). */
  val AdiCutE6 = 1320000L
  val Cv2CutE6 = 490000L

  /** Syntetos-Boylan demand-pattern classification — the
    * forecast-method selector demand planners run beside XYZ (A13):
    * the ADI axis (average demand interval — how OFTEN a SKU moves)
    * × the CV² axis (size variability of the months it does move)
    * splits SKUs into smooth / intermittent / erratic / lumpy, which
    * picks SES vs Croston vs SBA downstream. XYZ sees only
    * variability over OBSERVED months; a SKU selling 10 units exactly
    * twice a year is X by CV but needs Croston — the ADI axis is the
    * difference.
    *
    * Integer-exact in both engines: months index as `year·12+month`;
    * ADI·10⁶ = `(span·10⁶) div n_active` (span = inclusive first→last
    * demand month count); CV²·10⁶ = `((n·Σq²−S²)·10⁶) div S²` (the
    * moment identity — non-negative by Cauchy-Schwarz, so div ≡ //),
    * with the house assert on the S² and n·Σq² Long bounds. Monthly
    * quantities are integral doubles ≤ 2⁵³, so their sums are exact
    * before the cast. One monthly aggregate + one per-part rollup —
    * both partitioned by part key. */
  def intermittencyClassification(lineitem: DataFrame): DataFrame = {
    val monthly = lineitem
      .groupBy(col("l_partkey"),
        (year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
          .cast("long").as("mi"))
      .agg(sum(col("l_quantity")).cast("long").as("q"))
    monthly.groupBy(col("l_partkey"))
      .agg(count(lit(1)).cast("long").as("n_active"),
        (max(col("mi")) - min(col("mi")) + 1).cast("long")
          .as("span_months"),
        max(abs(col("q"))).cast("long").as("max_abs_q"),
        sum(col("q")).cast("long").as("s"),
        sum(col("q") * col("q")).cast("long").as("ss"))
      .select(col("l_partkey"), col("n_active"), col("span_months"),
        expr("(span_months * 1000000) div n_active").as("adi_e6"),
        // Pre-overflow witness (VERDICT r13 #2), two-tier: the loose
        // double-space bound n·max|q| ≤ 9e18 proves S never wrapped;
        // the original `s <= √Long.Max` then tests the TRUSTWORTHY
        // sum (a wrapped S lands negative and would sail under the
        // one-sided `<=` without the witness), and via Cauchy-Schwarz
        // (Σq² ≤ (Σq)² on non-negatives) also bounds ss pre-wrap.
        // Cauchy-Schwarz does NOT bound n·ss (ADVICE r14: many-month
        // sparse demand makes n·ss wrap while s and ss both pass), so
        // the n_active ≤ Long.Max div ss conjunct — the div-check
        // structure corrPairs/trendByKey kept — guards the PRODUCT on
        // the now-trustworthy ss before the variance numerator is
        // formed. `and` short-circuits left-to-right, so each
        // conjunct only runs once the earlier ones hold.
        expr("coalesce(cast(assert_true(" +
          "cast(n_active as double) * cast(max_abs_q as double) <= " +
          "9.0e18 and s <= 3037000499 and " +
          "n_active <= 9223372036854775807 div greatest(ss, 1) and " +
          "(n_active * ss - s * s) <=" +
          " 9223372036854775807 div 1000000," +
          " 'intermittency cv2 exceeds the Long-exact range " +
          "(S^2, n*sum(q^2) or the e6-scaled variance numerator " +
          "> 2^63-1): move to decimal(38)')" +
          " as bigint), 0)" +
          " + (((n_active * ss - s * s) * 1000000) div (s * s))")
          .as("cv2_e6"))
      .select(col("l_partkey"), col("n_active"), col("span_months"),
        col("adi_e6"), col("cv2_e6"),
        when(col("adi_e6") < AdiCutE6 && col("cv2_e6") < Cv2CutE6,
          "smooth")
          .when(col("adi_e6") >= AdiCutE6 && col("cv2_e6") < Cv2CutE6,
            "intermittent")
          .when(col("adi_e6") < AdiCutE6, "erratic")
          .otherwise("lumpy").as("demand_class"))
  }

  /** Month-of-year seasonal indices over the orders history — the
    * demand-planning seasonality profile (index 10⁶ = flat month;
    * 1.2·10⁶ = 20 % above the flat share): per calendar month, order
    * count and revenue-cents share scaled by 12. Exact integers:
    * cents = `floor(price·100 + 0.5)`, index = `(x·12·10⁶) div X`,
    * with the house assert on the 12·10⁶ multiplier bound. Two
    * aggregates (12-row and 1-row) — nothing scales with order count
    * but the first scan. */
  def seasonalIndex(orders: DataFrame): DataFrame = {
    val cents = floor(col("o_totalprice") * 100.0 + 0.5).cast("long")
    val m = orders.select(month(col("o_orderdate")).cast("long").as("m"),
        cents.as("cents"))
      .groupBy(col("m"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        max(abs(col("cents"))).cast("long").as("max_abs_cents"),
        sum(col("cents")).cast("long").as("cents"))
    val tot = m.agg(sum(col("n_orders")).cast("long").as("tn"),
      sum(col("cents")).cast("long").as("tc"))
    m.crossJoin(broadcast(tot))
      .select(col("m"), col("n_orders"), col("cents"),
        // Pre-overflow witness (VERDICT r13 #2), two-tier: the loose
        // double-space bound n_orders·max|cents| ≤ 9e18 proves the
        // month sum never wrapped (max|cents| is a per-order
        // quantization, never a sum); the original 12e6-headroom
        // checks then test the TRUSTWORTHY sum — a wrapped cents
        // lands negative and would sail under the one-sided `<=`
        // without the witness. Every month passing also bounds tc
        // (≤ 12 trustworthy month sums).
        expr("coalesce(cast(assert_true(" +
          "cast(n_orders as double) * cast(max_abs_cents as double)" +
          " <= 9.0e18 and" +
          " cents <= 9223372036854775807 div 12000000 and" +
          " n_orders <= 9223372036854775807 div 12000000," +
          " 'seasonal index exceeds the Long-exact range: shard the " +
          "sums or move to decimal(38)') as bigint), 0)" +
          " + ((n_orders * 12000000) div tn)").as("count_idx_e6"),
        // guard duplicated HERE, not only in count_idx_e6: a consumer
        // projecting revenue_idx_e6 alone lets Catalyst prune the
        // other column — and its assert with it (the FuzzyMatch
        // projection-pruning trap)
        expr("coalesce(cast(assert_true(" +
          "cast(n_orders as double) * cast(max_abs_cents as double)" +
          " <= 9.0e18 and" +
          " cents <= 9223372036854775807 div 12000000," +
          " 'seasonal index exceeds the Long-exact range: shard the " +
          "sums or move to decimal(38)') as bigint), 0)" +
          " + ((cents * 12000000) div tc)").as("revenue_idx_e6"))
  }

  /** Alarm threshold multiple of the drift allowance for [[cusumScores]]. */
  val CusumAlarmMult = 3L

  /** One-sided CUSUM change-point scores over the daily per-type
    * event-count series — the sequential drift detector (Page 1954)
    * that flags a SUSTAINED upward shift a spike detector (X32) and a
    * rolling window (X54) both miss: small per-day excesses accumulate
    * until the score clears the alarm bar. The sequential recurrence
    * `S_t = max(0, S_{t−1} + (x_t − k))` is deliberately spelled in its
    * CLOSED FORM `S_t = C_t − min(0, min_{j≤t} C_j)` (C = prefix sum of
    * deviations) so it is two plain windows instead of a row-at-a-time
    * loop — order-free integer arithmetic, oracle-identical. The
    * allowance k is the per-type mean daily count (`total div n_days`,
    * integer): deviations are vs the series' own level. Composes with
    * [[gapFillDaily]] (X103) when a dense daily spine matters — here
    * the series is the observed days.
    *
    * Shape: one keyed daily aggregate, a 1-row-per-type allowance
    * join, two windows partitioned by type — all linear, partitioned
    * by the bounded type key. */
  def cusumScores(events: DataFrame,
      alarmMult: Long = CusumAlarmMult): DataFrame = {
    val daily = events
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("long").as("n"))
    val allow = daily.groupBy(col("event_type"))
      .agg(expr("sum(n) div count(1)").cast("long").as("k"))
    val pre = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(allow, Seq("event_type"))
      .select(col("event_type"), col("day"), col("n"),
        (col("n") - col("k")).as("dev"), col("k"))
      .select(col("event_type"), col("day"), col("n"), col("dev"), col("k"),
        sum(col("dev")).over(pre).cast("long").as("cum"))
      .select(col("event_type"), col("day"), col("n"), col("dev"),
        (col("cum") - least(lit(0L), min(col("cum")).over(pre)))
          .cast("long").as("cusum"),
        col("k"))
      .select(col("event_type"), col("day"), col("n"), col("dev"),
        col("cusum"),
        when(col("cusum") > col("k") * alarmMult, lit(1L))
          .otherwise(lit(0L)).as("is_alarm"))
  }

  /** Integer autocorrelation of the daily count series per key — the
    * periodicity screen ("is this feed weekly-shaped?") without a
    * single transcendental: raw lag dot-products Σnₜ·nₜ₊ₖ against the
    * lag-0 energy Σnₜ², reported as the e6-scaled ratio (truncating
    * div, nonneg). A weekly feed shows r₇ ≫ r₁; a flat one shows both
    * ≈ (overlap fraction)·10⁶. Normalization by energy (not the
    * textbook mean-centered variance) keeps every term an exact
    * integer — the STATISTIC IS DEFINED this way, identically in both
    * engines.
    *
    * Scale shape: one aggregate to (key, day) grain — the series frame
    * is calendar-sized per key no matter how many raw events — then
    * each lag is one keyed equi-join of that tiny frame against
    * itself on (key, day + k). */
  def dailyAutocorrelation(events: DataFrame, keyCol: String,
      lags: Seq[Int] = Seq(1, 7)): DataFrame = {
    val daily = graft.core.SessionCache.transient(events
      .select(col(keyCol).as("k"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("k"), col("day"))
      .agg(count(lit(1)).cast("long").as("n"))
      // the guard rides the value every consumer reads, so pruning
      // cannot drop it: Σn²·10⁶ stays Long-exact only while daily
      // counts stay ≤ ~5·10⁵ over a month-scale window
      .select(col("k"), col("day"),
        expr("coalesce(cast(assert_true(n <= 500000," +
          " 'daily-count autocorrelation exceeds the Long-exact " +
          "range: rescale counts (div 1000) or move to decimal(38)')" +
          " as bigint), 0) + n").as("n")))
    val base = daily.groupBy(col("k"))
      .agg(count(lit(1)).cast("long").as("n_days"),
        max(col("n")).cast("long").as("max_n"),
        sum(col("n") * col("n")).cast("long").as("energy"))
      // second overflow gate: the ratio computes dot·10⁶, and
      // dot ≤ energy (rearrangement inequality on the same series),
      // so energy·10⁶ fitting Long bounds every lag's numerator; the
      // per-day cap above bounds one term, not the SUM over many days.
      // Pre-overflow witness (VERDICT r13 #2): n_days·max(n)²·10⁶ in
      // double space bounds the energy sum BEFORE a wrap — testing
      // the summed energy itself would let a wrapped (negative) value
      // sail under the one-sided `<=`.
      .select(col("k"),
        expr("coalesce(cast(assert_true(" +
          "cast(n_days as double) * cast(max_n as double) * " +
          "cast(max_n as double) * 1000000.0 <= 9.0e18," +
          " 'autocorrelation energy exceeds the Long-exact e6 range:" +
          " rescale counts or shorten the window') as bigint), 0)" +
          " + n_days").as("n_days"),
        col("energy"))
    lags.foldLeft(base) { (acc, lag) =>
      val dot = daily
        .join(daily.select(col("k"), (col("day") - lag).as("day"),
          col("n").as("n2")), Seq("k", "day"))
        .groupBy(col("k"))
        .agg(sum(col("n") * col("n2")).cast("long").as(s"dot$lag"))
      acc.join(dot, Seq("k"), "left")
        .withColumn(s"dot$lag", coalesce(col(s"dot$lag"), lit(0L)))
        .withColumn(s"r${lag}_e6",
          expr(s"(dot$lag * 1000000) div energy"))
    }.withColumnRenamed("k", keyCol)
  }

  /** Bucket width for [[weightedMedian]]'s first pass, in cents —
    * $1,000 buckets put the synthetic price domain (~0..110k dollars)
    * into ~110 buckets per group. */
  val WMedianBucketCents = 100000L

  /** The (brand, price_cents, w_units, orderkey, linenumber, bucket)
    * base frame [[weightedMedian]] and [[weightedQuantiles]] both
    * histogram and refine over — one projection+broadcast-join pass
    * over lineitem, shared by both queries via the session cache
    * (r16, guide §2.4; previously each query re-derived and re-
    * persisted it per bench pass). */
  def sharedWeightedBase(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.core.SessionCache.cached(spark, s"wbase:$dir")(
      weightedBaseOf(graft.core.Tables(spark, dir, "lineitem"),
        graft.core.Tables(spark, dir, "part")))

  private def weightedBaseOf(lineitem: DataFrame, part: DataFrame,
      bucketCents: Long = WMedianBucketCents): DataFrame =
    lineitem
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        floor(col("l_extendedprice") * 100.0 + 0.5).cast("long")
          .as("price_cents"),
        floor(col("l_quantity") * 100.0 + 0.5).cast("long").as("w_units"),
        col("l_orderkey"), col("l_linenumber"))
      .withColumn("bucket", expr(s"price_cents div $bucketCents"))

  /** EXACT weighted median (lower median) of line price weighted by
    * quantity, per brand — without ever sorting a whole group in one
    * task. The naive form (`cumsum(weight) OVER (PARTITION BY brand
    * ORDER BY price)`) is a correctness-equal scale trap: brand
    * cardinality is ~25, so each window partition holds 1/25 of the
    * FACT table and one task sorts billions of rows at 100 TB. This is
    * the standard two-pass refinement instead:
    *
    *  1. histogram pass — weights aggregate to (brand, price-bucket)
    *     grain (map-side combinable; ≤ ~110 buckets/brand), and a
    *     window over that TINY frame finds each brand's
    *     median-crossing bucket and the cumulative weight before it;
    *  2. refine pass — only the crossing bucket's rows (≈1/110 of the
    *     group) sort in a window, offset by the carried-in prefix, and
    *     the median is the cheapest price whose offset cumulative
    *     weight reaches ⌈total/2⌉.
    *
    * Exactness: the bucket key is monotone in price, so within-bucket
    * cumulative + before-bucket prefix ≡ the global cumulative at every
    * row; ties are impossible across buckets (equal prices share a
    * bucket) and broken within one by (orderkey, linenumber). Weights
    * quantize to integer centiunits and prices to cents up front, so
    * both engines accumulate identical integers in any order. */
  def weightedMedian(lineitem: DataFrame, part: DataFrame,
      bucketCents: Long = WMedianBucketCents,
      baseIn: Option[DataFrame] = None): DataFrame = {
    val base = baseIn.getOrElse(graft.core.SessionCache.transient(
      weightedBaseOf(lineitem, part, bucketCents)))
    val hist = base.groupBy(col("p_brand"), col("bucket"))
      .agg(sum(col("w_units")).cast("long").as("bw"))
    val hscan = Window.partitionBy(col("p_brand")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val crossing = hist
      .withColumn("cum_through", sum(col("bw")).over(hscan).cast("long"))
      .withColumn("totw",
        sum(col("bw")).over(Window.partitionBy(col("p_brand")))
          .cast("long"))
      .withColumn("cum_before", (col("cum_through") - col("bw")))
      .withColumn("threshold", expr("(totw + 1) div 2"))
      .filter(col("cum_through") >= col("threshold") &&
        col("cum_before") < col("threshold"))
      .select(col("p_brand"), col("bucket"), col("cum_before"),
        col("threshold"), col("totw"))
    val rscan = Window.partitionBy(col("p_brand"))
      .orderBy(col("price_cents"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(broadcast(crossing), Seq("p_brand", "bucket"))
      .withColumn("cumw",
        col("cum_before") + sum(col("w_units")).over(rscan).cast("long"))
      .filter(col("cumw") >= col("threshold"))
      .groupBy(col("p_brand"))
      .agg(min(col("price_cents")).cast("long").as("wmedian_cents"),
        max(col("totw")).cast("long").as("total_weight_units"))
  }

  /** [[weightedMedian]] generalized to a VECTOR of weighted quantiles
    * (lower quantile at each q%: the cheapest price whose cumulative
    * weight reaches ⌈total·q/100⌉) — the p25/p50/p75 ladder ops teams
    * actually ask of a price distribution, still without sorting any
    * whole group: ONE histogram pass serves every q (each q picks its
    * own crossing bucket from the same tiny bucket frame), and the
    * refine pass sorts only the union of crossing buckets, windowed
    * per (group, q) with each q's prefix weight carried in. Integer
    * thresholds: `(totw·q + 99) div 100` ≡ ceil, which at q=50
    * reproduces the median's `(totw+1) div 2` exactly. */
  def weightedQuantiles(lineitem: DataFrame, part: DataFrame,
      qPcts: Seq[Int] = Seq(25, 50, 75),
      bucketCents: Long = WMedianBucketCents,
      baseIn: Option[DataFrame] = None): DataFrame = {
    require(qPcts.nonEmpty && qPcts.forall(q => q > 0 && q < 100),
      "weightedQuantiles: q percentages must be in (0, 100)")
    import lineitem.sparkSession.implicits._
    val base = baseIn.getOrElse(graft.core.SessionCache.transient(
      weightedBaseOf(lineitem, part, bucketCents)))
    val hscan = Window.partitionBy(col("p_brand")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hist = base.groupBy(col("p_brand"), col("bucket"))
      .agg(sum(col("w_units")).cast("long").as("bw"))
      .withColumn("cum_through", sum(col("bw")).over(hscan).cast("long"))
      .withColumn("totw",
        sum(col("bw")).over(Window.partitionBy(col("p_brand")))
          .cast("long"))
    val crossing = hist
      .crossJoin(broadcast(
        qPcts.toDF("q").select(col("q").cast("long").as("q"))))
      .withColumn("threshold", expr("(totw * q + 99) div 100"))
      .filter(col("cum_through") >= col("threshold") &&
        (col("cum_through") - col("bw")) < col("threshold"))
      .select(col("p_brand"), col("bucket"), col("q"),
        (col("cum_through") - col("bw")).as("cum_before"),
        col("threshold"), col("totw"))
    val rscan = Window.partitionBy(col("p_brand"), col("q"))
      .orderBy(col("price_cents"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(broadcast(crossing), Seq("p_brand", "bucket"))
      .withColumn("cumw",
        col("cum_before") + sum(col("w_units")).over(rscan).cast("long"))
      .filter(col("cumw") >= col("threshold"))
      .groupBy(col("p_brand"), col("q"))
      .agg(min(col("price_cents")).cast("long").as("wq_cents"),
        max(col("totw")).cast("long").as("total_weight_units"))
  }

  /** Regular-grid resample with forward fill (X172) — LOCF ("last
    * observation carried forward"), the alignment step every
    * time-series feature pipeline runs before lags/rolling windows
    * make sense: a key that skipped a day must report its last known
    * value on that day, not silently drop the row (which would shift
    * every downstream lag). Input is an observation frame at
    * `(key, day, cents)` grain; output is the DENSE per-key daily
    * grid over the corpus' own [min, max] day span with
    * `filled_cents` = the last observation at-or-before each grid
    * day, `is_obs` / `is_filled` flags, and NULL before a key's first
    * observation (LOCF has nothing to carry there — backfill is a
    * different, future-leaking policy this operator deliberately
    * refuses).
    *
    * Scale: the spine is |keys|·|days| rows — calendar-sized per key
    * regardless of raw event volume (the X159 discipline); the span
    * is a 1-row broadcast (JustifiedCross class), the fill one
    * `last(ignoreNulls)` window per key partition. */
  def locfDaily(obs: DataFrame): DataFrame = {
    val span = obs.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = obs.select(col("key")).distinct()
      .crossJoin(broadcast(span))
      .select(col("key"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
    spine.join(obs, Seq("key", "day"), "left")
      .withColumn("filled_cents",
        last(col("cents"), ignoreNulls = true)
          .over(Window.partitionBy(col("key")).orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("key"), col("day"),
        when(col("cents").isNotNull, 1L).otherwise(0L).as("is_obs"),
        when(col("cents").isNull && col("filled_cents").isNotNull, 1L)
          .otherwise(0L).as("is_filled"),
        col("filled_cents"))
  }

  /** Regular-grid resample with LINEAR interpolation (X214) — the
    * smooth-fill companion to [[locfDaily]]: where LOCF holds the last
    * value flat (right for state-like series — a price stays the
    * price), linear interpolation draws the straight line between the
    * surrounding observations (right for flow-like series — volume,
    * temperature). Same dense per-key daily spine; `interp_cents` is
    * exact integer arithmetic — `pv + (nv−pv)·(day−pd) div (nd−pd)`
    * with the sign-split spelling (truncating `div` and flooring `//`
    * disagree below zero, and a falling series makes the numerator
    * negative) — and NULL outside the key's [first, last] observation
    * span (extrapolation invents trend; this operator refuses, the
    * same contract as LOCF's no-backfill rule).
    *
    * Scale: spine is |keys|·|days| (calendar-sized per key, X159);
    * four `last/first(ignoreNulls)` passes over ONE key-partition
    * window pair; numerator overflow asserted against the span. */
  def interpDaily(obs: DataFrame): DataFrame = {
    val span = obs.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = obs.select(col("key")).distinct()
      .crossJoin(broadcast(span))
      .select(col("key"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val wPrev = Window.partitionBy(col("key")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col("key")).orderBy(col("day"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    spine.join(obs, Seq("key", "day"), "left")
      .withColumn("pv", last(col("cents"), ignoreNulls = true).over(wPrev))
      .withColumn("pd", last(when(col("cents").isNotNull, col("day")),
        ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("cents"), ignoreNulls = true).over(wNext))
      .withColumn("nd", first(when(col("cents").isNotNull, col("day")),
        ignoreNulls = true).over(wNext))
      .select(col("key"), col("day"),
        when(col("cents").isNotNull, 1L).otherwise(0L).as("is_obs"),
        when(col("pv").isNull || col("nv").isNull,
          lit(null).cast("long"))
          .when(col("nd") === col("pd"), col("pv"))
          .otherwise(expr(
            // |nv−pv|·(day−pd) must stay Long-exact across the gap
            "coalesce(cast(assert_true(abs(nv - pv) <= " +
              "9223372036854775807 div greatest(nd - pd, 1), " +
              "'interp numerator exceeds the Long-exact range') " +
              "as bigint), 0) + pv + " +
              "(case when nv < pv then -1 else 1 end) * " +
              "(abs((nv - pv) * (day - pd)) div (nd - pd))"))
          .cast("long").as("interp_cents"))
  }

  /** Top-k frequent event paths (X169) — the sequential-pattern view
    * one level up from [[transitionMatrix]]'s pairs: the most common
    * n-event runs ("view > view > purchase") across every user's
    * time-ordered stream, the input to funnel design and next-action
    * models. Windowed lead()s stitch each position's n-gram — the
    * same ONE sequence-key shuffle the transition matrix pays, no
    * explode, no self-join — then the path counts aggregate map-side
    * and only the global top-k survives a TakeOrdered (count desc,
    * path asc: a deterministic total order, so rank is replayable).
    * Order columns must form a unique per-key total order. */
  def topPaths(df: DataFrame, key: String, orderCols: Seq[String],
      state: String, n: Int = 3, k: Int = 20): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(orderCols.map(col): _*)
    val steps = (0 until n).map(i =>
      if (i == 0) col(state) else lead(col(state), i).over(w))
    df.withColumn("_path", concat_ws(" > ", steps: _*))
      .withColumn("_last", lead(col(state), n - 1).over(w))
      .filter(col("_last").isNotNull)
      .groupBy(col("_path").as("path"))
      .agg(count(lit(1)).cast("long").as("n_paths"))
      .orderBy(col("n_paths").desc, col("path").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_paths").desc, col("path").asc))
        .cast("long"))
  }

  /** Exponentially time-decayed engagement score (X166) — the
    * recency-weighted feature behind churn models and ranking
    * freshness: recent activity counts fully, older activity
    * geometrically less. The decay is a WEEKLY HALF-LIFE implemented
    * as an integer shift — weight = 10⁶ >> age_weeks — because 2^-k
    * is the one exponential both engines reproduce bit-for-bit
    * (transcendental exp() would make the score un-hashable); weights
    * bottom out at 0 past week 19, which IS the defined statistic
    * (a year-old click contributes nothing, identically everywhere).
    *
    * The as-of anchor is the corpus' own max event date (the §7.4
    * determinism rule — never wall-clock), a 1-row broadcast. Scale:
    * map-only weighting + one keyed aggregate; everything exact
    * integers (value in cents × e6 weight). */
  def decayScores(events: DataFrame, key: String, tsCol: String,
      valueCol: String): DataFrame = {
    val asOf = events.agg(max(to_date(col(tsCol))).as("as_of"))
    events.select(col(key), to_date(col(tsCol)).as("d"),
        floor(col(valueCol) * 100.0 + 0.5).cast("long").as("cents"))
      .crossJoin(broadcast(asOf))
      .withColumn("w", expr("shiftright(1000000L, " +
        "cast(least(datediff(as_of, d) div 7, 62) as int))"))
      .groupBy(col(key))
      .agg(count(lit(1)).cast("long").as("n_events"),
        sum(col("cents")).cast("long").as("raw_cents"),
        sum(col("cents") * col("w")).cast("long").as("decayed_e6"))
  }

  /** First-order Markov transition matrix (X165) — the
    * sequence-modeling summary behind next-event prediction, funnel
    * leak analysis and session synthesis: for each user's event
    * stream in time order, count (state → next state) transitions
    * and the row-normalized probability in exact e6 integer units
    * (`p_e6 = n·10⁶ div row_total`).
    *
    * Scale: ONE shuffle on the sequence key for the lead() window
    * (frames are per-user, bounded by a user's own history), then the
    * transition aggregate is map-side combinable down to a
    * |states|² frame — the row-total window runs on THAT tiny frame,
    * never the events. Order ties are impossible by contract: the
    * order columns must form a unique total order per key (event ids
    * break ts ties here), else which event "follows" which is
    * partition-order-dependent. */
  def transitionMatrix(df: DataFrame, key: String,
      orderCols: Seq[String], state: String): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(orderCols.map(col): _*)
    df.withColumn("_next", lead(col(state), 1).over(w))
      .filter(col("_next").isNotNull)
      .groupBy(col(state).as("from_state"), col("_next").as("to_state"))
      .agg(count(lit(1)).cast("long").as("n_trans"))
      .withColumn("from_total", sum(col("n_trans"))
        .over(Window.partitionBy(col("from_state"))).cast("long"))
      .withColumn("p_e6", expr("(n_trans * 1000000) div from_total"))
  }

  /** Order statistics kept by [[tailIndexBits]]. */
  val HillK = 100

  /** Heavy-tail (Hill) index in integer bits (X223) — "how heavy is
    * the customer-spend tail": the Hill estimator (Hill 1975,
    * `H = (1/k)·Σ ln(x_i / x_{k+1})` over the top-k order statistics)
    * computed in floor-log2 BITS (the X110 integer-log device), so
    * every term is an exact small integer and the statistic — defined
    * AS its bits form — replays identically in any engine. `α ≈ 1/H`
    * is the Pareto tail exponent: small H / large α = thin tail,
    * H ≈ 1 bit ≈ α 1 = extreme concentration. Boundary ties are
    * harmless by construction: a tied row's `bits(x) − bits(x_ref)`
    * is 0, so WHICH tied rows the limit keeps cannot change the sum.
    *
    * Scale shape: the member-grain aggregate reduces rows to the
    * entity domain; `orderBy(desc).limit(k+1)` plans as TakeOrdered
    * (per-partition top-k + a k-sized driver merge — no global sort,
    * the X37 discipline); everything after runs on ≤ k+1 rows. */
  def tailIndexBits(values: DataFrame, valueCol: String,
      k: Int = HillK): DataFrame = {
    val top = graft.core.SessionCache.transient(
      values.select(col(valueCol).cast("long").as("x"))
        .filter(col("x") > 0)
        .orderBy(desc("x")).limit(k + 1))
    top.crossJoin(broadcast(top.agg(min(col("x")).as("xref"),
        count(lit(1)).cast("long").as("m"))))
      .agg(max(col("m")).as("m"),
        sum(length(bin(col("x"))) - length(bin(col("xref"))))
          .cast("long").as("sum_bits"))
      .select((col("m") - 1L).cast("long").as("k_used"),
        col("sum_bits"),
        expr("(sum_bits * 1000000) div greatest(m - 1, 1)")
          .cast("long").as("hill_bits_e6"),
        expr("((m - 1) * 1000000) div greatest(sum_bits, 1)")
          .cast("long").as("alpha_e6"))
  }

  /** Kaplan–Meier lifetable for view→purchase conversion delay
    * (X209) — the right-censoring-aware form of "how long until a
    * user converts": a plain average over converters only is
    * survivorship-biased (users who never purchased carry
    * information — they survived AT LEAST their observation span).
    * The lifetable emits, per whole-day duration, the risk set
    * (users still unconverted and observed), conversions, censorings
    * (last event reached without purchase) and the exact integer
    * hazard `d·10⁶ div n_risk` — the KM estimator's INPUT moments
    * (the X129/X146 discipline: the telescoping survival product is
    * float, so it stays with the consumer; every emitted number is
    * an exact count or a floor-divided ppm).
    *
    * Convention: duration = first purchase at-or-after the first
    * view, in floor days; censored users contribute their observed
    * span; same-day censorings remain in that day's risk set.
    *
    * Scale shape: two user-grain aggregates and one key equi-join
    * build the duration frame; the lifetable is DAY-grain, so the
    * descending risk cumsum is a window over the bounded duration
    * domain (the calendar-sized-frame discipline — |days| rows,
    * deliberately partitionless). */
  def lifetable(events: DataFrame): DataFrame = {
    val perUser = events.groupBy(col("user_id")).agg(
      min(when(col("event_type") === "view", expr("unix_micros(ts)")))
        .as("t0"),
      max(expr("unix_micros(ts)")).as("t_last"))
    val firstPur = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("unix_micros(ts)").as("tp"))
      .join(perUser.select(col("user_id"), col("t0")), Seq("user_id"))
      .filter(col("t0").isNotNull && col("tp") >= col("t0"))
      .groupBy(col("user_id")).agg(min(col("tp")).as("tp"))
    val durations = perUser.filter(col("t0").isNotNull)
      .join(firstPur, Seq("user_id"), "left")
      .select(
        when(col("tp").isNotNull, expr("(tp - t0) div 86400000000"))
          .otherwise(expr("(t_last - t0) div 86400000000"))
          .cast("long").as("t_days"),
        when(col("tp").isNotNull, 1L).otherwise(0L).cast("long")
          .as("is_event"))
    val byDay = durations.groupBy(col("t_days")).agg(
      sum(col("is_event")).cast("long").as("n_events"),
      sum(lit(1L) - col("is_event")).cast("long").as("n_censored"))
    byDay
      .withColumn("n_risk",
        sum(col("n_events") + col("n_censored")).over(
          Window.orderBy(desc("t_days")).rowsBetween(
            Window.unboundedPreceding, Window.currentRow)).cast("long"))
      .select(col("t_days"), col("n_risk"), col("n_events"),
        col("n_censored"),
        expr("(n_events * 1000000) div n_risk").cast("long")
          .as("hazard_ppm"))
  }

  /** Markov next-event prediction accuracy (X201) — the EVAL half of
    * [[transitionMatrix]] (X165): a first-order transition matrix is
    * only useful if it predicts, so train the argmax predictor on one
    * user cohort and measure top-1 hit rate on the other — the
    * in-engine model-eval loop (fit on split A, score on split B)
    * every curation pipeline runs before trusting a behavioral model.
    * Split is user-hash parity (`key % 2` — deterministic,
    * SF-invariant, and GROUP-disjoint: a user's whole sequence lands
    * on one side, so no transition leaks between train and eval).
    * Predictor: per from-state, the argmax-count next state, ties →
    * lexicographically smallest (deterministic in any engine). Eval
    * states unseen in training predict nothing and score 0 hits.
    *
    * Scale shape: transitions come from one user-key window (the X165
    * pass), training counts are a \|types\|²-grain map-side-combinable
    * aggregate, the predictor is a \|types\|-row broadcast, and the
    * verdict is one more \|types\|-grain aggregate — nothing beyond
    * the window touches row grain twice. */
  def markovEval(df: DataFrame, key: String, orderCols: Seq[String],
      state: String): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(orderCols.map(col): _*)
    val pairs = df.withColumn("_next", lead(col(state), 1).over(w))
      .filter(col("_next").isNotNull)
      .select(col(key).as("k"), col(state).as("from_state"),
        col("_next").as("to_state"))
    val pred = pairs.filter(col("k") % 2 === 0)
      .groupBy(col("from_state"), col("to_state"))
      .agg(count(lit(1)).cast("long").as("n"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("from_state"))
          .orderBy(desc("n"), asc("to_state"))))
      .filter(col("rn") === 1)
      .select(col("from_state"), col("to_state").as("predicted"))
    val per = pairs.filter(col("k") % 2 === 1)
      .join(broadcast(pred), Seq("from_state"), "left")
      .groupBy(col("from_state"))
      .agg(max(col("predicted")).as("predicted"),
        count(lit(1)).cast("long").as("n_eval"),
        sum(when(col("to_state") === col("predicted"), 1L)
          .otherwise(0L)).cast("long").as("n_hits"))
    per.unionByName(per.agg(
        sum(col("n_eval")).cast("long").as("n_eval"),
        sum(col("n_hits")).cast("long").as("n_hits"))
      .select(lit("__all__").as("from_state"),
        lit(null).cast("string").as("predicted"),
        col("n_eval"), col("n_hits")))
      .select(col("from_state"), col("predicted"), col("n_eval"),
        col("n_hits"),
        expr("(n_hits * 1000000) div greatest(n_eval, 1)")
          .cast("long").as("hit_ppm"))
  }

  /** Per-key Theil–Sen robust trend (X182) — the median of all
    * pairwise slopes, the robust companion to [[trendByKey]]'s OLS:
    * one wild month (a strike, a data glitch) swings a least-squares
    * slope arbitrarily but moves the pairwise-slope MEDIAN almost
    * nothing (breakdown point ~29%). The screen to trust when series
    * quality is suspect — and disagreement between the two slopes is
    * itself an outlier alarm.
    *
    * Scale: pairs are generated per key (one keyed self-join) and the
    * pair count is quadratic in the key's SERIES length — calendar-
    * bounded (120 months → ≤7140 pairs), never row-bounded, and a
    * filter-borne assert caps series length loudly rather than
    * letting a mis-grained input go quadratic in rows. Slope is one
    * IEEE double division (bit-identical cross-engine); the median is
    * `percentile` ≡ `quantile_cont` (X26), round-6. */
  def theilSenByKey(series: DataFrame, key: String, x: String,
      y: String, maxPoints: Int = 1000): DataFrame = {
    val counted = series.withColumn("_np",
      count(lit(1)).over(Window.partitionBy(col(key))))
    val guarded = counted.filter(
      expr(s"coalesce(assert_true(_np <= $maxPoints, " +
        "'theil-sen series too long: the pair set is quadratic in " +
        "series length — aggregate to a coarser grain'), true)"))
    val a = guarded.select(col(key), col(x).as("x1"), col(y).as("y1"))
    val b = guarded.select(col(key), col(x).as("x2"), col(y).as("y2"))
    a.join(b, Seq(key))
      .filter(col("x1") < col("x2"))
      .withColumn("slope",
        (col("y2") - col("y1")).cast("double") /
          (col("x2") - col("x1")).cast("double"))
      .groupBy(col(key))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        round(expr("percentile(slope, 0.5)"), 6).as("ts_slope"))
  }

  /** Per-key OLS trend (X164) — "is this series growing or fading"
    * over every key at once, the demand-planning screen a forecaster
    * runs before choosing models: slope of y over x per key from the
    * SUFFICIENT STATISTICS (n, Σx, Σy, Σxy, Σx²) — one
    * map-side-combinable aggregate per key, no per-key sort, no
    * per-key model fit. slope = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²),
    * emitted in exact e6 integer units.
    *
    * Exactness devices: x re-bases to the key's own min (slope is
    * shift-invariant, and small x keeps every product Long-exact —
    * guard asserted); the numerator CAN be negative and truncating
    * div differs cross-engine below zero, so the division is spelled
    * sign·(|num|·10⁶ div den) — both engines agree on abs/sign/div of
    * non-negatives. den = 0 (a single-x key) emits NULL.
    *
    * Input contract: `series` at (key, x) grain with LONG x and y. */
  def trendByKey(series: DataFrame, key: String, x: String,
      y: String): DataFrame = {
    val based = series
      .withColumn("_x", col(x) - min(col(x))
        .over(Window.partitionBy(col(key))))
    val st = based.groupBy(col(key))
      .agg(count(lit(1)).cast("long").as("n"),
        max(abs(col("_x"))).cast("long").as("max_ax"),
        max(abs(col(y))).cast("long").as("max_ay"),
        sum(col("_x")).cast("long").as("sx"),
        sum(col(y)).cast("long").as("sy"),
        sum(col("_x") * col(y)).cast("long").as("sxy"),
        sum(col("_x") * col("_x")).cast("long").as("sxx"))
    st.select(col(key), col("n").as("n_points"),
      // Pre-overflow witness (VERDICT r13 #2), two-tier: the loose
      // double-space bounds n·max|x|·max|y| / n·max|x|² / n·max|y|
      // ≤ 9e18 prove every moment sum never wrapped — the old guard
      // tested |n·Σxy − Σx·Σy| computed FROM possibly-wrapped sums.
      // The actual-value div-form checks then run on TRUSTWORTHY
      // integers: |n·Σxy| and |Σx·Σy| each ≤ Long.Max/2 so their
      // difference cannot wrap, n·Σx² ≤ Long.Max with (Σx)² ≤ n·Σx²
      // by Cauchy-Schwarz for the denominator, then the original e6
      // bar on the true numerator.
      expr("coalesce(cast(assert_true(" +
        "cast(n as double) * cast(max_ax as double) * " +
        "cast(max_ay as double) <= 9.0e18 and " +
        "cast(n as double) * cast(max_ax as double) * " +
        "cast(max_ax as double) <= 9.0e18 and " +
        "cast(n as double) * cast(max_ay as double) <= 9.0e18 and " +
        "abs(sxy) <= 4611686018427387903 div greatest(n, 1) and " +
        "abs(sx) <= 4611686018427387903 div greatest(abs(sy), 1) and " +
        "sxx <= 9223372036854775807 div greatest(n, 1) " +
        "and abs(n * sxy - sx * sy) <= 9223372036854775807 div 1000000," +
        " 'trend numerator exceeds the Long-exact e6 range: rescale " +
        "y or re-base x') as bigint), 0) + " +
        "(case when n * sxx - sx * sx = 0 then null else " +
        "(case when n * sxy - sx * sy < 0 then -1 else 1 end) * " +
        "((abs(n * sxy - sx * sy) * 1000000) div (n * sxx - sx * sx))" +
        " end)").as("slope_e6"),
      // same sign-split as slope_e6: truncating `div` and flooring `//`
      // disagree below zero, and sy CAN be negative (returns, credits)
      expr("(case when sy < 0 then -1 else 1 end) * (abs(sy) div n)")
        .as("avg_y"))
  }

  /** Daily activity streaks per user (X220) — the gaps-and-islands
    * read behind every "N-day streak" retention metric: consecutive
    * active DAYS group into islands via the anchor device (day minus
    * per-user day rank is constant exactly within a run), giving per
    * user the active-day count, streak count, longest streak, and the
    * CURRENT streak (the island ending on the corpus' last observed
    * day, else 0 — a streak is "current" relative to when the data
    * ends, not the wall clock, so the result replays). Day grain, not
    * session grain: two visits one day are one streak day, and the
    * engagement ladder (streak freezes, re-engagement nudges) keys on
    * exactly this number.
    *
    * Scale: one distinct to (user, day) grain — the only fact-sized
    * shuffle; the rank window and the island rollup both partition by
    * user; output is user grain; the 1-row last-day scalar joins by
    * broadcast. */
  def activityStreaks(events: DataFrame): DataFrame = {
    val days = events.select(col("user_id"),
      to_date(col("ts")).as("day")).distinct()
    val streaks = days
      .withColumn("anchor", expr("date_sub(day, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY day))"))
      .groupBy(col("user_id"), col("anchor"))
      .agg(count(lit(1)).cast("long").as("len"),
        max(col("day")).as("end_day"))
    val lastDay = days.agg(max(col("day")).as("max_day"))
    streaks.crossJoin(broadcast(lastDay))
      .groupBy(col("user_id"))
      .agg(sum(col("len")).cast("long").as("n_active_days"),
        count(lit(1)).cast("long").as("n_streaks"),
        max(col("len")).cast("long").as("longest_streak"),
        coalesce(max(when(col("end_day") === col("max_day"),
          col("len"))), lit(0L)).cast("long").as("current_streak"))
  }

  /** Basket-size profile (X251) — the merchandising read behind
    * bundle and free-shipping-threshold decisions: how many line
    * items an order carries, how many orders sit at each size, and
    * how much revenue each size class moves (the single-line tail is
    * usually most ORDERS, the mid sizes most REVENUE — the exact
    * split this profile shows). Per basket size: order count, exact
    * cents revenue, and both integer-ppm shares.
    *
    * Scale: one order-grain aggregate (count + cents in the same
    * pass), one ≤|max-size| rollup, 1-row totals broadcast. */
  def basketProfile(lineitem: DataFrame): DataFrame = {
    val perOrder = lineitem.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).cast("long").as("n_items"),
        sum(floor(col("l_extendedprice") * 100.0 + 0.5).cast("long"))
          .cast("long").as("cents"))
    val cells = perOrder.groupBy(col("n_items"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        sum(col("cents")).cast("long").as("cents"))
    cells.crossJoin(broadcast(cells.agg(
        sum(col("n_orders")).cast("long").as("t_orders"),
        sum(col("cents")).cast("long").as("t_cents"))))
      .select(col("n_items"), col("n_orders"), col("cents"),
        expr("(n_orders * 1000000) div greatest(t_orders, 1)")
          .cast("long").as("order_share_ppm"),
        expr("(cents * 1000000) div greatest(t_cents, 1)")
          .cast("long").as("revenue_share_ppm"))
  }

  /** A/B conversion read-out (X249) — the experiment summary every
    * feature launch ends with: users hash-split 50/50 into arms (the
    * md5-hex8 device, so assignment replays anywhere and pairs with
    * the X198 SRM guard), conversion = at least one purchase event,
    * and per arm the exact user / converter counts and integer-ppm
    * conversion rate. The engine emits the MOMENTS (the X129
    * discipline) — the z-test / CI float step belongs to the consumer;
    * these two rows are everything it needs.
    *
    * Scale: one distinct to user grain (the only fact-sized shuffle,
    * shared by both legs), one filtered distinct for converters, a
    * user-key left join, a 2-row aggregate. */
  def abLift(events: DataFrame): DataFrame = {
    val arms = events.select(col("user_id")).distinct()
      .withColumn("arm",
        when(expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), " +
          "1, 8), 16, 10) AS BIGINT) % 2 = 0"), "A").otherwise("B"))
    val conv = events.filter(col("event_type") === "purchase")
      .select(col("user_id")).distinct()
      .withColumn("is_conv", lit(1L))
    arms.join(conv, Seq("user_id"), "left")
      .groupBy(col("arm"))
      .agg(count(lit(1)).cast("long").as("n_users"),
        sum(coalesce(col("is_conv"), lit(0L))).cast("long")
          .as("n_converters"))
      .select(col("arm"), col("n_users"), col("n_converters"),
        expr("(n_converters * 1000000) div greatest(n_users, 1)")
          .cast("long").as("conv_ppm"))
  }

  /** Day-of-week × hour activity heatmap (X241) — the "when is the
    * system busy" contingency every ops/capacity review starts from:
    * per (dow, hour) cell the event count and integer-ppm share.
    * Off-pattern cells are the anomalies worth chasing (weekend-night
    * spikes = batch jobs or abuse, a dead business-hours cell = a
    * broken collector in one region). Sunday = 1 (Spark's dayofweek
    * convention; the oracle shifts DuckDB's 0-based week to match);
    * hours in the session's UTC clock, so the heatmap replays.
    *
    * Scale: one map-side-combinable aggregate onto the ≤168-cell
    * grid; 1-row total broadcast. */
  def dowHourHeatmap(events: DataFrame): DataFrame = {
    val cells = events
      .select(dayofweek(col("ts")).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hour"))
      .groupBy(col("dow"), col("hour"))
      .agg(count(lit(1)).cast("long").as("n_events"))
    cells.crossJoin(broadcast(
        cells.agg(sum(col("n_events")).cast("long").as("n_total"))))
      .select(col("dow"), col("hour"), col("n_events"),
        expr("(n_events * 1000000) div greatest(n_total, 1)")
          .cast("long").as("share_ppm"))
  }

  /** Peak concurrent sessions per day (X242) — the capacity number a
    * serving team provisions against: the X137 sweep-line device at
    * MINUTE grain over the session frame (two deltas per session —
    * entry at its start minute, exit after its inclusive last-event
    * minute — one (day, minute) aggregate, a day-partitioned running
    * sum, never a calendar explode). A session counts on its START
    * day's timeline (sessions are gap-bounded and short; the
    * convention is documented, deterministic, and replayable). Emits
    * per day the peak, the FIRST minute it was reached, and the
    * session count.
    *
    * Scale: deltas are 2 rows per session; the scan partitions by
    * day; output is day grain. The expensive sessionization is the
    * shared session tier, paid once per session. */
  def sessionPeakConcurrency(sessions: DataFrame): DataFrame = {
    val day = expr("unix_micros(session_start) div 86400000000")
      .cast("long")
    val stMin = expr("unix_micros(session_start) div 60000000")
      .cast("long")
    val enMin = expr("unix_micros(last_ts) div 60000000").cast("long")
    val deltas = sessions
      .select(day.as("day"), stMin.as("minute"), lit(1L).as("delta"))
      .unionByName(sessions.select(day.as("day"),
        (enMin + 1L).as("minute"), lit(-1L).as("delta")))
      .groupBy(col("day"), col("minute"))
      .agg(sum(col("delta")).cast("long").as("net"))
    val scan = Window.partitionBy(col("day")).orderBy(col("minute"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val peaks = deltas
      .withColumn("open_cnt", sum(col("net")).over(scan).cast("long"))
      .withColumn("peak", max(col("open_cnt"))
        .over(Window.partitionBy(col("day"))).cast("long"))
      .filter(col("open_cnt") === col("peak"))
      .groupBy(col("day"))
      .agg(min(col("minute")).as("peak_minute"),
        max(col("peak")).as("peak_concurrent"))
    peaks.join(
        sessions.groupBy(day.as("day"))
          .agg(count(lit(1)).cast("long").as("n_sessions")), Seq("day"))
      .select(col("day"), col("peak_concurrent"), col("peak_minute"),
        col("n_sessions"))
  }

  /** Reorder-cycle profile (X239) — the replenishment-cadence read a
    * planner keys safety stock and churn outreach on: per customer
    * the gaps between consecutive orders in whole days, summarized as
    * count, median, p90 and max. The p90/median RATIO is the
    * regularity signal (≈1 = subscription-like cadence, large = bursty
    * one-off buying), and a max far above p90 is a dormancy already
    * ended — the same percentile device as the event-gap stats,
    * applied at order grain.
    *
    * Scale: one window over (customer) ordered by (date, key) — the
    * same shuffle as any per-customer sequence op; one keyed
    * percentile aggregate. */
  def reorderCycle(orders: DataFrame): DataFrame =
    orders
      .withColumn("gap_d", expr(
        "datediff(cast(o_orderdate as date), " +
          "lag(cast(o_orderdate as date), 1) over " +
          "(partition by o_custkey order by o_orderdate, o_orderkey))"))
      .filter(col("gap_d").isNotNull)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).cast("long").as("n_gaps"),
        round(expr("percentile(gap_d, 0.5)"), 6).as("p50_gap_d"),
        round(expr("percentile(gap_d, 0.9)"), 6).as("p90_gap_d"),
        max(col("gap_d")).cast("long").as("max_gap_d"))

  /** Backlog aging report (X237) — the ops read behind every
    * "aged open orders" escalation: orders still open (status O or P)
    * as of the planning date, bucketed by days open and crossed with
    * priority, with order counts and exact cents exposure per cell.
    * An aging 1-URGENT backlog is an expedite list; a fat 181+ bucket
    * at any priority is stuck demand the S&OP meeting reads first.
    * Buckets 0–30 / 31–90 / 91–180 / 181+ days as-of [[Star.AsOf]]
    * (inclusive day arithmetic on DATE subtraction, timezone-free).
    *
    * Scale: the status + date filters push to the scan; one
    * (priority, bucket)-grain map-side-combinable aggregate; output
    * is ≤ |priorities|·4 rows. */
  def backlogAging(orders: DataFrame,
      asOf: String = graft.core.Star.AsOf): DataFrame = {
    val age = datediff(lit(asOf).cast("date"),
      col("o_orderdate").cast("date"))
    orders
      .filter(col("o_orderstatus").isin("O", "P") &&
        col("o_orderdate") < lit(asOf))
      .select(col("o_orderpriority"),
        when(age <= 30, "0-30").when(age <= 90, "31-90")
          .when(age <= 180, "91-180").otherwise("181+").as("age_bucket"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
      .groupBy(col("o_orderpriority"), col("age_bucket"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        sum(col("cents")).cast("long").as("cents"))
  }

  /** Weekly growth accounting (X233) — the new / retained /
    * resurrected / churned decomposition every growth dashboard
    * leads with: WAU movement is meaningless until split into who
    * ARRIVED, who STAYED, who CAME BACK and who LEFT, because "flat"
    * can hide equal-and-opposite churn and resurrection. Per active
    * (user, week): `new` (first week ever), `retained` (active the
    * previous week), `resurrected` (a gap ≥ 1 week); `churned` is
    * counted in week w+1 for users active in w but not w+1 — and
    * never past the corpus' last observed week, where churn is
    * unknowable (the replayable-data contract, as in X220's CURRENT
    * streak). Weeks on the epoch-week integer index (`µs div 86400e6
    * div 7` — the X172 day-index device) so adjacency is plain
    * subtraction, timezone-free.
    *
    * Scale: one distinct to (user, week) grain — the only fact-sized
    * shuffle; one user-partitioned window pass serves both the lag
    * classification and the lead churn probe; output is
    * (week, status) grain; the 1-row last-week scalar broadcasts. */
  def growthAccounting(events: DataFrame): DataFrame = {
    val um = events.select(col("user_id"),
      expr("unix_micros(ts) div 86400000000 div 7").cast("long")
        .as("wk"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("wk"))
    val stamped = um
      .withColumn("prev_w", lag(col("wk"), 1).over(w))
      .withColumn("next_w", lead(col("wk"), 1).over(w))
    val classified = stamped.select(col("wk"),
      when(col("prev_w").isNull, "new")
        .when(col("wk") - col("prev_w") === 1L, "retained")
        .otherwise("resurrected").as("status"))
    val churned = stamped
      .filter(col("next_w").isNull || col("next_w") =!= col("wk") + 1)
      .select((col("wk") + 1L).as("wk"), lit("churned").as("status"))
    val lastW = um.agg(max(col("wk")).as("mx"))
    classified.unionByName(churned)
      .crossJoin(broadcast(lastW))
      .filter(col("wk") <= col("mx"))
      .groupBy(col("wk"), col("status"))
      .agg(count(lit(1)).cast("long").as("n_users"))
  }

  /** Cohort lifetime-value curve (X213) — the acquisition-quality
    * read every subscription/commerce planner runs: customers are
    * grouped by FIRST-purchase month, and each cohort's cumulative
    * revenue per customer is tracked by age-in-months, so cohorts of
    * different vintages compare on the same axis ("is the March
    * cohort monetizing faster than January's?"). Exact integer cents
    * end to end; months as the linear index `year·12 + month − 1` so
    * age is plain subtraction across year boundaries; per-customer
    * LTV via one truncating div over non-negative sums.
    *
    * Scale shape: one customer-grain aggregate (first month), joined
    * back by customer key (hash equi-join at fact grain), one
    * (cohort, age) aggregate — output is months² rows at most — and
    * a cumulative window whose partitions are single cohorts
    * (calendar-bounded frames, the X159 discipline). */
  def cohortLtv(orders: DataFrame): DataFrame = {
    val om = orders.select(col("o_custkey").as("cust"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
        .cast("long").as("m"),
      floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
    val cohort = graft.core.SessionCache.transient(
      om.groupBy(col("cust")).agg(min(col("m")).as("m0")))
    val sizes = cohort.groupBy(col("m0").as("cohort_month"))
      .agg(count(lit(1)).cast("long").as("n_custs"))
    val rev = om.join(cohort, Seq("cust"))
      .select(col("m0").as("cohort_month"),
        (col("m") - col("m0")).as("age_months"), col("cents"))
      .groupBy(col("cohort_month"), col("age_months"))
      .agg(sum(col("cents")).cast("long").as("cents"))
    val cum = Window.partitionBy(col("cohort_month"))
      .orderBy(col("age_months"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev.join(sizes, Seq("cohort_month"))
      .withColumn("cum_cents", sum(col("cents")).over(cum).cast("long"))
      .select(col("cohort_month"), col("age_months"), col("n_custs"),
        col("cents"), col("cum_cents"),
        expr("cum_cents div n_custs").cast("long").as("ltv_cents"))
  }

  /** ABC×XYZ cross matrix (X215) — the 9-cell planning grid the two
    * classifications exist to feed: revenue class (A/B/C) crossed
    * with demand-variability class (X/Y/Z) tells a planner which
    * parts get safety stock (AX: high value, stable — automate),
    * which get review (AZ: high value, erratic — human forecast) and
    * which get dropped (CZ). Counts and integer-ppm shares over the
    * part domain; both class legs are the EXACT [[abcClassification]]
    * / [[xyzClassification]] operators, so the matrix inherits their
    * oracle-proven edge rules verbatim.
    *
    * Scale: both legs aggregate to part grain before the 1:1 part-key
    * equi-join (a part has one brand, so ABC grain is part grain);
    * the matrix is a ≤9-row aggregate; the 1-row total broadcasts. */
  def abcXyzMatrix(spark: SparkSession, dir: String): DataFrame = {
    val abc = abcClassification(spark, dir)
      .select(col("l_partkey"), col("abc_class"))
    val xyz = xyzClassification(spark, dir)
      .select(col("l_partkey"), col("xyz_class"))
    // persisted for the same reason as [[abcMigration]]'s cells: the
    // total side of the crossJoin re-evaluates the abc⋈xyz pipeline
    val cells = graft.core.SessionCache.transient(
      abc.join(xyz, Seq("l_partkey"))
      .groupBy(col("abc_class"), col("xyz_class"))
      .agg(count(lit(1)).cast("long").as("n_parts")))
    cells.crossJoin(broadcast(
        cells.agg(sum(col("n_parts")).cast("long").as("n_total"))))
      .select(col("abc_class"), col("xyz_class"), col("n_parts"),
        expr("(n_parts * 1000000) div greatest(n_total, 1)")
          .cast("long").as("share_ppm"))
  }

  /** X282: simple exponential smoothing (SES) forecast per supplier
    * over the monthly demand series, α = ½ — EXACT by construction:
    * with a half-life α every weight is a power of two, so the
    * recursion `s_k = α·q_k + (1−α)·s_{k−1}` (s₁ = q₁) closes to
    * `s_k = (q₁ + Σ_{i=2..k} q_i·2^{i−2}) / 2^{k−1}` — an integer sum
    * over shifted Longs divided by one power of two, replayable
    * identically in any engine where the float form would drift by
    * accumulation order. The next-period forecast IS s_k (the SES
    * convention). Demand gaps count as zero via the X172 dense spine
    * (a supplier silent for a month genuinely smoothed toward zero).
    *
    * The window keeps the last `window` (default 24) months: beyond
    * the half-life horizon older terms contribute < 2⁻²³ of the
    * forecast — and the truncation is what bounds the shift exponent
    * (`q·2²²` headroom, asserted at Σ ≤ 9·10¹² so the e6 scaling
    * stays Long-exact; the message says to shorten the window).
    *
    * Scale: one fact-grain hash aggregate to (supplier, month), the
    * bounded ×|months| spine, ONE supplier-partitioned window pass
    * (row_number + count), one supplier-grain aggregate. Takes the
    * [[supplierMonthlyDense]] frame so the X282/X289 forecast pair
    * shares one materialization (session-cached by the registry). */
  def sesHalfLife(dense: DataFrame, window: Int = 24): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("m").desc)
    dense
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= window)
      .withColumn("k", count(lit(1))
        .over(Window.partitionBy(col("l_suppkey"))).cast("long"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).cast("long").as("n_months"),
        max(col("m")).cast("long").as("m_last"),
        max(when(col("rn") === 1, col("qty"))).cast("long")
          .as("qty_last"),
        max(abs(col("qty"))).cast("long").as("max_abs_qty"),
        sum(col("qty") *
          expr("shiftleft(cast(1 as bigint), " +
            "cast(greatest(k - rn - 1, 0) as int))"))
          .cast("long").as("s_num"))
      .select(col("l_suppkey"), col("n_months"), col("m_last"),
        col("qty_last"),
        // Pre-overflow witness (the twap pattern): the shifted weights
        // sum to exactly 2^(k−1), so max|qty|·2^(n_months−1) bounds
        // every partial AND the final sum in double space BEFORE a
        // Long wrap can occur — asserting on the summed s_num itself
        // cannot work (a wrap lands negative and sails under `<=`).
        // max|qty| is itself an unweighted max of row-bounded month
        // sums, never a wrappable quantity.
        expr("coalesce(cast(assert_true(" +
          "cast(max_abs_qty as double) * " +
          "cast(shiftleft(cast(1 as bigint), " +
          "cast(n_months - 1 as int)) as double) <= 9.0e12, " +
          "'SES e6 scaling exceeds the Long-exact range: shorten the " +
          "half-life window or slice finer') as bigint), 0) + " +
          "(s_num * 1000000) div shiftleft(cast(1 as bigint), " +
          "cast(n_months - 1 as int))").cast("long").as("ses_qty_e6"))
  }

  /** X288: difference-in-differences lift — the causal-inference
    * staple beside the X151 A/B lift when assignment is NOT
    * randomized: compare the treated group's pre→post change against
    * the control group's over the same cutoff, so any shared temporal
    * shock cancels. Treatment membership is the deterministic
    * md5-bucket device (the X283 discipline — a deployment passes the
    * real assignment), the metric is mean event value in cents, and
    * the whole estimate is ONE conditional aggregate over the fact —
    * no join anywhere. The four cell means are rationals; their
    * double difference cross-multiplies to a single decimal(38,0)
    * quotient with the sign split off (truncate-vs-floor), and every
    * cell's numerator/denominator is emitted so the estimate is
    * auditable. NULL when any cell is empty (no counterfactual).
    * decimal(38) headroom asserted by a double-space witness. */
  def didLift(events: DataFrame, cutoff: String = "2024-01-16",
      treatMod: Int = 4): DataFrame = {
    val treated = (conv(substring(md5(col("user_id").cast("string")),
      1, 8), 16, 10).cast("long") % treatMod) === 0
    val post = col("ts") >= to_timestamp(lit(cutoff))
    def cell(name: String, t: Boolean, p: Boolean) = {
      val pred = (if (t) treated else !treated) &&
        (if (p) post else !post)
      Seq(count(when(pred, lit(1))).cast("long").as(s"n_$name"),
        sum(when(pred, floor(col("value") * 100.0 + 0.5).cast("long"))
          .otherwise(0L)).cast("long").as(s"cents_$name"))
    }
    val cells = cell("t_post", t = true, p = true) ++
      cell("t_pre", t = true, p = false) ++
      cell("c_post", t = false, p = true) ++
      cell("c_pre", t = false, p = false)
    val d38 = "cast(%s as decimal(38,0))"
    // A = s_tp·n_tr − s_tr·n_tp over D_t = n_tp·n_tr; B likewise for
    // control; did = (A·D_c − B·D_t) / (D_t·D_c)
    events
      .groupBy()
      .agg(cells.head, cells.tail: _*)
      .select(col("*"),
        expr(("coalesce(cast(assert_true(" +
          "cast(abs(%A) as double) * (%Dc) * 1.0e6 <= 0.45e38 and " +
          "cast(abs(%B) as double) * (%Dt) * 1.0e6 <= 0.45e38, " +
          "'DiD decimal(38) headroom exceeded: slice finer') " +
          "as bigint), 0) + " +
          "cast(signum((%A) * (%Dc) - (%B) * (%Dt)) as bigint) * " +
          "cast(abs((%A) * (%Dc) - (%B) * (%Dt)) * 1000000 div " +
          "nullif((%Dt) * (%Dc), 0) as bigint)")
          .replace("%A", d38.format("cents_t_post") + " * n_t_pre - " +
            d38.format("cents_t_pre") + " * n_t_post")
          .replace("%B", d38.format("cents_c_post") + " * n_c_pre - " +
            d38.format("cents_c_pre") + " * n_c_post")
          .replace("%Dt", d38.format("n_t_post") + " * n_t_pre")
          .replace("%Dc", d38.format("n_c_post") + " * n_c_pre"))
          .cast("long").as("did_cents_e6"))
  }

  /** X290: experiment-power preflight per event type — the
    * sample-size question every experimentation platform answers
    * BEFORE an A/B test runs ("how many users per arm to detect a 5%
    * move in this metric"): the classic rule-of-thumb
    * `n ≈ 16σ²/δ²` (two-sided α = 5%, power 80%; Kohavi et al.'s
    * shorthand for `2(z_{α/2}+z_β)²σ²/δ²`), with the minimum
    * detectable effect δ fixed at 5% of the metric mean. Everything
    * reduces to integer moments: `n_req = ⌈6400·(n·Σx² − (Σx)²) /
    * (Σx)²⌉` — the σ²/δ² denominators cancel, the ceiling is the
    * non-negative `(a + b − 1) div b` form, and the one product runs
    * in decimal(38,0)/HUGEINT. NULL when the metric sums to zero (no
    * scale to detect against). One conditional aggregate per type —
    * map-side combinable, no joins. */
  def mdeSampleSize(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        max(abs(col("cents"))).cast("long").as("max_abs_cents"),
        sum(col("cents")).cast("long").as("sum_cents"),
        sum(col("cents") * col("cents")).cast("long").as("sum_sq"))
      .select(col("event_type"), col("n"), col("sum_cents"),
        col("sum_sq"),
        // Pre-overflow witness (VERDICT r13 #2): n·max|cents|² ≤ 9e18
        // in double space proves the Long sums (Σc², |Σc| ≤ the same
        // bound) never wrapped BEFORE the decimal(38) headroom check
        // reads them — the old witness multiplied the possibly-wrapped
        // sum_sq itself.
        expr("coalesce(cast(assert_true(" +
          "cast(n as double) * cast(max_abs_cents as double) * " +
          "cast(max_abs_cents as double) <= 9.0e18 and " +
          "cast(n as double) * sum_sq * 6400.0 <= 0.9e38, " +
          "'MDE decimal(38) headroom exceeded: slice finer') " +
          "as bigint), 0) + " +
          "cast((6400 * (cast(n as decimal(38,0)) * sum_sq - " +
          "cast(sum_cents as decimal(38,0)) * sum_cents) + " +
          "cast(sum_cents as decimal(38,0)) * sum_cents - 1) div " +
          "nullif(cast(sum_cents as decimal(38,0)) * sum_cents, 0) " +
          "as bigint)").cast("long").as("n_required"))

  /** X287: Croston's method for INTERMITTENT demand per supplier —
    * the standard forecast where SES fails (X218 classifies
    * intermittency; this forecasts through it): maintain two SES
    * estimates, demand SIZE `z` and inter-demand INTERVAL `p`, both
    * updated only at demand occurrences, and forecast the demand RATE
    * `z_hat / p_hat`. With α = ½ both SES legs close to the X282
    * shifted-integer sum over the SAME event count k, so the
    * `2^(k−1)` denominators CANCEL and the rate is one integer
    * quotient: `rate_e6 = Z·10⁶ div P` — exact cross-engine with no
    * shift in the output at all.
    *
    * Events are the non-zero demand months (no dense spine — Croston
    * deliberately skips the zeros); the first event seeds no interval,
    * so suppliers need ≥ 2 demand months to appear; the window keeps
    * the last 16 intervals (the same truncation rationale as X282,
    * exponent ≤ 14). Z ≤ 9·10¹² asserted for the e6 scaling; P ≥ k ≥ 1
    * by construction so the div is total.
    *
    * Scale: one fact-grain aggregate to (supplier, month), one
    * supplier-partitioned window pass (lag + row_number + count), one
    * supplier-grain aggregate. */
  def crostonRate(li: DataFrame, window: Int = 16): DataFrame = {
    val obs = li.groupBy(col("l_suppkey"),
        (year(col("l_shipdate")) * 12 + month(col("l_shipdate")) - 1)
          .cast("long").as("m"))
      .agg(sum(col("l_quantity").cast("long")).cast("long").as("z"))
      .filter(col("z") > 0)
    val wAsc = Window.partitionBy(col("l_suppkey")).orderBy(col("m"))
    val ev = obs
      .withColumn("p", (col("m") - lag(col("m"), 1).over(wAsc))
        .cast("long"))
      .filter(col("p").isNotNull)
    val wDesc = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("m").desc)
    ev.withColumn("rn", row_number().over(wDesc))
      .filter(col("rn") <= window)
      .withColumn("k", count(lit(1))
        .over(Window.partitionBy(col("l_suppkey"))).cast("long"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        max(when(col("rn") === 1, col("z"))).cast("long").as("z_last"),
        max(when(col("rn") === 1, col("p"))).cast("long").as("p_last"),
        max(abs(col("z"))).cast("long").as("max_abs_z"),
        max(abs(col("p"))).cast("long").as("max_abs_p"),
        sum(col("z") * expr("shiftleft(cast(1 as bigint), " +
          "cast(greatest(k - rn - 1, 0) as int))")).cast("long")
          .as("zn"),
        sum(col("p") * expr("shiftleft(cast(1 as bigint), " +
          "cast(greatest(k - rn - 1, 0) as int))")).cast("long")
          .as("pn"))
      .select(col("l_suppkey"), col("n_events"), col("z_last"),
        col("p_last"),
        // Pre-overflow witness (VERDICT r13 #2, the twap pattern): the
        // shifted weights sum to exactly 2^(k−1), so max|z|·2^(k−1)
        // bounds the Z sum — and max|p|·2^(k−1) the P denominator sum
        // (previously unguarded) — in double space BEFORE a Long wrap
        // can occur. Asserting on the summed zn itself cannot work: a
        // wrap lands negative and sails under the one-sided `<=`.
        expr("coalesce(cast(assert_true(" +
          "cast(max_abs_z as double) * " +
          "cast(shiftleft(cast(1 as bigint), " +
          "cast(n_events - 1 as int)) as double) <= 9.0e12 and " +
          "cast(max_abs_p as double) * " +
          "cast(shiftleft(cast(1 as bigint), " +
          "cast(n_events - 1 as int)) as double) <= 9.0e18, " +
          "'Croston e6 scaling exceeds the Long-exact range: shorten " +
          "the window or slice finer') as bigint), 0) + " +
          "(zn * 1000000) div pn").cast("long").as("croston_rate_e6"))
  }

  /** Dense (supplier, month) demand frame over the global month span
    * — one fact-grain hash aggregate plus the X172 calendar spine
    * (gaps as zeros), SHARED by the X282 SES and X289 Holt forecasts
    * through the registry's session cache so the Bench/Verify sweep
    * pays the lineitem shuffle once for the whole forecast family. */
  def supplierMonthlyDense(li: DataFrame): DataFrame = {
    val obs = li.groupBy(col("l_suppkey"),
        (year(col("l_shipdate")) * 12 + month(col("l_shipdate")) - 1)
          .cast("long").as("m"))
      .agg(sum(col("l_quantity").cast("long")).cast("long").as("qty"))
    val span = obs.agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
    val spine = obs.select(col("l_suppkey")).distinct()
      .crossJoin(broadcast(span))
      .select(col("l_suppkey"),
        explode(sequence(col("m0"), col("m1"))).as("m"))
    spine.join(obs, Seq("l_suppkey", "m"), "left")
      .select(col("l_suppkey"), col("m"),
        coalesce(col("qty"), lit(0L)).as("qty"))
  }

  /** Months in the Holt window — fixed so the dyadic coefficient
    * vectors are compile-time constants shared with the oracle. */
  val HoltWindow = 16

  /** Exact dyadic coefficient vectors for Holt's linear trend with
    * α = β = ½ over a fixed [[HoltWindow]]-month series: level
    * `l_t = ½y_t + ½(l+b)`, trend `b_t = ½(l_t − l_{t−1}) + ½b`
    * (b₁ = 0). Each recursion step multiplies the common denominator
    * by 4, so after W−1 steps every coefficient of y₁..y_W in l_W and
    * b_W is an integer over 2^(2(W−1)) = 2³⁰ — computed ONCE here in
    * exact BigInt arithmetic and interpolated into both the Spark
    * expression and the DuckDB oracle (the generated-from-the-same-
    * constants discipline). Returned scaled by 2³⁰: (level, trend). */
  lazy val holtCoeffs: (Array[Long], Array[Long]) = {
    val W = HoltWindow
    var L = Array.tabulate(W)(i => BigInt(if (i == 0) 1 else 0))
    var B = Array.fill(W)(BigInt(0))
    var d = BigInt(1) // common denominator
    for (t <- 1 until W) {
      // l_new over 2d: y_t·d + L + B; everything re-expressed over 4d
      val n2 = Array.tabulate(W)(i =>
        (if (i == t) d else BigInt(0)) + L(i) + B(i))
      val nl = n2.map(_ * 2)
      val nb = Array.tabulate(W)(i => n2(i) - 2 * L(i) + 2 * B(i))
      L = nl; B = nb; d *= 4
    }
    require(d == BigInt(2).pow(2 * (W - 1)))
    (L.map(_.toLong), B.map(_.toLong))
  }

  /** X289: Holt linear-trend forecast per supplier, α = β = ½ — the
    * trended sibling of X282's SES (SES lags any drift; Holt carries
    * an explicit trend state). The coupled recursion does NOT close to
    * a single shifted sum the way SES does, but over a FIXED window
    * every coefficient of the inputs is an exact dyadic rational
    * ([[holtCoeffs]]), so the one-step-ahead forecast
    * `f = l_W + b_W` is one integer dot product over 2³⁰ — exact
    * cross-engine, with the sign split off the final quotient (the
    * trend coefficients are negative for early months). The X172
    * dense spine gives every supplier the same month count; the fixed
    * window is asserted, not assumed.
    *
    * Scale: one fact-grain aggregate, the bounded spine, one
    * supplier-partitioned window pass, one supplier-grain dot
    * product; the ·10⁶ rescale runs in decimal(38,0). Takes the
    * [[supplierMonthlyDense]] frame shared with X282. */
  def holtLinear(dense: DataFrame): DataFrame = {
    val W = HoltWindow
    val (cl, cb) = holtCoeffs
    val fc = cl.zip(cb).map { case (a, b) => a + b }
    def arr(xs: Array[Long]) =
      xs.map(x => s"cast($x as bigint)").mkString("array(", ", ", ")")
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("m").desc)
    dense
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= W)
      .withColumn("i", (lit(W + 1) - col("rn")).cast("int"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).cast("long").as("n_months"),
        max(col("m")).cast("long").as("m_last"),
        sum(col("qty") * expr(s"element_at(${arr(fc)}, i)"))
          .cast("long").as("f_num"),
        sum(col("qty") * expr(s"element_at(${arr(cb)}, i)"))
          .cast("long").as("b_num"))
      .select(col("l_suppkey"),
        expr(s"coalesce(cast(assert_true(n_months = $W, " +
          "'Holt window underfilled: the corpus spans fewer months " +
          "than HoltWindow') as bigint), 0) + n_months")
          .cast("long").as("n_months"),
        col("m_last"),
        expr("cast(signum(f_num) as bigint) * cast(" +
          "abs(cast(f_num as decimal(38,0))) * 1000000 div " +
          s"cast(${1L << 30} as bigint) as bigint)")
          .as("holt_fcst_e6"),
        expr("cast(signum(b_num) as bigint) * cast(" +
          "abs(cast(b_num as decimal(38,0))) * 1000000 div " +
          s"cast(${1L << 30} as bigint) as bigint)")
          .as("holt_trend_e6"))
  }

  /** X284: arc price elasticity of demand per part brand — the
    * pricing-analytics read ("how much does demand rate fall from the
    * brand's cheap half to its expensive half"), computed as the
    * midpoint-formula arc elasticity between the two price tiers and
    * emitted EXACTLY: every term is an integer aggregate (part counts,
    * retail cents, lineitem quantity units), the two rate/price deltas
    * are exact rationals whose denominators cancel in the ratio, and
    * the single quotient runs in decimal(38,0) with the floor taken on
    * the ABSOLUTE value (sign applied after — Spark `div` truncates
    * toward zero where DuckDB `//` floors, so the negative-operand
    * semantics must never meet the division):
    * `elast_e6 = sign(q_hi·m_lo − q_lo·m_hi) · |q_hi·m_lo − q_lo·m_hi|
    * ·(P_hi·m_lo + P_lo·m_hi)·10⁶ div ((q_hi·m_lo + q_lo·m_hi)
    * ·(P_hi·m_lo − P_lo·m_hi))`. A part is LO iff its cents·m ≤ ΣP of
    * the brand (price ≤ brand mean without dividing). NULL when a
    * brand has one tier only or zero demand (no slope exists).
    *
    * Scale: broadcastable part-grain frames (parts ≪ facts), ONE
    * fact-grain aggregate to (part) joined to the tier tags BY KEY,
    * one brand-grain rollup. decimal(38) headroom asserted. */
  def priceElasticity(part: DataFrame, li: DataFrame): DataFrame = {
    val p = part.select(col("p_partkey"), col("p_brand"),
      floor(col("p_retailprice") * 100.0 + 0.5).cast("long").as("pc"))
    val brandTot = p.groupBy(col("p_brand"))
      .agg(sum(col("pc")).cast("long").as("psum"),
        count(lit(1)).cast("long").as("pm"))
    val tagged = p.join(broadcast(brandTot), "p_brand")
      .select(col("p_partkey"), col("p_brand"), col("pc"),
        when(col("pc") * col("pm") <= col("psum"), lit("lo"))
          .otherwise(lit("hi")).as("tier"))
    val qty = li.groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity").cast("long")).cast("long").as("q"))
    val tiers = tagged
      .join(qty, tagged("p_partkey") === qty("l_partkey"), "left")
      .groupBy(col("p_brand"), col("tier"))
      .agg(count(lit(1)).cast("long").as("m"),
        sum(col("pc")).cast("long").as("pcs"),
        sum(coalesce(col("q"), lit(0L))).cast("long").as("q"))
    tiers.groupBy(col("p_brand"))
      .agg(
        max(when(col("tier") === "lo", col("m"))).as("m_lo"),
        max(when(col("tier") === "hi", col("m"))).as("m_hi"),
        max(when(col("tier") === "lo", col("q"))).as("q_lo"),
        max(when(col("tier") === "hi", col("q"))).as("q_hi"),
        max(when(col("tier") === "lo", col("pcs"))).as("pc_lo"),
        max(when(col("tier") === "hi", col("pcs"))).as("pc_hi"))
      .select(col("p_brand"),
        coalesce(col("m_lo"), lit(0L)).cast("long").as("m_lo"),
        coalesce(col("m_hi"), lit(0L)).cast("long").as("m_hi"),
        coalesce(col("q_lo"), lit(0L)).cast("long").as("q_lo"),
        coalesce(col("q_hi"), lit(0L)).cast("long").as("q_hi"),
        coalesce(col("pc_lo"), lit(0L)).cast("long").as("pc_lo"),
        coalesce(col("pc_hi"), lit(0L)).cast("long").as("pc_hi"))
      .select(col("p_brand"), col("m_lo"), col("m_hi"), col("q_lo"),
        col("q_hi"), col("pc_lo"), col("pc_hi"),
        expr("coalesce(cast(assert_true(" +
          "cast(greatest(q_lo, q_hi) as double) * greatest(m_lo, m_hi)" +
          " * cast(pc_lo + pc_hi as double) * greatest(m_lo, m_hi)" +
          " * 1.0e6 <= 0.9e38, " +
          "'price-elasticity decimal(38) headroom exceeded: slice " +
          "finer') as bigint), 0) + " +
          "cast(signum(cast(q_hi as decimal(38,0)) * m_lo - " +
          "cast(q_lo as decimal(38,0)) * m_hi) as bigint) * " +
          "(abs(cast(q_hi as decimal(38,0)) * m_lo - " +
          "cast(q_lo as decimal(38,0)) * m_hi) * " +
          "(cast(pc_hi as decimal(38,0)) * m_lo + " +
          "cast(pc_lo as decimal(38,0)) * m_hi) * 1000000 div " +
          "nullif((cast(q_hi as decimal(38,0)) * m_lo + " +
          "cast(q_lo as decimal(38,0)) * m_hi) * " +
          "(cast(pc_hi as decimal(38,0)) * m_lo - " +
          "cast(pc_lo as decimal(38,0)) * m_hi), 0))")
          .cast("long").as("elast_e6"))
  }
}
