package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Star, Tables}
import graft.functions.GraftFunctions._
import graft.qc.{Expectations, FdAudit, IndAudit, Recon}

/** Registry: reconciliation aggregates + QC reports + scalar-date-function
  * coverage (SURVEY §2.4 A1/A7/A8, §2.3 J3/J4, §2.8 F13–F21/F23).
  */
object ReconQueries {

  /** DuckDB mirror of [[graft.functions.GraftFunctions.humanize]] —
    * same decimal(28,1) cast so the string form matches byte-for-byte
    * (shared shape with the dv_variance_report display columns). */
  private def humanizeSql(v: String): String =
    s"""CASE WHEN ($v) IS NULL THEN '-'
       |     WHEN abs($v) >= 1e9 THEN
       |       CAST(CAST(ROUND(($v)/1e9, 1) AS DECIMAL(28,1)) AS VARCHAR) || 'B'
       |     WHEN abs($v) >= 1e6 THEN
       |       CAST(CAST(ROUND(($v)/1e6, 1) AS DECIMAL(28,1)) AS VARCHAR) || 'M'
       |     WHEN abs($v) >= 1e3 THEN
       |       CAST(CAST(ROUND(($v)/1e3, 1) AS DECIMAL(28,1)) AS VARCHAR) || 'K'
       |     ELSE CAST(CAST(ROUND($v, 1) AS DECIMAL(28,1)) AS VARCHAR)
       |END""".stripMargin

  /** X297 candidate list — shared by the query and its oracle so the
    * two cannot drift. */
  private val KeyCandidates: Seq[Seq[String]] = Seq(
    Seq("o_orderkey"), Seq("o_custkey"), Seq("o_orderdate"),
    Seq("o_custkey", "o_orderdate"))

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("a1_bu_sum_count", (s, d) => Recon.buAggregate(s, d),
      Oracle("""SELECT c_mktsegment AS bu, ROUND(SUM(o_totalprice), 2) AS value_sum,
        |       COUNT(*) AS row_count
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin)),
    QuerySpec("a7_latest_snapshot", (s, d) =>
      Tables(s, d, "orders").agg(
        max(date_trunc("month", col("o_orderdate")).cast("date"))
          .as("latest_snapshot")),
      Oracle("""SELECT MAX(CAST(date_trunc('month', o_orderdate) AS DATE))
        |  AS latest_snapshot FROM orders""".stripMargin)),
    QuerySpec("a8_latest_two_snapshots", (s, d) =>
      Tables(s, d, "orders")
        .select(date_trunc("month", col("o_orderdate")).cast("date")
          .as("snap"))
        .distinct().orderBy(desc("snap")).limit(2),
      Oracle("""SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE)
        |  AS snap FROM orders ORDER BY snap DESC LIMIT 2""".stripMargin)),
    QuerySpec("dv_variance_report", (s, d) => Recon.varianceReport(s, d),
      Oracle({
      def side(yr: Int) =
        s"""SELECT c_mktsegment AS bu, ROUND(SUM(o_totalprice), 2) AS total,
           |       COUNT(*) AS n
           |FROM orders JOIN customer ON o_custkey = c_custkey
           |WHERE year(o_orderdate) = $yr GROUP BY 1""".stripMargin
      s"""WITH nw AS (${side(1996)}), old AS (${side(1995)}),
         |j AS (
         |  SELECT COALESCE(nw.bu, old.bu) AS bu,
         |         COALESCE(nw.total, 0.0) AS new_total,
         |         COALESCE(old.total, 0.0) AS old_total,
         |         COALESCE(nw.n, 0) AS new_n,
         |         COALESCE(old.n, 0) AS old_n
         |  FROM nw FULL OUTER JOIN old ON nw.bu = old.bu
         |)
         |SELECT bu, new_total, old_total, new_n, old_n,
         |  ROUND(CASE WHEN old_total = 0 THEN NULL
         |        ELSE (new_total - old_total) / old_total END, 6)
         |    AS value_variance_pct,
         |  ROUND(CASE WHEN old_n = 0 THEN NULL
         |        ELSE (CAST(new_n AS DOUBLE) - old_n) / old_n END, 6)
         |    AS count_variance_pct,
         |  CASE WHEN new_total IS NULL THEN '-'
         |       WHEN abs(new_total) >= 1e9 THEN
         |         CAST(CAST(ROUND(new_total/1e9, 1) AS DECIMAL(28,1)) AS VARCHAR) || 'B'
         |       WHEN abs(new_total) >= 1e6 THEN
         |         CAST(CAST(ROUND(new_total/1e6, 1) AS DECIMAL(28,1)) AS VARCHAR) || 'M'
         |       WHEN abs(new_total) >= 1e3 THEN
         |         CAST(CAST(ROUND(new_total/1e3, 1) AS DECIMAL(28,1)) AS VARCHAR) || 'K'
         |       ELSE CAST(CAST(ROUND(new_total, 1) AS DECIMAL(28,1)) AS VARCHAR)
         |  END AS new_total_disp,
         |  CASE WHEN old_total IS NULL THEN '-'
         |       WHEN abs(old_total) >= 1e9 THEN
         |         CAST(CAST(ROUND(old_total/1e9, 1) AS DECIMAL(28,1)) AS VARCHAR) || 'B'
         |       WHEN abs(old_total) >= 1e6 THEN
         |         CAST(CAST(ROUND(old_total/1e6, 1) AS DECIMAL(28,1)) AS VARCHAR) || 'M'
         |       WHEN abs(old_total) >= 1e3 THEN
         |         CAST(CAST(ROUND(old_total/1e3, 1) AS DECIMAL(28,1)) AS VARCHAR) || 'K'
         |       ELSE CAST(CAST(ROUND(old_total, 1) AS DECIMAL(28,1)) AS VARCHAR)
         |  END AS old_total_disp
         |FROM j""".stripMargin
    })),
    QuerySpec("qc_threshold", (s, d) => Recon.thresholdQc(s, d),
      Oracle({
      def side(yr: Int) =
        s"""SELECT concat_ws(' | ', c_mktsegment, n_name) AS qc_key,
           |       ROUND(SUM(o_totalprice), 2) AS total
           |FROM orders JOIN customer ON o_custkey = c_custkey
           |     JOIN nation ON c_nationkey = n_nationkey
           |WHERE year(o_orderdate) = $yr GROUP BY 1""".stripMargin
      s"""WITH nw AS (${side(1996)}), old AS (${side(1995)}),
         |j AS (
         |  SELECT COALESCE(nw.qc_key, old.qc_key) AS qc_key,
         |         COALESCE(nw.total, 0.0) AS new_total,
         |         COALESCE(old.total, 0.0) AS old_total
         |  FROM nw FULL OUTER JOIN old ON nw.qc_key = old.qc_key
         |)
         |SELECT qc_key, new_total, old_total,
         |  ROUND(CASE WHEN old_total = 0 THEN NULL
         |        ELSE (new_total - old_total) / old_total END, 6)
         |    AS variance_pct,
         |  CASE WHEN old_total = 0 THEN
         |         CASE WHEN new_total = 0 THEN 'PASS' ELSE 'FAIL' END
         |       WHEN abs((new_total - old_total) / old_total) <= 0.15
         |         THEN 'PASS' ELSE 'FAIL'
         |  END AS status
         |FROM j""".stripMargin
    })),
    QuerySpec("qc_before_after", (s, d) => Recon.beforeAfterValidation(s, d),
      Oracle("""WITH b AS (
        |  SELECT l_partkey, ROUND(SUM(l_quantity), 2) AS total_before
        |  FROM lineitem GROUP BY 1
        |),
        |a AS (
        |  SELECT l_partkey, ROUND(
        |    COALESCE(SUM(l_quantity) FILTER (WHERE l_linestatus = 'F'), 0.0)
        |    + COALESCE(SUM(l_quantity) FILTER (WHERE l_linestatus = 'O'), 0.0),
        |    2) AS total_after
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT b.l_partkey, total_before, total_after,
        |  ROUND(total_after - total_before, 6) AS delta,
        |  CASE WHEN abs(ROUND(total_after - total_before, 6)) <= 0.001
        |       THEN 'PASS' ELSE 'FAIL' END AS status
        |FROM b JOIN a ON b.l_partkey = a.l_partkey""".stripMargin)),
    QuerySpec("qc_multilevel_totals", (s, d) => Recon.multiLevelTotals(s, d),
      Oracle("""SELECT c_mktsegment AS bu, n_name AS country,
        |       ROUND(SUM(o_totalprice), 2) AS total,
        |       COUNT(*) AS n_rows,
        |       GROUPING(c_mktsegment, n_name) AS level
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |     JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((c_mktsegment), (n_name),
        |                        (c_mktsegment, n_name))""".stripMargin)),
    QuerySpec("f_date_functions", (s, d) =>
      Star.calendar(s, d).select(
        col("month_start"),
        col("month_year"),
        parseMonthLabel(col("month_year")).as("reparsed"),
        weekStart(col("month_start")).as("week_start"),
        col("fiscal_year"),
        monthKey(col("month_start"), 6).as("month_key_plus6"),
        snapshotLabel(col("month_start")).as("snapshot_label")),
      Oracle(s"""WITH ${Star.CalendarSql}
         |SELECT month_start, month_year,
         |       CAST(strptime(month_year, '%b %Y') AS DATE) AS reparsed,
         |       CAST(date_trunc('week', month_start) AS DATE) AS week_start,
         |       fiscal_year,
         |       year(month_start + INTERVAL 6 MONTH)*100
         |         + month(month_start + INTERVAL 6 MONTH) AS month_key_plus6,
         |       strftime(CAST(date_trunc('month', month_start) AS DATE),
         |         '%m/%d/%Y') AS snapshot_label
         |FROM calendar""".stripMargin)),
    QuerySpec("f_cleaning_keys", (s, d) =>
      Tables(s, d, "part").select(
        col("p_partkey"),
        skuKey(lpad(col("p_partkey").cast("string"), 8, "0")).as("sku"),
        buMatKey(col("p_brand"), col("p_partkey").cast("string"))
          .as("bu_mat_key"),
        zeroPad(col("p_size").cast("string"), 4).as("size_padded"),
        recodeBu(when(col("p_partkey") % 5 === 0, "SRG")
          .when(col("p_partkey") % 5 === 1, "DOP")
          .otherwise(col("p_brand"))).as("bu_recoded"),
        ageBucket(col("p_size"), 25).as("age_bucket"),
        round(incomingOrders(col("p_retailprice"), col("p_size").cast("double"),
          lit(0.5)), 4).as("net_orders")),
      Oracle("""SELECT p_partkey,
        |  'SKU-' || regexp_replace(lpad(CAST(p_partkey AS VARCHAR), 8, '0'),
        |    '^0+', '') AS sku,
        |  upper(p_brand || '|' || CAST(p_partkey AS VARCHAR)) AS bu_mat_key,
        |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
        |  CASE WHEN (CASE WHEN p_partkey % 5 = 0 THEN 'SRG'
        |             WHEN p_partkey % 5 = 1 THEN 'DOP'
        |             ELSE p_brand END) = 'SRG' THEN 'SUR'
        |       WHEN (CASE WHEN p_partkey % 5 = 0 THEN 'SRG'
        |             WHEN p_partkey % 5 = 1 THEN 'DOP'
        |             ELSE p_brand END) IN ('DOP', 'DOP-C', 'DOP-S')
        |         THEN 'DISC'
        |       ELSE (CASE WHEN p_partkey % 5 = 0 THEN 'SRG'
        |             WHEN p_partkey % 5 = 1 THEN 'DOP'
        |             ELSE p_brand END) END AS bu_recoded,
        |  CASE WHEN p_size >= 25 THEN 'aged' ELSE 'current' END AS age_bucket,
        |  ROUND((p_retailprice - CAST(p_size AS DOUBLE)) * 0.5, 4)
        |    AS net_orders
        |FROM part""".stripMargin)),
    QuerySpec("f_fy_from_text", (s, d) =>
      Tables(s, d, "orders")
        .select(col("o_orderkey"),
          concat(lit("plan FY"), lpad((year(col("o_orderdate")) % 100)
            .cast("string"), 2, "0"), lit(" rev ")).as("label"))
        .select(col("o_orderkey"), col("label"),
          fyYearFromText(col("label")).as("fy")),
      Oracle("""SELECT o_orderkey,
        |       'plan FY' || lpad(CAST(year(o_orderdate) % 100 AS VARCHAR),
        |         2, '0') || ' rev ' AS label,
        |       (year(o_orderdate) % 100) + 2000 AS fy
        |FROM orders""".stripMargin)),
    // P6: the last-12-months regex-month filter over text attributes
    // (reference datavalidation.py:173-234) — pattern generated once
    // from Star.AsOf, identical string in both engines
    QuerySpec("p6_month_regex_filter", (s, d) =>
      Tables(s, d, "orders")
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 2 === 0,
            date_format(col("o_orderdate"), "yyyyMM"))
            .otherwise(date_format(col("o_orderdate"), "MMM yyyy"))
            .as("attribute"))
        .filter(graft.functions.MonthRegex.lastMonthsFilter(
          col("attribute"), java.time.LocalDate.parse(Star.AsOf))),
      Oracle({
      val pat = graft.functions.MonthRegex.pattern(
        java.time.LocalDate.parse(Star.AsOf))
      s"""SELECT * FROM (
         |  SELECT o_orderkey,
         |         CASE WHEN o_orderkey % 2 = 0
         |              THEN strftime(o_orderdate, '%Y%m')
         |              ELSE strftime(o_orderdate, '%b %Y')
         |         END AS attribute
         |  FROM orders
         |) WHERE regexp_matches(attribute, '$pat')""".stripMargin
    })),
    // Schema-drift QC: the pre-batch check that the upstream feed's
    // schema still matches the last snapshot — simulated evolution
    // (drop l_tax, widen l_linenumber, add source_tag); the oracle
    // recomputes the drift from DuckDB's own DESCRIBE of the same
    // evolution, so the canonical type-name mapping is cross-checked
    QuerySpec("qc_schema_drift", (s, d) => {
      val before = Tables(s, d, "lineitem")
      val after = before.drop("l_tax")
        .withColumn("l_linenumber", col("l_linenumber").cast("long"))
        .withColumn("source_tag", lit("curated"))
      Recon.schemaDrift(before, after)
    },
      Oracle("""WITH b AS (SELECT column_name, column_type
        |           FROM (DESCRIBE SELECT * FROM lineitem)),
        |a AS (SELECT column_name, column_type FROM (
        |  DESCRIBE SELECT * EXCLUDE (l_tax)
        |             REPLACE (CAST(l_linenumber AS BIGINT) AS l_linenumber),
        |           CAST('curated' AS VARCHAR) AS source_tag FROM lineitem))
        |SELECT COALESCE(b.column_name, a.column_name) AS column_name,
        |  CASE WHEN b.column_name IS NULL THEN 'added'
        |       WHEN a.column_name IS NULL THEN 'dropped'
        |       WHEN b.column_type <> a.column_type THEN 'type_changed'
        |       ELSE 'unchanged' END AS status,
        |  b.column_type AS type_before, a.column_type AS type_after
        |FROM b FULL OUTER JOIN a ON b.column_name = a.column_name""".stripMargin)),
    // Referential-integrity audit across three relations; the
    // events->customer relation has real orphans (user ids beyond the
    // customer key range), the star relations audit clean
    QuerySpec("qc_referential", (s, d) =>
      Recon.referentialAudit(Seq(
        ("lineitem->orders", Tables(s, d, "lineitem"), "l_orderkey",
          Tables(s, d, "orders"), "o_orderkey"),
        ("orders->customer", Tables(s, d, "orders"), "o_custkey",
          Tables(s, d, "customer"), "c_custkey"),
        ("events->customer", Tables(s, d, "events"), "user_id",
          Tables(s, d, "customer"), "c_custkey"))),
      Oracle({
      def rel(name: String, child: String, fk: String, parent: String,
          pk: String) =
        s"""SELECT '$name' AS relation,
           |  CAST(COUNT(*) AS BIGINT) AS n_child,
           |  CAST(SUM(CASE WHEN p.$pk IS NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_orphans
           |FROM $child c LEFT JOIN (SELECT DISTINCT $pk FROM $parent) p
           |  ON c.$fk = p.$pk""".stripMargin
      s"""WITH u AS (
         |${rel("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey")}
         |UNION ALL
         |${rel("orders->customer", "orders", "o_custkey", "customer", "c_custkey")}
         |UNION ALL
         |${rel("events->customer", "events", "user_id", "customer", "c_custkey")}
         |)
         |SELECT relation, n_child, n_orphans,
         |  (n_orphans * 1000000) // n_child AS orphan_ppm
         |FROM u""".stripMargin
    })),
    // Completeness audit: days 15/16 are deterministically blinded so
    // the gap report has something to find at every SF
    QuerySpec("qc_missing_days", (s, d) =>
      Recon.missingDays(Tables(s, d, "events")
        .filter(!dayofmonth(col("ts")).isin(15, 16))),
      Oracle("""WITH e AS (SELECT ts FROM events WHERE day(ts) NOT IN (15, 16)),
        |s AS (SELECT CAST(min(ts) AS DATE) AS d0,
        |             CAST(max(ts) AS DATE) AS d1 FROM e),
        |x AS (SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |        CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |      FROM s),
        |o AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM e)
        |SELECT x.day FROM x LEFT JOIN o ON x.day = o.day
        |WHERE o.day IS NULL""".stripMargin)),
    // first-digit distribution of positive cent amounts vs the
    // precomputed Benford literals; deviation by subtraction
    QuerySpec("qc_benford", (s, d) =>
      Recon.benfordAudit(Tables(s, d, "orders"), "o_totalprice"),
      // same digit extraction (decimal string of cents, no float log)
      // and the same Benford integer literals
      Oracle({
      val expCase = Recon.BenfordE6
        .map { case (dg, e) => s"WHEN digit = $dg THEN CAST($e AS BIGINT)" }
        .mkString("CASE ", " ", " END")
      s"""WITH c AS (
         |  SELECT CAST(floor(CAST(o_totalprice AS DOUBLE)
         |    * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
         |    AS cents
         |  FROM orders),
         |dg AS (SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1)
         |           AS BIGINT) AS digit,
         |         CAST(count(*) AS BIGINT) AS n
         |       FROM c WHERE cents > 0 GROUP BY 1),
         |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM dg)
         |SELECT digit, n,
         |  CAST((n * 1000000) // t.total AS BIGINT) AS obs_ppm,
         |  $expCase AS exp_ppm,
         |  CAST((n * 1000000) // t.total - ($expCase) AS BIGINT)
         |    AS dev_ppm
         |FROM dg CROSS JOIN t""".stripMargin
    })),
    // X136: Herfindahl concentration of order revenue across customers
    // within each nation — quantized-share HHI, exact integers
    QuerySpec("qc_concentration", (s, d) =>
      Recon.concentrationAudit(Tables(s, d, "orders"),
        Tables(s, d, "customer"), Tables(s, d, "nation")),
      // member shares quantize to ppm via truncating integer division
      // BEFORE squaring, so the reported HHI is the HHI of the quantized
      // shares — exact in both engines; SUMs cast out of HUGEINT
      Oracle("""WITH mr AS (
        |  SELECT n_name, o_custkey,
        |    CAST(SUM(CAST(floor(CAST(o_totalprice AS DOUBLE)
        |      * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |t AS (
        |  SELECT n_name, CAST(SUM(cents) AS BIGINT) AS total_cents,
        |         CAST(COUNT(*) AS BIGINT) AS n_members
        |  FROM mr GROUP BY 1),
        |s AS (
        |  SELECT mr.n_name, t.total_cents, t.n_members,
        |         (cents * 1000000) // total_cents AS share_ppm
        |  FROM mr JOIN t USING (n_name))
        |SELECT n_name,
        |  MAX(n_members) AS n_members,
        |  MAX(total_cents) AS total_cents,
        |  CAST(MAX(share_ppm) AS BIGINT) AS top1_share_ppm,
        |  CAST(SUM(share_ppm * share_ppm) AS BIGINT) // 1000000
        |    AS hhi_ppm
        |FROM s GROUP BY 1""".stripMargin)),
    // X160: Gini inequality beside X136's HHI — rank-weighted, sees
    // the whole curve where HHI sees the top shares
    QuerySpec("qc_gini", (s, d) =>
      Recon.giniAudit(Tables(s, d, "orders"),
        Tables(s, d, "customer"), Tables(s, d, "nation")),
      // ascending rank by (cents, custkey); numerator provably >= 0 so
      // the truncating div never sees a negative operand
      Oracle("""WITH mr AS (
        |  SELECT n_name, o_custkey,
        |    CAST(SUM(CAST(floor(CAST(o_totalprice AS DOUBLE)
        |      * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))
        |      AS BIGINT) // 100 AS dollars
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT n_name, dollars,
        |    CAST(row_number() OVER (PARTITION BY n_name
        |      ORDER BY dollars, o_custkey) AS BIGINT) AS rk
        |  FROM mr)
        |SELECT n_name,
        |  CAST(COUNT(*) AS BIGINT) AS n_members,
        |  CAST(SUM(dollars) AS BIGINT) AS total_dollars,
        |  CAST(((2 * SUM(rk * dollars)
        |    - (COUNT(*) + 1) * SUM(dollars)) * 1000000)
        |    // (COUNT(*) * SUM(dollars)) AS BIGINT) AS gini_e6
        |FROM r GROUP BY 1""".stripMargin)),
    // X280: mutual information between event type and hour-of-day in
    // integer bits (the X205 bits form applied to a cross-tab) — the
    // dependence/leakage screen; cell-grain aggregate, three
    // reductions over the persisted cell frame
    QuerySpec("qc_mutual_info", (s, d) =>
      Recon.mutualInfoBits(Tables(s, d, "events"),
        col("event_type"), hour(col("ts")).cast("long")),
      // same bits device as the X205 entropy oracle (length of the
      // binary form via format('{:b}', …)), applied to the cross-tab
      // and its two marginals; all operands non-negative so // ≡ div
      Oracle(s"""WITH ct AS (
         |  SELECT event_type AS a, CAST(hour(ts) AS BIGINT) AS b,
         |         CAST(count(*) AS BIGINT) AS c
         |  FROM events GROUP BY 1, 2),
         |ca AS (SELECT a, CAST(SUM(c) AS BIGINT) AS c FROM ct GROUP BY 1),
         |cb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS c FROM ct GROUP BY 1),
         |hx AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
         |              CAST(count(*) AS BIGINT) AS levels_a,
         |              CAST(SUM(c * length(format('{:b}', c)))
         |                AS BIGINT) AS cb_a FROM ca),
         |hy AS (SELECT CAST(count(*) AS BIGINT) AS levels_b,
         |              CAST(SUM(c * length(format('{:b}', c)))
         |                AS BIGINT) AS cb_b FROM cb),
         |hz AS (SELECT CAST(count(*) AS BIGINT) AS cells,
         |              CAST(SUM(c * length(format('{:b}', c)))
         |                AS BIGINT) AS cb_ab FROM ct),
         |e AS (SELECT n, levels_a, levels_b, cells,
         |  CAST(((n * length(format('{:b}', n)) - cb_a) * 1000000)
         |    // greatest(n, 1) AS BIGINT) AS ha_bits_e6,
         |  CAST(((n * length(format('{:b}', n)) - cb_b) * 1000000)
         |    // greatest(n, 1) AS BIGINT) AS hb_bits_e6,
         |  CAST(((n * length(format('{:b}', n)) - cb_ab) * 1000000)
         |    // greatest(n, 1) AS BIGINT) AS hab_bits_e6
         |  FROM hx, hy, hz)
         |SELECT n, levels_a, levels_b, cells, ha_bits_e6, hb_bits_e6,
         |  hab_bits_e6,
         |  CAST(ha_bits_e6 + hb_bits_e6 - hab_bits_e6 AS BIGINT)
         |    AS mi_bits_e6
         |FROM e""".stripMargin)),
    // X281: chi-square independence audit (nation x market segment) —
    // exact-rational per-cell contributions in decimal(38), absent
    // cells folded in closed form; beside X280's MI ranking
    QuerySpec("qc_chisq_independence", (s, d) =>
      Recon.chisqIndependence(Tables(s, d, "customer"),
        col("c_nationkey").cast("long"), col("c_mktsegment")),
      // exact-rational per-cell chi-square in HUGEINT (mirrors the
      // Spark decimal(38,0) leg); absent-cell mass in closed form —
      // one floor over the absent pool, per the scaladoc contract
      Oracle(s"""WITH ct AS (
         |  SELECT CAST(c_nationkey AS BIGINT) AS a, c_mktsegment AS b,
         |         CAST(count(*) AS BIGINT) AS c_ab
         |  FROM customer GROUP BY 1, 2),
         |ma AS (SELECT a, CAST(SUM(c_ab) AS BIGINT) AS c_a
         |       FROM ct GROUP BY 1),
         |mb AS (SELECT b, CAST(SUM(c_ab) AS BIGINT) AS c_b
         |       FROM ct GROUP BY 1),
         |nn AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n,
         |              CAST(count(*) AS BIGINT) AS cells FROM ct),
         |pres AS (SELECT
         |    CAST(SUM(CAST(
         |      (CAST(n AS HUGEINT) * c_ab - CAST(c_a AS HUGEINT) * c_b)
         |      * (CAST(n AS HUGEINT) * c_ab - CAST(c_a AS HUGEINT) * c_b)
         |      * 1000000 // (CAST(n AS HUGEINT) * c_a * c_b)
         |      AS BIGINT)) AS BIGINT) AS present_e6,
         |    SUM(CAST(c_a AS HUGEINT) * c_b) AS s_present
         |  FROM ct JOIN ma ON ct.a = ma.a JOIN mb ON ct.b = mb.b, nn),
         |la AS (SELECT CAST(count(*) AS BIGINT) AS levels_a FROM ma),
         |lb AS (SELECT CAST(count(*) AS BIGINT) AS levels_b FROM mb)
         |SELECT n, cells, levels_a, levels_b, dof, chi2_e6,
         |  CAST(chi2_e6 // nullif(n * (least(levels_a, levels_b) - 1),
         |    0) AS BIGINT) AS cramers_v2_e6
         |FROM (SELECT n, cells, levels_a, levels_b,
         |  CAST((levels_a - 1) * (levels_b - 1) AS BIGINT) AS dof,
         |  CAST(present_e6 +
         |    CAST((CAST(n AS HUGEINT) * n - s_present) * 1000000
         |      // greatest(n, 1) AS BIGINT) AS BIGINT) AS chi2_e6
         |FROM pres, nn, la, lb)""".stripMargin)),
    // X297: candidate-key discovery over the declared candidate list
    // — exact distinct counts, NULL disqualification, key verdicts
    QuerySpec("qc_key_discovery", (s, d) =>
      Recon.keyDiscovery(Tables(s, d, "orders"), KeyCandidates),
      // one scalar-subquery block per candidate, generated from the
      // same KeyCandidates constant as the Spark leg
      Oracle({
      def block(cand: Seq[String]): String = {
        val cols = cand.mkString(", ")
        val anyNull = cand.map(c => s"$c IS NULL").mkString(" OR ")
        s"""SELECT '${cand.mkString(",")}' AS candidate,
           |  CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_rows,
           |  CAST((SELECT count(*) FROM
           |    (SELECT DISTINCT $cols FROM orders)) AS BIGINT)
           |    AS n_distinct,
           |  CAST((SELECT SUM(CASE WHEN $anyNull THEN 1 ELSE 0 END)
           |    FROM orders) AS BIGINT) AS n_null_rows""".stripMargin
      }
      s"""SELECT candidate, n_rows, n_distinct, n_null_rows,
         |  CAST((n_distinct * 1000000) // greatest(n_rows, 1)
         |    AS BIGINT) AS unique_ppm,
         |  CAST(CASE WHEN n_distinct = n_rows AND n_null_rows = 0
         |       THEN 1 ELSE 0 END AS BIGINT) AS is_key
         |FROM (${KeyCandidates.map(block).mkString("\nUNION ALL\n")})"""
        .stripMargin
    })),
    // X235: rare-level screen over part's categorical columns — the
    // pre-encoding fold-into-OTHER list; NULL is a level
    QuerySpec("qc_rare_levels", (s, d) =>
      Recon.rareLevels(Tables(s, d, "part"),
        Seq("p_brand", "p_type", "p_size")),
      // declared columns unioned to (column, level) grain, column
      // totals joined back at level grain
      Oracle({
      val bar = graft.qc.Recon.RareLevelPpm
      """WITH lv AS (
        |  SELECT 'p_brand' AS column_name,
        |         CAST(p_brand AS VARCHAR) AS level FROM part
        |  UNION ALL
        |  SELECT 'p_type', CAST(p_type AS VARCHAR) FROM part
        |  UNION ALL
        |  SELECT 'p_size', CAST(p_size AS VARCHAR) FROM part),
        |c AS (SELECT column_name, level, CAST(count(*) AS BIGINT) AS n
        |      FROM lv GROUP BY 1, 2),
        |t AS (SELECT column_name, CAST(SUM(n) AS BIGINT) AS n_col
        |      FROM c GROUP BY 1)
        |SELECT c.column_name, c.level, c.n,
        |  CAST((c.n * 1000000) // greatest(t.n_col, 1) AS BIGINT)
        |    AS ppm,
        |  CAST(CASE WHEN (c.n * 1000000) // greatest(t.n_col, 1)
        |""".stripMargin +
      s"        < $bar THEN 1 ELSE 0 END AS BIGINT) AS is_rare\n" +
      "FROM c JOIN t USING (column_name)"
    })),
    // X243: id-order vs time-order consistency — the replay-by-id
    // ingestion audit; a clean corpus reporting all-zero IS the check
    QuerySpec("qc_event_order", (s, d) =>
      Recon.eventOrderAudit(Tables(s, d, "events")),
      // same id-ordered lag, microsecond steps, ppm + worst backstep
      Oracle("""WITH g AS (
        |  SELECT user_id,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id ORDER BY event_id) AS step_us
        |  FROM events)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(CASE WHEN step_us < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_inversions,
        |  CAST((SUM(CASE WHEN step_us < 0 THEN 1 ELSE 0 END) * 1000000)
        |    // count(*) AS BIGINT) AS inversion_ppm,
        |  CAST(greatest(-MIN(step_us), 0) AS BIGINT)
        |    AS worst_backstep_us
        |FROM g WHERE step_us IS NOT NULL GROUP BY 1""".stripMargin)),
    // X177: join-cardinality preflight — predict an equi-join's exact
    // output size and its hottest keys from two keyed counts, before
    // paying for the join; events x events on user_id has real skew
    QuerySpec("qc_join_preflight", (s, d) =>
      Recon.joinCardinalityPreflight(
        Tables(s, d, "events"), "user_id",
        Tables(s, d, "events"), "user_id"),
      // same two keyed counts; ties break by key text
      Oracle("""WITH ca AS (
        |  SELECT user_id AS key, CAST(COUNT(*) AS BIGINT) AS ca
        |  FROM events GROUP BY 1),
        |cb AS (
        |  SELECT user_id AS key, CAST(COUNT(*) AS BIGINT) AS cb
        |  FROM events GROUP BY 1),
        |per AS (
        |  SELECT ca.key, ca.ca, cb.cb,
        |    CAST(ca.ca * cb.cb AS BIGINT) AS out_rows
        |  FROM ca JOIN cb ON ca.key = cb.key),
        |top AS (
        |  -- LIMIT before the VARCHAR cast: ORDER BY key must bind the
        |  -- NUMERIC column, not a string output alias
        |  SELECT key, ca, cb, out_rows
        |  FROM per ORDER BY out_rows DESC, key ASC LIMIT 10)
        |SELECT CAST(key AS VARCHAR) AS key, ca, cb, out_rows FROM top
        |UNION ALL
        |SELECT '__total__', CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
        |  CAST(SUM(out_rows) AS BIGINT)
        |FROM per""".stripMargin)),
    // X173: ID-space completeness audit — missing RANGES over a dense
    // id domain via the two-level bucket device; single ids (every
    // 97th) and a 100-wide block per 5000 are deterministically
    // blinded so the report has both gap shapes to find at every SF
    QuerySpec("qc_id_gaps", (s, d) =>
      Recon.idGapAudit(Tables(s, d, "events")
        .filter(col("event_id") % 97 =!= 0 &&
          expr("(event_id div 100) % 50") =!= 7), "event_id"),
      // the oracle is the naive single-order lead — exactly what the
      // two-level device must reproduce
      Oracle("""WITH ids AS (
        |  SELECT DISTINCT CAST(event_id AS BIGINT) AS id FROM events
        |  WHERE event_id % 97 <> 0 AND (event_id // 100) % 50 <> 7),
        |g AS (
        |  SELECT id, lead(id) OVER (ORDER BY id) AS nxt FROM ids)
        |SELECT CAST(id + 1 AS BIGINT) AS gap_start,
        |  CAST(nxt - 1 AS BIGINT) AS gap_end,
        |  CAST(nxt - id - 1 AS BIGINT) AS n_missing
        |FROM g WHERE nxt - id > 1""".stripMargin)),
    // X167: declarative data-contract audit — every predicate rule is
    // a conditional sum in ONE aggregate (20 rules = one scan, where
    // the reference's datavalidation loop rescans per check)
    QuerySpec("qc_expectations", (s, d) =>
      Expectations.audit(Tables(s, d, "orders"),
        Expectations.OrdersContract),
      // generated from the SAME rule list as the engine plan (X153
      // device) — query and oracle cannot drift
      Oracle(Expectations.oracleSql("orders", Expectations.OrdersContract))),
    // X190: approximate-FD audit — all declared FDs in ONE scan via a
    // bounded unpivot + a two-level map-side-combinable agg chain
    QuerySpec("qc_fd_audit", (s, d) =>
      FdAudit.audit(Tables(s, d, "part"), FdAudit.PartContract),
      // generated from the SAME FD list as the engine plan
      Oracle(FdAudit.oracleSql("part", FdAudit.PartContract))),
    // X194: inclusion-dependency audit — FK discovery at distinct-
    // VALUE grain: one scan per referenced table regardless of how
    // many candidates cite it, verdict join carries value domains
    QuerySpec("qc_ind_audit", (s, d) => IndAudit.audit(s, d),
      // generated from the SAME candidate list as the engine plan
      Oracle(IndAudit.oracleSql())),
    // X200: exact two-sample KS drift between the same year slices —
    // sup |F1·n2 − F2·n1| over the exact merged cent support via ONE
    // distributed prefix scan of the signed per-value delta
    QuerySpec("qc_ks_drift", (s, d) => {
      val o = Tables(s, d, "orders")
      Recon.ksDrift(
        o.filter(year(col("o_orderdate")) === 1995),
        o.filter(year(col("o_orderdate")) === 1996),
        "o_totalprice")
    },
      // fixed cent-width buckets; |c1*N2 - c2*N1| is the exact-integer
      // TV contribution (the X134 device on numeric buckets)
      // the same signed-delta running sum, as a plain ordered window
      // (DuckDB's window is fine single-node; the engine side uses the
      // two-phase scan for the same values); dev/ppm spellings identical
      Oracle("""WITH b AS (
        |  SELECT CAST(floor(CAST(o_totalprice AS DOUBLE)
        |    * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
        |    AS v
        |  FROM orders WHERE year(o_orderdate) = 1995),
        |a AS (
        |  SELECT CAST(floor(CAST(o_totalprice AS DOUBLE)
        |    * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
        |    AS v
        |  FROM orders WHERE year(o_orderdate) = 1996),
        |cb AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c1
        |       FROM b GROUP BY 1),
        |ca AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c2
        |       FROM a GROUP BY 1),
        |t AS (SELECT CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n1,
        |             CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n2),
        |m AS (
        |  SELECT COALESCE(cb.v, ca.v) AS v,
        |    COALESCE(c1, 0) AS c1, COALESCE(c2, 0) AS c2
        |  FROM cb FULL OUTER JOIN ca ON cb.v = ca.v),
        |s AS (
        |  SELECT v, n1, n2,
        |    abs(SUM(c1 * n2 - c2 * n1) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |      AS adev
        |  FROM m CROSS JOIN t),
        |mx AS (SELECT CAST(MAX(adev) AS BIGINT) AS ks_dev FROM s)
        |SELECT n1, n2, ks_dev,
        |  CAST(ks_dev // greatest((n1 * n2) // 1000000, 1) AS BIGINT)
        |    AS ks_ppm,
        |  CAST(MIN(v) AS BIGINT) AS at_cents
        |FROM s CROSS JOIN mx WHERE adev = ks_dev
        |GROUP BY 1, 2, 3""".stripMargin)),
    // X161: numeric distribution drift between two year slices —
    // exact cross-multiplied TV contributions per $20k bucket
    QuerySpec("qc_value_drift", (s, d) => {
      val o = Tables(s, d, "orders")
      Recon.valueDrift(
        o.filter(year(col("o_orderdate")) === 1995),
        o.filter(year(col("o_orderdate")) === 1996),
        "o_totalprice", bucketWidthCents = 2000000L)
    },
      Oracle("""WITH b AS (
        |  SELECT CAST(floor(CAST(o_totalprice AS DOUBLE)
        |    * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
        |    // 2000000 AS bucket
        |  FROM orders WHERE year(o_orderdate) = 1995),
        |a AS (
        |  SELECT CAST(floor(CAST(o_totalprice AS DOUBLE)
        |    * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
        |    // 2000000 AS bucket
        |  FROM orders WHERE year(o_orderdate) = 1996),
        |cb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c1
        |       FROM b GROUP BY 1),
        |ca AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c2
        |       FROM a GROUP BY 1),
        |t AS (SELECT CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n1,
        |             CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n2)
        |SELECT COALESCE(cb.bucket, ca.bucket) AS bucket,
        |  COALESCE(c1, 0) AS c1, COALESCE(c2, 0) AS c2, n1, n2,
        |  CAST(abs(COALESCE(c1, 0) * n2 - COALESCE(c2, 0) * n1)
        |    AS BIGINT) AS tv_contrib
        |FROM cb FULL OUTER JOIN ca ON cb.bucket = ca.bucket
        |CROSS JOIN t""".stripMargin)),
    // X158: order-independent table fingerprints — the cheap
    // cross-system equality screen over the same evolution pair; equal
    // buckets are untouched, differing ones bound the re-check
    QuerySpec("qc_fingerprint_diff", (s, d) => {
      val b = Tables(s, d, "customer").select(col("c_custkey"),
        round(col("c_acctbal") * 100).cast("long").as("cents"))
      val after = b.filter(col("c_custkey") % 11 =!= 0)
        .withColumn("cents", when(col("c_custkey") % 7 === 0,
          col("cents") + 10000L).otherwise(col("cents")))
        .unionByName(b.filter(col("c_custkey") % 13 === 0)
          .select((col("c_custkey") + 10000000L).as("c_custkey"),
            col("cents")))
      Recon.fingerprintDiff(b, after, Seq("c_custkey", "cents"),
        "c_custkey")
    },
      // the per-bucket SUM of row hashes is order/partition/engine
      // independent; (n, fp) travel together as the collision screen
      Oracle({
      val h = OracleSql.hex8("md5(CAST(c_custkey AS VARCHAR) || '|' " +
        "|| CAST(cents AS VARCHAR))")
      s"""WITH b AS (SELECT c_custkey,
         |             CAST(round(c_acctbal * 100) AS BIGINT) AS cents
         |           FROM customer),
         |a AS (
         |  SELECT c_custkey,
         |         CASE WHEN c_custkey % 7 = 0 THEN cents + 10000
         |              ELSE cents END AS cents
         |  FROM b WHERE c_custkey % 11 <> 0
         |  UNION ALL
         |  SELECT c_custkey + 10000000, cents FROM b
         |  WHERE c_custkey % 13 = 0),
         |fb AS (SELECT c_custkey % 16 AS bucket,
         |         CAST(COUNT(*) AS BIGINT) AS n_before,
         |         CAST(SUM($h) AS BIGINT) AS fp_before
         |       FROM b GROUP BY 1),
         |fa AS (SELECT c_custkey % 16 AS bucket,
         |         CAST(COUNT(*) AS BIGINT) AS n_after,
         |         CAST(SUM($h) AS BIGINT) AS fp_after
         |       FROM a GROUP BY 1)
         |SELECT COALESCE(fb.bucket, fa.bucket) AS bucket,
         |  COALESCE(n_before, 0) AS n_before,
         |  COALESCE(n_after, 0) AS n_after,
         |  COALESCE(fp_before, 0) AS fp_before,
         |  COALESCE(fp_after, 0) AS fp_after,
         |  CAST(CASE WHEN COALESCE(n_before, 0) = COALESCE(n_after, 0)
         |       AND COALESCE(fp_before, 0) = COALESCE(fp_after, 0)
         |       THEN 1 ELSE 0 END AS BIGINT) AS bucket_match
         |FROM fb FULL OUTER JOIN fa ON fb.bucket = fa.bucket"""
        .stripMargin
    })),
    // X147: incremental view maintenance — the CDC rows from the same
    // deterministic evolution maintain a bucketed (count, cents)
    // aggregate WITHOUT rescanning the base; the oracle recomputes
    // from the after-image, so equality proves delta application
    QuerySpec("ivm_incremental_agg", (s, d) => {
      val b = Tables(s, d, "customer").select(col("c_custkey"),
        round(col("c_acctbal") * 100).cast("long").as("cents"))
      val after = b.filter(col("c_custkey") % 11 =!= 0)
        .withColumn("cents", when(col("c_custkey") % 7 === 0,
          col("cents") + 10000L).otherwise(col("cents")))
        .unionByName(b.filter(col("c_custkey") % 13 === 0)
          .select((col("c_custkey") + 10000000L).as("c_custkey"),
            col("cents")))
      val baseAgg = b.groupBy((col("c_custkey") % 10).as("bucket"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("cents")).cast("long").as("cents"))
      val cdc = Recon.snapshotCdc(b, after, Seq("c_custkey"),
        Seq("cents"))
      Recon.applyCdcToAgg(baseAgg, cdc, col("c_custkey") % 10)
    },
      // the oracle aggregates the AFTER-image directly — the engine must
      // land on the same rows from base aggregate + deltas alone
      Oracle("""WITH b AS (SELECT c_custkey,
        |             CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |           FROM customer),
        |a AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 7 = 0 THEN cents + 10000
        |              ELSE cents END AS cents
        |  FROM b WHERE c_custkey % 11 <> 0
        |  UNION ALL
        |  SELECT c_custkey + 10000000, cents FROM b
        |  WHERE c_custkey % 13 = 0)
        |SELECT c_custkey % 10 AS bucket,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(cents) AS BIGINT) AS cents
        |FROM a GROUP BY 1""".stripMargin)),
    // Snapshot CDC over a deterministic evolution of customer:
    // %11 keys deleted, %7 balances bumped (exact cents), %13 keys
    // re-keyed high as inserts — every op class exercised
    QuerySpec("qc_snapshot_cdc", (s, d) => {
      val b = Tables(s, d, "customer").select(col("c_custkey"),
        round(col("c_acctbal") * 100).cast("long").as("cents"))
      val after = b.filter(col("c_custkey") % 11 =!= 0)
        .withColumn("cents", when(col("c_custkey") % 7 === 0,
          col("cents") + 10000L).otherwise(col("cents")))
        .unionByName(b.filter(col("c_custkey") % 13 === 0)
          .select((col("c_custkey") + 10000000L).as("c_custkey"),
            col("cents")))
      Recon.snapshotCdc(b, after, Seq("c_custkey"), Seq("cents"))
    },
      Oracle("""WITH b AS (SELECT c_custkey,
        |             CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |           FROM customer),
        |a AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 7 = 0 THEN cents + 10000
        |              ELSE cents END AS cents
        |  FROM b WHERE c_custkey % 11 <> 0
        |  UNION ALL
        |  SELECT c_custkey + 10000000, cents FROM b
        |  WHERE c_custkey % 13 = 0),
        |j AS (SELECT COALESCE(b.c_custkey, a.c_custkey) AS c_custkey,
        |        b.cents AS cents_before, a.cents AS cents_after,
        |        b.c_custkey IS NULL AS ins, a.c_custkey IS NULL AS del
        |      FROM b FULL OUTER JOIN a ON b.c_custkey = a.c_custkey)
        |SELECT c_custkey,
        |  CASE WHEN ins THEN 'insert' WHEN del THEN 'delete'
        |       ELSE 'update' END AS op,
        |  cents_before, cents_after
        |FROM j
        |WHERE ins OR del OR cents_before <> cents_after""".stripMargin)),
    // F23/F25/F26 dedicated rows (VERDICT r4 #1): K/M/B humanization
    // over grouped totals (all four magnitude branches + sign + NULL),
    // age bucketing, and the incoming-orders formula — the same shapes
    // dv_variance_report / f_cleaning_keys embed, isolated so each
    // function carries its own green row
    QuerySpec("f_display_functions", (s, d) =>
      Tables(s, d, "orders")
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(round(sum(col("o_totalprice")), 2).as("total"),
          count(lit(1)).as("n"))
        .select(col("priority"), col("total"), col("n"),
          humanize(col("total")).as("total_disp"),
          humanize(col("total") * 1000).as("big_disp"),
          humanize(-col("total")).as("neg_disp"),
          humanize(least(col("n"), lit(999L)).cast("double"))
            .as("small_disp"),
          humanize(lit(null).cast("double")).as("null_disp"),
          ageBucket(col("n"), 5000).as("n_bucket"),
          round(incomingOrders(col("total"),
            col("n").cast("double") * 100.0, lit(0.5)), 4)
            .as("net_orders")),
      Oracle(s"""WITH g AS (
         |  SELECT o_orderpriority AS priority,
         |         ROUND(SUM(o_totalprice), 2) AS total,
         |         COUNT(*) AS n
         |  FROM orders GROUP BY 1)
         |SELECT priority, total, n,
         |  ${humanizeSql("total")} AS total_disp,
         |  ${humanizeSql("total * 1000")} AS big_disp,
         |  ${humanizeSql("-total")} AS neg_disp,
         |  ${humanizeSql("CAST(least(n, 999) AS DOUBLE)")} AS small_disp,
         |  ${humanizeSql("CAST(NULL AS DOUBLE)")} AS null_disp,
         |  CASE WHEN n >= 5000 THEN 'aged' ELSE 'current' END AS n_bucket,
         |  ROUND((total - CAST(n AS DOUBLE) * 100.0) * 0.5, 4)
         |    AS net_orders
         |FROM g""".stripMargin)),
    // F30: list -> delimited string with enclosers (reference
    // `myConversionsClass.py:356-369`) — per-segment sorted key list,
    // each element quoted; array_sort fixes collect_list's
    // partition-order nondeterminism
    QuerySpec("f_list_join", (s, d) =>
      Tables(s, d, "customer")
        .filter(col("c_custkey") % 100 === 0)
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(array_join(
          transform(array_sort(collect_list(col("c_custkey").cast("string"))),
            v => concat(lit("'"), v, lit("'"))), ",").as("key_list")),
      Oracle("""SELECT c_mktsegment AS segment,
        |       string_agg('''' || CAST(c_custkey AS VARCHAR) || '''', ','
        |         ORDER BY CAST(c_custkey AS VARCHAR)) AS key_list
        |FROM customer WHERE c_custkey % 100 = 0
        |GROUP BY 1""".stripMargin)),
    // F3/F4/F15: keep-digits scrub, thousands-comma numeric parse
    // (NULL and 0-fill variants), M-yyyy month parse
    QuerySpec("f_cleaning_numeric", (s, d) =>
      Tables(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          concat(lit("$"), col("l_quantity").cast("string"), lit(" USD"))
            .as("raw_qty"),
          concat(col("l_orderkey").cast("string"), lit(",500"))
            .as("comma_val"),
          concat(month(col("l_shipdate")).cast("string"), lit("-"),
            year(col("l_shipdate")).cast("string")).as("month_txt"))
        .select(col("l_orderkey"), col("l_linenumber"),
          parseNumberNull(scrubNumeric(col("raw_qty"))).as("qty_clean"),
          parseNumberNull(col("comma_val")).as("comma_parsed"),
          parseNumberZero(col("raw_qty")).as("raw_zero_fill"),
          parseSlashMonth(col("month_txt")).as("month_parsed")),
      Oracle("""WITH src AS (
        |  SELECT l_orderkey, l_linenumber,
        |    '$' || CAST(l_quantity AS VARCHAR) || ' USD' AS raw_qty,
        |    CAST(l_orderkey AS VARCHAR) || ',500' AS comma_val,
        |    CAST(month(l_shipdate) AS VARCHAR) || '-'
        |      || CAST(year(l_shipdate) AS VARCHAR) AS month_txt
        |  FROM lineitem
        |)
        |SELECT l_orderkey, l_linenumber,
        |  TRY_CAST(replace(regexp_replace(raw_qty, '[^0-9.\-]', '', 'g'),
        |    ',', '') AS DOUBLE) AS qty_clean,
        |  TRY_CAST(replace(comma_val, ',', '') AS DOUBLE) AS comma_parsed,
        |  COALESCE(TRY_CAST(replace(raw_qty, ',', '') AS DOUBLE), 0.0)
        |    AS raw_zero_fill,
        |  TRY_CAST(strptime(replace(month_txt, '-', '/'), '%-m/%Y')
        |    AS DATE) AS month_parsed
        |FROM src""".stripMargin)))
}
