package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** SIOP-style star schema derived deterministically from the TPC-H-ish
  * driver tables, per FIXTURES.md §2. This is the input shape of the
  * reference's 15 DAX extracts (reference:
  * `PowerShell script/ActDemandBlank.ps1:26-52`, `BPC_VAD.ps1:64-80`).
  *
  * Determinism: the reference's extracts key off `TODAY()`; every query
  * here takes a fixed as-of date instead (SURVEY.md §7.4).
  *
  * Scale notes: the fact derivation is a chain of equi-joins where only
  * `orders` is large relative to `lineitem`; `customer` and `nation` are
  * dimension-sized and broadcast. At 100 TB the lineitem⋈orders join
  * shuffles on the order key — both sides would be bucketed/partitioned
  * by that key in a real deployment; the declarative join lets AQE pick
  * broadcast vs sort-merge per actual size.
  *
  * The derived fact and calendar are SESSION-CACHED per (session, dir):
  * all 16 extract-family registry queries share one materialization of
  * the 4-table join instead of re-paying it per query (the reference
  * runs its 15 extracts against one shared Vertipaq model for the same
  * reason). The end-of-query release drops only query-lifetime blocks,
  * so this cache survives a whole Bench/Verify sweep.
  */
object Star {
  /** Fixed as-of date for all month-window extract queries. Chosen so
    * every reference window — trailing −12..0 through forecast +36..∞
    * (`FCST_DemandNonBlank7.ps1:24`) — is non-empty in the generated
    * data: `Cycle="Current"` rows ship in 1995-01..2001-11, so −12
    * months (1996-06) and +36 months (2000-06) both land inside that
    * range. */
  val AsOf = "1997-06-01"

  private def cached(spark: SparkSession, dir: String, key: String)(
      build: => DataFrame): DataFrame =
    SessionCache.cached(spark, s"star:$dir:$key")(build)

  /** The SIOP fact table: one row per lineitem with planning dims.
    * Cached per (session, dir) — see class doc. */
  def siop(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "siop") {
      // the small-SF fixture is ONE parquet file → one scan partition,
      // which pins the join + 11-column projection + cache write to a
      // single task (measured: ~5 s of the star build). Spreading the
      // fact on the join key costs one shuffle the join needed anyway;
      // a multi-split cluster table arrives pre-parallelized and a
      // bucketed deployment would skip this entirely (ScaleJoins).
      val li = Tables(spark, dir, "lineitem").repartition(col("l_orderkey"))
      val o  = Tables(spark, dir, "orders")
      val c  = Tables(spark, dir, "customer")
      val n  = Tables(spark, dir, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .select(
          concat(lit("PS-"), (col("l_suppkey") % 3).cast("string"))
            .as("planning_system"),
          col("l_partkey").cast("string").as("material_id"),
          col("l_suppkey").cast("string").as("sales_organization"),
          col("c_mktsegment").as("reltio_bu"),
          // blank-country rows synthesized deterministically (FIXTURES §2)
          when(col("c_custkey") % 7 === 0, lit(null: String))
            .otherwise(col("n_name")).as("country"),
          col("o_orderpriority").as("segment"),
          when(col("o_orderstatus") === "O", lit("Current"))
            .otherwise(lit("Prior")).as("cycle"),
          date_trunc("month", col("o_orderdate")).cast("date")
            .as("snapshot_date"),
          col("l_quantity").as("siop_consensus"),
          (year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
            .cast("long").as("month_key"),
          // raw scan column passthrough: month-window queries add a
          // redundant range predicate on this so the parquet reader can
          // prune row groups by l_shipdate min/max stats — a predicate on
          // the DERIVED month_key is not sargable and only filters
          // post-scan. (With the session cache the pushdown pays off on
          // the first materialization; cached reads filter in memory.)
          col("l_shipdate").as("ship_ts"))
    }

  /** Calendar dim (reference `ActDemandBlank.ps1:36-52` 'Calendar'):
    * month_sort yyyymm int, month_year "MMM yyyy", month_start date,
    * fiscal_year (FY starts October, `myConversionsClass.py:703-709`).
    *
    * Derived from a months-range `sequence()` over the lineitem min/max
    * ship date — a 1-row aggregate scan, NOT a full-table distinct
    * shuffle. Cached per (session, dir). */
  def calendar(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "calendar") {
      Tables(spark, dir, "lineitem")
        .agg(
          date_trunc("month", min(col("l_shipdate"))).cast("date").as("lo"),
          date_trunc("month", max(col("l_shipdate"))).cast("date").as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("interval 1 month"))).as("month_start"))
        .select(
          // derived ints are long so Spark parquet output matches the
          // DuckDB oracle's BIGINT arithmetic type-for-type
          (year(col("month_start")) * 100 + month(col("month_start")))
            .cast("long").as("month_sort"),
          date_format(col("month_start"), "MMM yyyy").as("month_year"),
          col("month_start"),
          when(month(col("month_start")) > 9, year(col("month_start")) + 1)
            .otherwise(year(col("month_start"))).cast("long")
            .as("fiscal_year"))
    }

  /** DuckDB-equivalent CTEs for the same derivations, prefixed onto
    * oracle SQL so both engines compute from identical base tables. */
  val SiopSql: String =
    """siop AS (
      |  SELECT 'PS-' || CAST(l_suppkey % 3 AS VARCHAR) AS planning_system,
      |         CAST(l_partkey AS VARCHAR) AS material_id,
      |         CAST(l_suppkey AS VARCHAR) AS sales_organization,
      |         c_mktsegment AS reltio_bu,
      |         CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE n_name END AS country,
      |         o_orderpriority AS segment,
      |         CASE WHEN o_orderstatus = 'O' THEN 'Current' ELSE 'Prior' END AS cycle,
      |         CAST(date_trunc('month', o_orderdate) AS DATE) AS snapshot_date,
      |         l_quantity AS siop_consensus,
      |         year(l_shipdate)*100 + month(l_shipdate) AS month_key
      |  FROM lineitem
      |  JOIN orders   ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation   ON c_nationkey = n_nationkey
      |)""".stripMargin

  val CalendarSql: String =
    """calendar AS (
      |  SELECT year(month_start)*100 + month(month_start) AS month_sort,
      |         strftime(month_start, '%b %Y') AS month_year,
      |         month_start,
      |         CASE WHEN month(month_start) > 9 THEN year(month_start) + 1
      |              ELSE year(month_start) END AS fiscal_year
      |  FROM (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH))
      |                 AS DATE) AS month_start
      |        FROM (SELECT CAST(date_trunc('month', MIN(l_shipdate)) AS DATE) AS lo,
      |                     CAST(date_trunc('month', MAX(l_shipdate)) AS DATE) AS hi
      |              FROM lineitem))
      |)""".stripMargin
}
