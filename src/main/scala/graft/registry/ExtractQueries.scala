package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Star
import graft.extract.Extracts
import graft.transform.{Runner, Transform}

/** Driver-contract registry for the DAX-extract family (SURVEY §2.1 S7,
  * §2.4 A4–A6/A9, §2.2 P7–P11, §2.3 J1/J12): all 15 reference scripts —
  * ActDemandBlank, ACT_DemandNonBlank1/2, FCST_DemandNonBlank1–7,
  * FCST_DemandBlank, BPC_VAD, BPCbySKU, ActUnknown, FcstUnknown — plus
  * the end-to-end transform. Oracle SQL is DuckDB-ANSI over the same
  * parquet tables; both engines derive the star schema from identical
  * expressions (Star.SiopSql / Star.CalendarSql) and both sides'
  * month-window literals derive from the same `Star.AsOf` constant.
  */
object ExtractQueries {
  private val W = s"WITH ${Star.SiopSql},\n${Star.CalendarSql}"

  /** yyyymm month key of AsOf + shift months — the DAX
    * `YEAR(EDATE(TODAY(), s))*100 + MONTH(EDATE(TODAY(), s))`
    * (`ACT_DemandNonBlank1.ps1:24-25`) with TODAY() pinned. */
  private def mk(shift: Int): Long = {
    val d = java.time.LocalDate.parse(Star.AsOf).plusMonths(shift)
    d.getYear * 100L + d.getMonthValue
  }

  /** One SQL shape for the 12 window scripts (see Extracts.windowedExtract):
    * country-blankness dual × month window [lo, hi), Cycle=Current, the
    * BU IN-list, calendar join, grouped sum, non-zero filter. */
  private def windowedSql(blank: Boolean, from: Int,
      to: Option[Int]): String = {
    val countryPred =
      if (blank) "(s.country IS NULL OR s.country = '')"
      else "s.country IS NOT NULL AND s.country <> ''"
    val seg = if (blank) "s.segment, " else ""
    val window = s"s.month_key >= ${mk(from)}" +
      to.fold("")(t => s" AND s.month_key < ${mk(t)}")
    s"""$W
       |SELECT * FROM (
       |  SELECT s.planning_system, s.material_id, s.sales_organization,
       |         s.reltio_bu, s.country, $seg c.month_year, c.month_sort,
       |         c.fiscal_year,
       |         ROUND(SUM(s.siop_consensus), 4) AS consensus
       |  FROM siop s JOIN calendar c ON s.month_key = c.month_sort
       |  WHERE $countryPred
       |    AND s.cycle = 'Current'
       |    AND s.reltio_bu IN ${Extracts.BuSetSql}
       |    AND $window
       |  GROUP BY ALL
       |) WHERE consensus <> 0""".stripMargin
  }

  /** FcstUnknown extract oracle — also the inner query of the
    * job_fcst_unknown runner oracle. */
  private val FcstUnknownSql: String = {
    val fys = Extracts.FcstFiscalYears.mkString("(", ", ", ")")
    s"""$W,
       |mx AS (SELECT MAX(snapshot_date) AS m FROM siop),
       |cal AS (SELECT * FROM calendar WHERE fiscal_year IN $fys)
       |SELECT * FROM (
       |  SELECT s.country, s.material_id, s.sales_organization,
       |         s.planning_system, s.snapshot_date, s.reltio_bu,
       |         ROUND(s.siop_consensus, 2) AS consensus,
       |         c.month_year, c.month_sort,
       |         COUNT(*) AS n_rows
       |  FROM siop s JOIN cal c ON s.month_key = c.month_sort
       |       CROSS JOIN mx
       |  WHERE s.siop_consensus <> 0 AND s.siop_consensus IS NOT NULL
       |    AND s.segment = '${Extracts.UnknownSegment}'
       |    AND s.month_key >= ${mk(0)}
       |    AND s.snapshot_date = mx.m
       |  GROUP BY ALL
       |) WHERE country IS NOT NULL OR material_id IS NOT NULL
       |      OR sales_organization IS NOT NULL
       |      OR planning_system IS NOT NULL OR snapshot_date IS NOT NULL
       |      OR reltio_bu IS NOT NULL OR consensus IS NOT NULL
       |      OR month_year IS NOT NULL OR month_sort IS NOT NULL""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("act_demand_blank", (s, d) => Extracts.actDemandBlank(s, d),
      Oracle(windowedSql(blank = true, -12, Some(0)))),
    QuerySpec("act_demand_nonblank_1", (s, d) =>
      Extracts.demandWindow(s, d, -6, Some(0)),
      Oracle(windowedSql(blank = false, -6, Some(0)))),
    QuerySpec("act_demand_nonblank_2", (s, d) =>
      Extracts.demandWindow(s, d, -12, Some(-6)),
      Oracle(windowedSql(blank = false, -12, Some(-6)))),
    QuerySpec("fcst_demand_window", (s, d) =>
      Extracts.demandWindow(s, d, 0, Some(6)),
      Oracle(windowedSql(blank = false, 0, Some(6)))),
    QuerySpec("fcst_demand_window_6_12", (s, d) =>
      Extracts.demandWindow(s, d, 6, Some(12)),
      Oracle(windowedSql(blank = false, 6, Some(12)))),
    QuerySpec("fcst_demand_window_12_18", (s, d) =>
      Extracts.demandWindow(s, d, 12, Some(18)),
      Oracle(windowedSql(blank = false, 12, Some(18)))),
    QuerySpec("fcst_demand_window_18_24", (s, d) =>
      Extracts.demandWindow(s, d, 18, Some(24)),
      Oracle(windowedSql(blank = false, 18, Some(24)))),
    QuerySpec("fcst_demand_window_24_30", (s, d) =>
      Extracts.demandWindow(s, d, 24, Some(30)),
      Oracle(windowedSql(blank = false, 24, Some(30)))),
    QuerySpec("fcst_demand_window_30_36", (s, d) =>
      Extracts.demandWindow(s, d, 30, Some(36)),
      Oracle(windowedSql(blank = false, 30, Some(36)))),
    QuerySpec("fcst_demand_window_36p", (s, d) =>
      Extracts.demandWindow(s, d, 36, None),
      Oracle(windowedSql(blank = false, 36, None))),
    QuerySpec("fcst_demand_blank", (s, d) => Extracts.fcstDemandBlank(s, d),
      Oracle(windowedSql(blank = true, 0, None))),
    QuerySpec("bpc_vad_summarize", (s, d) => Extracts.bpcVad(s, d),
      Oracle(s"""$W
         |SELECT * FROM (
         |  SELECT reltio_bu, country, segment,
         |         ROUND(SUM(siop_consensus), 4) AS actual_units,
         |         COUNT(*) AS n_rows
         |  FROM siop
         |  WHERE reltio_bu IS NULL OR reltio_bu NOT IN ('FURNITURE')
         |  GROUP BY ALL
         |) WHERE reltio_bu IS NOT NULL OR country IS NOT NULL
         |        OR segment IS NOT NULL""".stripMargin)),
    QuerySpec("bpc_by_sku_rollup", (s, d) => Extracts.bpcBySku(s, d),
      Oracle(s"""$W
         |SELECT reltio_bu, country,
         |       ROUND(SUM(siop_consensus), 4) AS units,
         |       GROUPING(reltio_bu, country) AS is_total
         |FROM siop GROUP BY ROLLUP (reltio_bu, country)""".stripMargin)),
    QuerySpec("act_unknown_latest_snapshot", (s, d) =>
      Extracts.actUnknown(s, d),
      Oracle(s"""$W, f AS (
         |  SELECT * FROM siop
         |  WHERE reltio_bu IN ${Extracts.BuSetSql} AND siop_consensus <> 0
         |)
         |SELECT reltio_bu, segment, snapshot_date,
         |       ROUND(SUM(siop_consensus), 4) AS units,
         |       COUNT(*) AS n_rows
         |FROM f WHERE snapshot_date = (SELECT MAX(snapshot_date) FROM f)
         |GROUP BY ALL""".stripMargin)),
    QuerySpec("fcst_unknown_latest_snapshot", (s, d) =>
      Extracts.fcstUnknown(s, d),
      Oracle(FcstUnknownSql)),
    QuerySpec("demand_to_final", (s, d) => Transform.actDemandBlankFinal(s, d),
      Oracle(s"""$W,
         |mapping AS (
         |  SELECT CAST(s_suppkey AS VARCHAR) AS map_sales_org,
         |         n_name AS corrected_country
         |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
         |),
         |ext AS (
         |  SELECT * FROM (
         |    SELECT s.planning_system, s.material_id, s.sales_organization,
         |           s.reltio_bu, s.country, s.segment, c.month_year,
         |           c.month_sort, c.fiscal_year,
         |           ROUND(SUM(s.siop_consensus), 4) AS consensus
         |    FROM siop s JOIN calendar c ON s.month_key = c.month_sort
         |    WHERE (s.country IS NULL OR s.country = '')
         |      AND s.cycle = 'Current'
         |      AND s.reltio_bu IN ${Extracts.BuSetSql}
         |      AND s.month_key >= ${mk(-12)} AND s.month_key < ${mk(0)}
         |    GROUP BY ALL
         |  ) WHERE consensus <> 0
         |)
         |SELECT COALESCE(e.planning_system, 'SIOP') AS source,
         |       DATE '${Star.AsOf}' AS snapshot,
         |       e.material_id AS material,
         |       e.sales_organization,
         |       CASE WHEN e.country IS NULL OR e.country = ''
         |            THEN m.corrected_country ELSE e.country END AS country,
         |       CAST(strptime(CAST(e.month_sort AS VARCHAR) || '01',
         |            '%Y%m%d') AS DATE) AS attribute,
         |       e.consensus AS value,
         |       'BLNK-C-' || trim(e.reltio_bu) AS bu
         |FROM ext e LEFT JOIN mapping m
         |  ON e.sales_organization = m.map_sales_org""".stripMargin)),
    // config-driven runner variants (pipeline/runner.py:22-178):
    // constant source/BU + blank sales org + F2 country cleaning, and
    // from-file snapshot + source-from-column
    QuerySpec("job_bpc_vad", (s, d) =>
      Runner.runJob(s, d, Runner.jobs("bpc_vad")),
      // runner variant: constant source/BU, blank sales org, F2 literal
      // replace-all of " Performance", no month grain -> NULL attribute
      Oracle(s"""$W,
         |ext AS (
         |  SELECT * FROM (
         |    SELECT material_id, reltio_bu,
         |           CASE WHEN country IS NOT NULL AND length(country) % 2 = 0
         |                THEN country || ' Performance' ELSE country
         |           END AS country,
         |           segment,
         |           ROUND(SUM(siop_consensus), 4) AS actual_units
         |    FROM siop
         |    WHERE reltio_bu IS NULL OR reltio_bu NOT IN ('FURNITURE')
         |    GROUP BY ALL
         |  ) WHERE material_id IS NOT NULL OR reltio_bu IS NOT NULL
         |        OR country IS NOT NULL OR segment IS NOT NULL
         |)
         |SELECT 'BPC' AS source,
         |       DATE '${Star.AsOf}' AS snapshot,
         |       material_id AS material,
         |       '' AS sales_organization,
         |       replace(country, ' Performance', '') AS country,
         |       CAST(NULL AS DATE) AS attribute,
         |       actual_units AS value,
         |       'MDS' AS bu
         |FROM ext""".stripMargin)),
    QuerySpec("job_fcst_unknown", (s, d) =>
      Runner.runJob(s, d, Runner.jobs("fcst_unknown")),
      // runner variant: snapshot taken from the extract's snapshot_date
      // column, source from the planning-system column
      Oracle(s"""WITH fu AS ($FcstUnknownSql)
         |SELECT planning_system AS source,
         |       snapshot_date AS snapshot,
         |       material_id AS material,
         |       sales_organization,
         |       country,
         |       CAST(strptime(CAST(month_sort AS VARCHAR) || '01',
         |            '%Y%m%d') AS DATE) AS attribute,
         |       consensus AS value,
         |       reltio_bu AS bu
         |FROM fu""".stripMargin)))
}
