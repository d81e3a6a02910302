package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analytics.Analytics

/** Registry: reusable-analytics operators (SURVEY §2.5 W1–W4, §2.4
  * A3/A13, §2.3 J5/J6/J10, §2.8 F24/F27/F28) with DuckDB oracles.
  */
object AnalyticsQueries {

  /** Session-cached dense (supplier, month) demand spine shared by
    * the X282/X289 forecast pair — the lineitem shuffle and the
    * calendar densification run once per (session, dir). */
  private def fcstDense(s: SparkSession, d: String): DataFrame =
    graft.core.SessionCache.cached(s, s"fcstdense:$d")(
      Analytics.supplierMonthlyDense(graft.core.Tables(s, d, "lineitem")))

  private val segs = Analytics.Segments

  /** The ABC class CASE and its windowed-share subquery, verbatim from
    * the `abc_classification` oracle, parameterized by the revenue CTE
    * so the migration oracle's two period legs reuse the proven rules
    * (the C→B promotion threshold interpolates the SAME Scala double
    * the engine compares against — see the abc_classification note). */
  private val abcClassCase: String =
    s"""CASE WHEN revenue > 0 AND revenue = cum_sum THEN 'A'
       |         WHEN cum_share > 0 AND cum_share <= 0.8 THEN 'A'
       |         WHEN cum_share > 0.8 AND cum_share <= 0.95 THEN 'B'
       |         WHEN share >= ${0.95 - 0.8} THEN 'B'
       |         ELSE 'C' END""".stripMargin

  private def abcWindowed(revCte: String): String =
    s"""SELECT *,
       |      ROUND(SUM(revenue) OVER (PARTITION BY p_brand
       |        ORDER BY revenue DESC, l_partkey
       |        ROWS UNBOUNDED PRECEDING), 2) AS cum_sum,
       |      ROUND(revenue
       |        / SUM(revenue) OVER (PARTITION BY p_brand), 6) AS share,
       |      ROUND(
       |      SUM(revenue) OVER (PARTITION BY p_brand
       |        ORDER BY revenue DESC, l_partkey ROWS UNBOUNDED PRECEDING)
       |      / SUM(revenue) OVER (PARTITION BY p_brand), 6) AS cum_share
       |    FROM $revCte""".stripMargin

  /** SCD2 validity-range derivation as a CTE — shared verbatim by the
    * `scd2_history` oracle and the `qc_interval_audit` oracle so the
    * audit provably runs over the exact history the X-row publishes. */
  private def scd2CteOf(src: String): String =
    s"""snap AS (
      |  SELECT o_custkey,
      |         CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |         arg_max(o_orderpriority, o_orderkey) AS attr
      |  FROM $src GROUP BY 1, 2),
      |x AS (
      |  SELECT *, CASE WHEN lag(attr) OVER w IS NULL
      |                   OR lag(attr) OVER w <> attr
      |                 THEN 1 ELSE 0 END AS chg
      |  FROM snap WINDOW w AS (PARTITION BY o_custkey ORDER BY month)),
      |i AS (
      |  SELECT *, SUM(chg) OVER (PARTITION BY o_custkey ORDER BY month
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM x),
      |scd2 AS (
      |  SELECT o_custkey, attr, MIN(month) AS valid_from,
      |         MAX(month) AS valid_to, COUNT(*) AS n_months
      |  FROM i GROUP BY o_custkey, island, attr)""".stripMargin

  private val Scd2Cte: String = scd2CteOf("orders")

  val specs: Seq[QuerySpec] = Seq(
    // X208: exact CART best split — every distinct price cent is a
    // candidate threshold; purity score via two prefix scans over the
    // value domain, argmax with smallest-threshold tie-break
    QuerySpec("orders_best_split", (s, d) =>
      graft.analytics.BestSplit.bestSplit(
        graft.core.Tables(s, d, "orders"),
        floor(col("o_totalprice") * 100.0 + 0.5),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L)),
      // same value-grain cumulatives (plain ordered window here — the
      // engine side uses the two-phase scan for the same values), same
      // floor-divided purity score and smallest-threshold tie-break
      Oracle("""WITH f AS (
        |  SELECT CAST(floor(CAST(o_totalprice AS DOUBLE)
        |      * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
        |      AS v,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        |  FROM orders),
        |bv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS a,
        |         CAST(SUM(y) AS BIGINT) AS a1
        |       FROM f GROUP BY 1),
        |t AS (SELECT CAST(SUM(a) AS BIGINT) AS n,
        |        CAST(SUM(a1) AS BIGINT) AS n1 FROM bv),
        |c AS (SELECT v,
        |        CAST(SUM(a) OVER w AS BIGINT) AS nl,
        |        CAST(SUM(a1) OVER w AS BIGINT) AS l1
        |      FROM bv WINDOW w AS (ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s AS (SELECT v, nl, l1, n, n1,
        |        ((nl - l1) * (nl - l1) + l1 * l1) // nl
        |        + ((n - n1 - nl + l1) * (n - n1 - nl + l1)
        |           + (n1 - l1) * (n1 - l1)) // (n - nl) AS score
        |      FROM c CROSS JOIN t WHERE nl < n),
        |m AS (SELECT CAST(MAX(score) AS BIGINT) AS best FROM s),
        |b AS (SELECT MIN(v) AS bv FROM s CROSS JOIN m
        |      WHERE score = best)
        |SELECT CAST(s.v AS BIGINT) AS split_at,
        |  CAST(s.nl AS BIGINT) AS n_left,
        |  CAST(s.n - s.nl AS BIGINT) AS n_right,
        |  CAST(s.score AS BIGINT) AS score,
        |  CAST(((s.n - s.n1) * (s.n - s.n1) + s.n1 * s.n1) // s.n
        |    AS BIGINT) AS parent_score,
        |  CAST(s.score - ((s.n - s.n1) * (s.n - s.n1) + s.n1 * s.n1)
        |    // s.n AS BIGINT) AS gain
        |FROM s JOIN b ON s.v = b.bv""".stripMargin)),
    // X223: Hill heavy-tail index in integer bits over customer spend
    QuerySpec("orders_tail_index", (s, d) =>
      graft.analytics.Analytics.tailIndexBits(
        graft.core.Tables(s, d, "orders")
          .groupBy(col("o_custkey"))
          .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5)
            .cast("long")).as("cents")), "cents"),
      // same top-(k+1) frame (ties are bits-invariant), same bits device
      Oracle({
      val k1 = graft.analytics.Analytics.HillK + 1
      s"""WITH sp AS (
         |  SELECT o_custkey,
         |    CAST(SUM(CAST(floor(CAST(o_totalprice AS DOUBLE)
         |      * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))
         |      AS BIGINT) AS x
         |  FROM orders GROUP BY 1),
         |t AS (SELECT x FROM sp WHERE x > 0
         |      ORDER BY x DESC LIMIT $k1),
         |r AS (SELECT CAST(MIN(x) AS BIGINT) AS xref,
         |        CAST(COUNT(*) AS BIGINT) AS m FROM t),
         |s AS (SELECT MAX(m) AS m,
         |        CAST(SUM(length(format('{:b}', x))
         |          - length(format('{:b}', xref))) AS BIGINT)
         |          AS sum_bits
         |      FROM t CROSS JOIN r)
         |SELECT CAST(m - 1 AS BIGINT) AS k_used, sum_bits,
         |  CAST((sum_bits * 1000000) // greatest(m - 1, 1) AS BIGINT)
         |    AS hill_bits_e6,
         |  CAST(((m - 1) * 1000000) // greatest(sum_bits, 1) AS BIGINT)
         |    AS alpha_e6
         |FROM s""".stripMargin
    })),
    QuerySpec("abc_classification", (s, d) => Analytics.abcClassification(s, d),
      // the C->B promotion threshold is interpolated from the SAME Scala
      // double the Spark side compares against (0.95 - 0.8 evaluates to
      // 0.15000000000000002 in IEEE doubles but to exactly 0.15 in
      // DuckDB's DECIMAL constant folding — latent cross-engine drift)
      Oracle(s"""WITH rev AS (
        |  SELECT p_brand, l_partkey,
        |         greatest(ROUND(SUM(l_extendedprice), 2), 0.0) AS revenue
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2
        |)
        |SELECT p_brand, l_partkey, revenue, cum_sum, share, cum_share,
        |  CASE WHEN revenue > 0 AND revenue = cum_sum THEN 'A'
        |       WHEN cum_share > 0 AND cum_share <= 0.8 THEN 'A'
        |       WHEN cum_share > 0.8 AND cum_share <= 0.95 THEN 'B'
        |       WHEN share >= ${0.95 - 0.8} THEN 'B'
        |       ELSE 'C' END AS abc_class
        |FROM (
        |  SELECT *,
        |    ROUND(SUM(revenue) OVER (PARTITION BY p_brand
        |      ORDER BY revenue DESC, l_partkey ROWS UNBOUNDED PRECEDING), 2)
        |      AS cum_sum,
        |    ROUND(revenue
        |      / SUM(revenue) OVER (PARTITION BY p_brand), 6) AS share,
        |    ROUND(
        |    SUM(revenue) OVER (PARTITION BY p_brand
        |      ORDER BY revenue DESC, l_partkey ROWS UNBOUNDED PRECEDING)
        |    / SUM(revenue) OVER (PARTITION BY p_brand), 6) AS cum_share
        |  FROM rev)""".stripMargin)),
    QuerySpec("xyz_classification", (s, d) => Analytics.xyzClassification(s, d),
      Oracle("""WITH m AS (
        |  SELECT l_partkey,
        |         year(l_shipdate) * 100 + month(l_shipdate) AS month_key,
        |         SUM(l_quantity) AS qty
        |  FROM lineitem GROUP BY 1, 2
        |),
        |st AS (
        |  SELECT l_partkey, ROUND(AVG(qty), 6) AS mean_qty,
        |         ROUND(sqrt(greatest(
        |           AVG(qty * qty) - AVG(qty) * AVG(qty), 0.0)), 6) AS std_qty,
        |         COUNT(*) AS n_months,
        |         CASE WHEN ROUND(AVG(qty), 6) > 0
        |              THEN ROUND(ROUND(sqrt(greatest(
        |                AVG(qty * qty) - AVG(qty) * AVG(qty), 0.0)), 6)
        |                / ROUND(AVG(qty), 6), 6)
        |              ELSE 9.0 END AS cov
        |  FROM m GROUP BY 1
        |)
        |SELECT l_partkey, mean_qty, std_qty, n_months, cov,
        |  CASE WHEN cov > 0 AND cov <= 0.5 THEN 'X'
        |       WHEN cov > 0.5 AND cov <= 1.0 THEN 'Y'
        |       ELSE 'Z' END AS xyz_class
        |FROM st""".stripMargin)),
    // X215: ABC×XYZ 9-cell planning matrix — both class legs are the
    // oracle-proven classifications, joined 1:1 at part grain
    QuerySpec("abc_xyz_matrix", (s, d) => Analytics.abcXyzMatrix(s, d),
      // both class CTE chains verbatim from the two oracles above,
      // joined 1:1 at part grain, 9-cell rollup + ppm share
      Oracle(s"""WITH rev AS (
         |  SELECT p_brand, l_partkey,
         |         greatest(ROUND(SUM(l_extendedprice), 2), 0.0) AS revenue
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  GROUP BY 1, 2),
         |abc AS (
         |  SELECT l_partkey,
         |    CASE WHEN revenue > 0 AND revenue = cum_sum THEN 'A'
         |         WHEN cum_share > 0 AND cum_share <= 0.8 THEN 'A'
         |         WHEN cum_share > 0.8 AND cum_share <= 0.95 THEN 'B'
         |         WHEN share >= ${0.95 - 0.8} THEN 'B'
         |         ELSE 'C' END AS abc_class
         |  FROM (
         |    SELECT *,
         |      ROUND(SUM(revenue) OVER (PARTITION BY p_brand
         |        ORDER BY revenue DESC, l_partkey
         |        ROWS UNBOUNDED PRECEDING), 2) AS cum_sum,
         |      ROUND(revenue
         |        / SUM(revenue) OVER (PARTITION BY p_brand), 6) AS share,
         |      ROUND(
         |      SUM(revenue) OVER (PARTITION BY p_brand
         |        ORDER BY revenue DESC, l_partkey ROWS UNBOUNDED PRECEDING)
         |      / SUM(revenue) OVER (PARTITION BY p_brand), 6) AS cum_share
         |    FROM rev)),
         |m AS (
         |  SELECT l_partkey,
         |         year(l_shipdate) * 100 + month(l_shipdate) AS month_key,
         |         SUM(l_quantity) AS qty
         |  FROM lineitem GROUP BY 1, 2),
         |xyz AS (
         |  SELECT l_partkey,
         |    CASE WHEN cov > 0 AND cov <= 0.5 THEN 'X'
         |         WHEN cov > 0.5 AND cov <= 1.0 THEN 'Y'
         |         ELSE 'Z' END AS xyz_class
         |  FROM (
         |    SELECT l_partkey,
         |      CASE WHEN ROUND(AVG(qty), 6) > 0
         |           THEN ROUND(ROUND(sqrt(greatest(
         |             AVG(qty * qty) - AVG(qty) * AVG(qty), 0.0)), 6)
         |             / ROUND(AVG(qty), 6), 6)
         |           ELSE 9.0 END AS cov
         |    FROM m GROUP BY 1)),
         |cells AS (
         |  SELECT abc_class, xyz_class, CAST(count(*) AS BIGINT)
         |           AS n_parts
         |  FROM abc JOIN xyz USING (l_partkey) GROUP BY 1, 2),
         |tot AS (SELECT CAST(SUM(n_parts) AS BIGINT) AS n_total
         |        FROM cells)
         |SELECT abc_class, xyz_class, n_parts,
         |  CAST((n_parts * 1000000) // greatest(n_total, 1) AS BIGINT)
         |    AS share_ppm
         |FROM cells CROSS JOIN tot""".stripMargin)),
    // X216: ABC class-migration matrix between the two halves of
    // history — both legs are the exact classification tail
    QuerySpec("abc_migration", (s, d) => Analytics.abcMigration(s, d),
      // both period legs run the classification subquery verbatim from
      // the abc_classification oracle over date-filtered revenue; parts
      // absent from a period coalesce to 'N'
      Oracle(s"""WITH rev_e AS (
         |  SELECT p_brand, l_partkey,
         |         greatest(ROUND(SUM(l_extendedprice), 2), 0.0) AS revenue
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE l_shipdate < TIMESTAMP '1998-07-01 00:00:00'
         |  GROUP BY 1, 2),
         |rev_l AS (
         |  SELECT p_brand, l_partkey,
         |         greatest(ROUND(SUM(l_extendedprice), 2), 0.0) AS revenue
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE l_shipdate >= TIMESTAMP '1998-07-01 00:00:00'
         |  GROUP BY 1, 2),
         |ce AS (SELECT l_partkey, ${abcClassCase} AS abc_early
         |       FROM (${abcWindowed("rev_e")})),
         |cl AS (SELECT l_partkey, ${abcClassCase} AS abc_late
         |       FROM (${abcWindowed("rev_l")})),
         |fj AS (SELECT COALESCE(ce.abc_early, 'N') AS abc_early,
         |         COALESCE(cl.abc_late, 'N') AS abc_late
         |       FROM ce FULL OUTER JOIN cl USING (l_partkey)),
         |m AS (SELECT abc_early, abc_late,
         |        CAST(count(*) AS BIGINT) AS n_parts
         |      FROM fj GROUP BY 1, 2),
         |tot AS (SELECT CAST(SUM(n_parts) AS BIGINT) AS n_total FROM m)
         |SELECT abc_early, abc_late, n_parts,
         |  CAST((n_parts * 1000000) // greatest(n_total, 1) AS BIGINT)
         |    AS share_ppm
         |FROM m CROSS JOIN tot""".stripMargin)),
    // X217: seasonal-naive MASE backtest — lag-12 vs lag-1 absolute
    // error over the dense per-part month spine, exact integer units
    QuerySpec("fca_mase", (s, d) => Analytics.seasonalNaiveMase(
      graft.core.Tables(s, d, "lineitem")),
      // the same dense month spine (scalar-list range over the 1-row
      // global span — never the lateral table function), the same two
      // lags over one part-partition window, integer-exact error sums
      Oracle("""WITH obs AS (
        |  SELECT l_partkey,
        |    CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1
        |      AS BIGINT) AS m,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem GROUP BY 1, 2),
        |sp AS (SELECT MIN(m) AS m0, MAX(m) AS m1 FROM obs),
        |spine AS (SELECT l_partkey, unnest(range(m0, m1 + 1)) AS m
        |          FROM (SELECT DISTINCT l_partkey FROM obs)
        |          CROSS JOIN sp),
        |dense AS (SELECT s.l_partkey, s.m, COALESCE(o.qty, 0) AS qty
        |          FROM spine s LEFT JOIN obs o
        |            ON s.l_partkey = o.l_partkey AND s.m = o.m),
        |lg AS (SELECT l_partkey, qty,
        |         lag(qty, 1) OVER (PARTITION BY l_partkey ORDER BY m)
        |           AS lag1,
        |         lag(qty, 12) OVER (PARTITION BY l_partkey ORDER BY m)
        |           AS lag12
        |       FROM dense)
        |SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_eval,
        |  CAST(SUM(abs(qty - lag12)) AS BIGINT) AS sae_seasonal,
        |  CAST(SUM(abs(qty - lag1)) AS BIGINT) AS sae_naive1,
        |  CAST((SUM(abs(qty - lag12)) * 1000000)
        |    // nullif(SUM(abs(qty - lag1)), 0) AS BIGINT) AS mase_ppm
        |FROM lg WHERE lag12 IS NOT NULL GROUP BY 1""".stripMargin)),
    // X282: simple exponential smoothing forecast per supplier, α=½
    // — every weight a power of two, so the smoothed value is one
    // integer sum over shifted Longs: exact cross-engine; the dense
    // spine is session-cached and shared with X289
    QuerySpec("fcst_ses_halflife", (s, d) =>
      Analytics.sesHalfLife(fcstDense(s, d)),
      // the same dense month spine as fca_mase; the SES closed form is
      // one shifted-integer sum per supplier — DuckDB's << on BIGINT
      // mirrors Spark's shiftleft, SUM widens to HUGEINT and casts back
      Oracle("""WITH obs AS (
        |  SELECT l_suppkey,
        |    CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1
        |      AS BIGINT) AS m,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem GROUP BY 1, 2),
        |sp AS (SELECT MIN(m) AS m0, MAX(m) AS m1 FROM obs),
        |spine AS (SELECT l_suppkey, unnest(range(m0, m1 + 1)) AS m
        |          FROM (SELECT DISTINCT l_suppkey FROM obs)
        |          CROSS JOIN sp),
        |dense AS (SELECT s.l_suppkey, s.m, COALESCE(o.qty, 0) AS qty
        |          FROM spine s LEFT JOIN obs o
        |            ON s.l_suppkey = o.l_suppkey AND s.m = o.m),
        |rn AS (SELECT l_suppkey, m, qty,
        |         row_number() OVER (PARTITION BY l_suppkey
        |                            ORDER BY m DESC) AS rn
        |       FROM dense),
        |wnd AS (SELECT *, CAST(count(*) OVER
        |          (PARTITION BY l_suppkey) AS BIGINT) AS k
        |        FROM rn WHERE rn <= 24)
        |SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_months,
        |  CAST(MAX(m) AS BIGINT) AS m_last,
        |  CAST(MAX(CASE WHEN rn = 1 THEN qty END) AS BIGINT)
        |    AS qty_last,
        |  CAST((SUM(qty * (CAST(1 AS BIGINT) <<
        |      CAST(greatest(k - rn - 1, 0) AS INT))) * 1000000)
        |    // (CAST(1 AS BIGINT) << CAST(MAX(k) - 1 AS INT))
        |    AS BIGINT) AS ses_qty_e6
        |FROM wnd GROUP BY 1""".stripMargin)),
    // X284: arc price elasticity per brand between its cheap and
    // expensive part tiers — exact rationals, decimal(38) quotient,
    // sign split off so the floor never sees a negative operand
    QuerySpec("orders_price_elasticity", (s, d) => Analytics.priceElasticity(
      graft.core.Tables(s, d, "part"),
      graft.core.Tables(s, d, "lineitem")),
      // exact-rational arc elasticity in HUGEINT (mirrors the Spark
      // decimal(38,0) leg); sign split off the absolute quotient so
      // floor never meets a negative operand
      Oracle("""WITH p AS (
        |  SELECT p_partkey, p_brand,
        |    CAST(floor(CAST(p_retailprice AS DOUBLE)
        |      * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
        |      AS pc
        |  FROM part),
        |bt AS (SELECT p_brand, CAST(SUM(pc) AS BIGINT) AS psum,
        |              CAST(count(*) AS BIGINT) AS pm
        |       FROM p GROUP BY 1),
        |tg AS (SELECT p.p_partkey, p.p_brand, p.pc,
        |         CASE WHEN p.pc * bt.pm <= bt.psum
        |              THEN 'lo' ELSE 'hi' END AS tier
        |       FROM p JOIN bt ON p.p_brand = bt.p_brand),
        |q AS (SELECT l_partkey,
        |        CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        |      FROM lineitem GROUP BY 1),
        |t AS (SELECT tg.p_brand, tg.tier,
        |        CAST(count(*) AS BIGINT) AS m,
        |        CAST(SUM(tg.pc) AS BIGINT) AS pcs,
        |        CAST(SUM(COALESCE(q.q, 0)) AS BIGINT) AS q
        |      FROM tg LEFT JOIN q ON tg.p_partkey = q.l_partkey
        |      GROUP BY 1, 2),
        |piv AS (SELECT p_brand,
        |  CAST(COALESCE(MAX(CASE WHEN tier = 'lo' THEN m END), 0)
        |    AS BIGINT) AS m_lo,
        |  CAST(COALESCE(MAX(CASE WHEN tier = 'hi' THEN m END), 0)
        |    AS BIGINT) AS m_hi,
        |  CAST(COALESCE(MAX(CASE WHEN tier = 'lo' THEN q END), 0)
        |    AS BIGINT) AS q_lo,
        |  CAST(COALESCE(MAX(CASE WHEN tier = 'hi' THEN q END), 0)
        |    AS BIGINT) AS q_hi,
        |  CAST(COALESCE(MAX(CASE WHEN tier = 'lo' THEN pcs END), 0)
        |    AS BIGINT) AS pc_lo,
        |  CAST(COALESCE(MAX(CASE WHEN tier = 'hi' THEN pcs END), 0)
        |    AS BIGINT) AS pc_hi
        |  FROM t GROUP BY 1)
        |SELECT p_brand, m_lo, m_hi, q_lo, q_hi, pc_lo, pc_hi,
        |  CAST(CAST(sign(CAST(q_hi AS HUGEINT) * m_lo
        |      - CAST(q_lo AS HUGEINT) * m_hi) AS BIGINT) *
        |    (abs(CAST(q_hi AS HUGEINT) * m_lo
        |       - CAST(q_lo AS HUGEINT) * m_hi) *
        |     (CAST(pc_hi AS HUGEINT) * m_lo
        |       + CAST(pc_lo AS HUGEINT) * m_hi) * 1000000 //
        |     nullif((CAST(q_hi AS HUGEINT) * m_lo
        |       + CAST(q_lo AS HUGEINT) * m_hi) *
        |      (CAST(pc_hi AS HUGEINT) * m_lo
        |       - CAST(pc_lo AS HUGEINT) * m_hi), 0))
        |    AS BIGINT) AS elast_e6
        |FROM piv""".stripMargin)),
    // X287: Croston intermittent-demand rate per supplier — twin α=½
    // SES over demand sizes and inter-demand intervals; the shared
    // 2^(k−1) denominators cancel into one integer quotient
    QuerySpec("fcst_croston", (s, d) => Analytics.crostonRate(
      graft.core.Tables(s, d, "lineitem")),
      // Croston: non-zero demand months only (no spine — the method
      // skips zeros), lag for intervals, the same shifted-sum device as
      // fcst_ses_halflife on BOTH legs; the shared power-of-two
      // denominators cancel so the rate is one integer quotient
      Oracle("""WITH obs AS (
        |  SELECT l_suppkey,
        |    CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1
        |      AS BIGINT) AS m,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS z
        |  FROM lineitem GROUP BY 1, 2
        |  HAVING SUM(CAST(l_quantity AS BIGINT)) > 0),
        |ev AS (SELECT l_suppkey, m, z,
        |         CAST(m - lag(m) OVER (PARTITION BY l_suppkey
        |           ORDER BY m) AS BIGINT) AS p
        |       FROM obs),
        |w1 AS (SELECT *, row_number() OVER (PARTITION BY l_suppkey
        |         ORDER BY m DESC) AS rn
        |       FROM ev WHERE p IS NOT NULL),
        |w2 AS (SELECT *, CAST(count(*) OVER
        |         (PARTITION BY l_suppkey) AS BIGINT) AS k
        |       FROM w1 WHERE rn <= 16)
        |SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(MAX(CASE WHEN rn = 1 THEN z END) AS BIGINT) AS z_last,
        |  CAST(MAX(CASE WHEN rn = 1 THEN p END) AS BIGINT) AS p_last,
        |  CAST((SUM(z * (CAST(1 AS BIGINT) <<
        |      CAST(greatest(k - rn - 1, 0) AS INT))) * 1000000)
        |    // SUM(p * (CAST(1 AS BIGINT) <<
        |      CAST(greatest(k - rn - 1, 0) AS INT)))
        |    AS BIGINT) AS croston_rate_e6
        |FROM w2 GROUP BY 1""".stripMargin)),
    // X289: Holt linear-trend forecast — exact dyadic coefficient dot
    // product over the fixed window, sign-split decimal(38) rescale;
    // shares the X282 session-cached dense spine
    QuerySpec("fcst_holt_linear", (s, d) =>
      Analytics.holtLinear(fcstDense(s, d)),
      // Holt: the same dense spine as fcst_ses_halflife; the dyadic
      // coefficient lists are interpolated from Analytics.holtCoeffs —
      // generated once in exact BigInt arithmetic and shared verbatim
      // with the Spark expression, so the two engines cannot drift
      Oracle({
      val (cl, cb) = Analytics.holtCoeffs
      val fc = cl.zip(cb).map { case (a, b) => a + b }
      def lst(xs: Array[Long]) = xs.mkString("[", ", ", "]")
      val W = Analytics.HoltWindow
      s"""WITH obs AS (
         |  SELECT l_suppkey,
         |    CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1
         |      AS BIGINT) AS m,
         |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
         |  FROM lineitem GROUP BY 1, 2),
         |sp AS (SELECT MIN(m) AS m0, MAX(m) AS m1 FROM obs),
         |spine AS (SELECT l_suppkey, unnest(range(m0, m1 + 1)) AS m
         |          FROM (SELECT DISTINCT l_suppkey FROM obs)
         |          CROSS JOIN sp),
         |dense AS (SELECT s.l_suppkey, s.m, COALESCE(o.qty, 0) AS qty
         |          FROM spine s LEFT JOIN obs o
         |            ON s.l_suppkey = o.l_suppkey AND s.m = o.m),
         |rn AS (SELECT l_suppkey, m, qty,
         |         row_number() OVER (PARTITION BY l_suppkey
         |                            ORDER BY m DESC) AS rn
         |       FROM dense),
         |wnd AS (SELECT *, CAST($W + 1 - rn AS INT) AS i
         |        FROM rn WHERE rn <= $W),
         |ag AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_months,
         |         CAST(MAX(m) AS BIGINT) AS m_last,
         |         CAST(SUM(qty * (${lst(fc)})[i]) AS BIGINT) AS f_num,
         |         CAST(SUM(qty * (${lst(cb)})[i]) AS BIGINT) AS b_num
         |       FROM wnd GROUP BY 1)
         |SELECT l_suppkey, n_months, m_last,
         |  CAST(CAST(sign(f_num) AS BIGINT) *
         |    (abs(CAST(f_num AS HUGEINT)) * 1000000 // ${1L << 30})
         |    AS BIGINT) AS holt_fcst_e6,
         |  CAST(CAST(sign(b_num) AS BIGINT) *
         |    (abs(CAST(b_num AS HUGEINT)) * 1000000 // ${1L << 30})
         |    AS BIGINT) AS holt_trend_e6
         |FROM ag""".stripMargin
    })),
    // X288: difference-in-differences lift — one conditional
    // aggregate, four audited cells, sign-split decimal(38) quotient
    QuerySpec("events_did_lift", (s, d) => Analytics.didLift(
      graft.core.Tables(s, d, "events")),
      // DiD: the same md5-bucket treatment flag (shared hex8 expansion)
      // and cutoff literal; four conditional cells in one aggregate,
      // HUGEINT cross-multiplied double difference, sign split off
      Oracle({
      val f = s"${OracleSql.hex8("md5(CAST(user_id AS VARCHAR))")} % 4 = 0"
      val a = "(CAST(cents_t_post AS HUGEINT) * n_t_pre - " +
        "CAST(cents_t_pre AS HUGEINT) * n_t_post)"
      val b = "(CAST(cents_c_post AS HUGEINT) * n_c_pre - " +
        "CAST(cents_c_pre AS HUGEINT) * n_c_post)"
      val dt = "(CAST(n_t_post AS HUGEINT) * n_t_pre)"
      val dc = "(CAST(n_c_post AS HUGEINT) * n_c_pre)"
      s"""WITH r AS (
         |  SELECT $f AS t,
         |         ts >= TIMESTAMP '2024-01-16 00:00:00' AS p,
         |         CAST(floor(CAST(value AS DOUBLE)
         |           * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE))
         |           AS BIGINT) AS cents
         |  FROM events),
         |ag AS (SELECT
         |  CAST(SUM(CASE WHEN t AND p THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_t_post,
         |  CAST(SUM(CASE WHEN t AND p THEN cents ELSE 0 END)
         |    AS BIGINT) AS cents_t_post,
         |  CAST(SUM(CASE WHEN t AND NOT p THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_t_pre,
         |  CAST(SUM(CASE WHEN t AND NOT p THEN cents ELSE 0 END)
         |    AS BIGINT) AS cents_t_pre,
         |  CAST(SUM(CASE WHEN NOT t AND p THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_c_post,
         |  CAST(SUM(CASE WHEN NOT t AND p THEN cents ELSE 0 END)
         |    AS BIGINT) AS cents_c_post,
         |  CAST(SUM(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_c_pre,
         |  CAST(SUM(CASE WHEN NOT t AND NOT p THEN cents ELSE 0 END)
         |    AS BIGINT) AS cents_c_pre
         |  FROM r)
         |SELECT *,
         |  CAST(CAST(sign($a * $dc - $b * $dt) AS BIGINT) *
         |    CAST(abs($a * $dc - $b * $dt) * 1000000 //
         |      nullif($dt * $dc, 0) AS BIGINT) AS BIGINT)
         |    AS did_cents_e6
         |FROM ag""".stripMargin
    })),
    // X290: experiment-power preflight — required per-arm n for a 5%
    // MDE via the 16σ²/δ² rule, exact integer moments, ceil-div
    QuerySpec("events_mde_sample_size", (s, d) => Analytics.mdeSampleSize(
      graft.core.Tables(s, d, "events")),
      // MDE: the 6400·(nΣx² − (Σx)²) / (Σx)² reduction in HUGEINT with
      // the non-negative (a + b − 1) // b ceiling; NULL on zero sums
      Oracle("""WITH ag AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |    CAST(SUM(cents * cents) AS BIGINT) AS sum_sq
        |  FROM (SELECT event_type,
        |          CAST(floor(CAST(value AS DOUBLE)
        |            * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE))
        |            AS BIGINT) AS cents
        |        FROM events)
        |  GROUP BY 1)
        |SELECT event_type, n, sum_cents, sum_sq,
        |  CAST((6400 * (CAST(n AS HUGEINT) * sum_sq -
        |      CAST(sum_cents AS HUGEINT) * sum_cents) +
        |    CAST(sum_cents AS HUGEINT) * sum_cents - 1) //
        |    nullif(CAST(sum_cents AS HUGEINT) * sum_cents, 0)
        |    AS BIGINT) AS n_required
        |FROM ag""".stripMargin)),
    // X213: cohort lifetime-value curve — first-purchase-month
    // cohorts tracked by age in months, exact integer cents
    QuerySpec("orders_cohort_ltv", (s, d) =>
      Analytics.cohortLtv(graft.core.Tables(s, d, "orders")),
      // same month index (year·12 + month − 1), same customer-grain
      // first-month, (cohort, age) rollup and cohort-partition cumsum
      Oracle("""WITH om AS (
        |  SELECT o_custkey AS cust,
        |    CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
        |      AS BIGINT) AS m,
        |    CAST(floor(CAST(o_totalprice AS DOUBLE)
        |      * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
        |      AS cents
        |  FROM orders),
        |co AS (SELECT cust, MIN(m) AS m0 FROM om GROUP BY 1),
        |sz AS (SELECT m0 AS cohort_month,
        |              CAST(count(*) AS BIGINT) AS n_custs
        |       FROM co GROUP BY 1),
        |rv AS (SELECT co.m0 AS cohort_month, om.m - co.m0 AS age_months,
        |              CAST(SUM(cents) AS BIGINT) AS cents
        |       FROM om JOIN co USING (cust) GROUP BY 1, 2),
        |cm AS (SELECT cohort_month, age_months, cents,
        |         CAST(SUM(cents) OVER (PARTITION BY cohort_month
        |           ORDER BY age_months ROWS UNBOUNDED PRECEDING)
        |           AS BIGINT) AS cum_cents
        |       FROM rv)
        |SELECT cm.cohort_month, cm.age_months, sz.n_custs, cm.cents,
        |  cm.cum_cents,
        |  CAST(cm.cum_cents // sz.n_custs AS BIGINT) AS ltv_cents
        |FROM cm JOIN sz USING (cohort_month)""".stripMargin)),
    QuerySpec("fca_forecast_accuracy", (s, d) =>
      Analytics.forecastAccuracy(s, d),
      Oracle("""WITH j AS (
        |  SELECT l_partkey, month(l_shipdate) AS mo,
        |    SUM(l_quantity) FILTER (WHERE year(l_shipdate) = 1995) AS fv,
        |    SUM(l_quantity) FILTER (WHERE year(l_shipdate) = 1996) AS av
        |  FROM lineitem WHERE year(l_shipdate) IN (1995, 1996)
        |  GROUP BY 1, 2
        |)
        |SELECT l_partkey, mo, ROUND(fv, 2) AS forecast,
        |  ROUND(av, 2) AS actual,
        |  ROUND(CASE WHEN av = 0 THEN 0.0
        |        ELSE abs(av - fv) / av END, 6) AS abs_err_pct,
        |  ROUND(CASE WHEN av = 0 THEN 0.99
        |        ELSE 1.0 - abs(av - fv) / av END, 6) AS fca
        |FROM j WHERE fv IS NOT NULL AND av IS NOT NULL""".stripMargin)),
    // X237: aged open-order backlog by priority — pushed status/date
    // filters, (priority, bucket)-grain aggregate, exact cents
    QuerySpec("supplier_backlog_aging", (s, d) =>
      Analytics.backlogAging(graft.core.Tables(s, d, "orders")),
      // same bucket thresholds on DATE-subtraction day counts
      Oracle(s"""WITH o AS (
         |  SELECT o_orderpriority,
         |    date_diff('day', CAST(o_orderdate AS DATE),
         |      DATE '${graft.core.Star.AsOf}') AS age,
         |    CAST(floor(CAST(o_totalprice AS DOUBLE)
         |      * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
         |      AS cents
         |  FROM orders
         |  WHERE o_orderstatus IN ('O', 'P')
         |    AND o_orderdate < TIMESTAMP '${graft.core.Star.AsOf} 00:00:00')
         |SELECT o_orderpriority,
         |  CASE WHEN age <= 30 THEN '0-30' WHEN age <= 90 THEN '31-90'
         |       WHEN age <= 180 THEN '91-180' ELSE '181+' END
         |    AS age_bucket,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(SUM(cents) AS BIGINT) AS cents
         |FROM o GROUP BY 1, 2""".stripMargin)),
    // X239: per-customer reorder-cycle percentiles — the event-gap
    // device at order grain
    QuerySpec("orders_reorder_cycle", (s, d) =>
      Analytics.reorderCycle(graft.core.Tables(s, d, "orders")),
      // same day-gap lag and quantile_cont/round pairing as
      // events_gap_stats, at (customer, order) grain
      Oracle("""WITH g AS (
        |  SELECT o_custkey,
        |    date_diff('day',
        |      lag(CAST(o_orderdate AS DATE)) OVER (
        |        PARTITION BY o_custkey
        |        ORDER BY o_orderdate, o_orderkey),
        |      CAST(o_orderdate AS DATE)) AS gap_d
        |  FROM orders)
        |SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_gaps,
        |  round(quantile_cont(gap_d, 0.5), 6) AS p50_gap_d,
        |  round(quantile_cont(gap_d, 0.9), 6) AS p90_gap_d,
        |  CAST(MAX(gap_d) AS BIGINT) AS max_gap_d
        |FROM g WHERE gap_d IS NOT NULL GROUP BY 1""".stripMargin)),
    // X251: basket-size profile — orders and exact revenue per line
    // count, both ppm shares
    QuerySpec("orders_basket_profile", (s, d) =>
      Analytics.basketProfile(graft.core.Tables(s, d, "lineitem")),
      // order-grain rollup then size-class rollup, exact cents
      Oracle("""WITH po AS (
        |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_items,
        |    CAST(SUM(CAST(floor(CAST(l_extendedprice AS DOUBLE)
        |      * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1),
        |c AS (SELECT n_items, CAST(count(*) AS BIGINT) AS n_orders,
        |        CAST(SUM(cents) AS BIGINT) AS cents
        |      FROM po GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS t_orders,
        |        CAST(SUM(cents) AS BIGINT) AS t_cents FROM c)
        |SELECT n_items, n_orders, cents,
        |  CAST((n_orders * 1000000) // greatest(t_orders, 1) AS BIGINT)
        |    AS order_share_ppm,
        |  CAST((cents * 1000000) // greatest(t_cents, 1) AS BIGINT)
        |    AS revenue_share_ppm
        |FROM c CROSS JOIN t""".stripMargin)),
    // X267: discount-lift read — per (brand, discount tier) exact
    // volume/revenue moments; broadcast dim join, small-grain output
    QuerySpec("orders_discount_lift", (s, d) =>
      Analytics.discountLift(graft.core.Tables(s, d, "lineitem"),
        graft.core.Tables(s, d, "part")),
      // same integer tiering and quantize-once units as the engine
      Oracle({
      val t = Analytics.DiscountTierPct
      s"""WITH li AS (
         |  SELECT l_partkey,
         |    CAST(floor(CAST(l_discount AS DOUBLE) * 100 + 0.5)
         |      AS BIGINT) // $t AS tier,
         |    CAST(floor(CAST(l_quantity AS DOUBLE) * 100 + 0.5)
         |      AS BIGINT) AS qty_u,
         |    CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100 + 0.5)
         |      AS BIGINT) AS cents
         |  FROM lineitem),
         |g AS (
         |  SELECT p.p_brand, li.tier,
         |    CAST(count(*) AS BIGINT) AS n_lines,
         |    CAST(SUM(qty_u) AS BIGINT) AS qty_units,
         |    CAST(SUM(cents) AS BIGINT) AS rev_cents
         |  FROM li JOIN part p ON li.l_partkey = p.p_partkey
         |  GROUP BY 1, 2)
         |SELECT p_brand, tier, n_lines, qty_units, rev_cents,
         |  CAST(qty_units // n_lines AS BIGINT) AS mean_qty_u
         |FROM g""".stripMargin
    })),
    // X269: revenue margin waterfall — gross/−discount/+tax bridge in
    // exact rational floors, the Q1-shape small-grain aggregate
    QuerySpec("orders_margin_waterfall", (s, d) =>
      Analytics.marginWaterfall(graft.core.Tables(s, d, "lineitem")),
      // same day-lag arithmetic and offset-div mean; SLA ppm integer
      // the same rational-floor bridge steps; the waterfall adds up
      Oracle("""WITH l AS (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100 + 0.5)
        |      AS BIGINT) AS gross_c,
        |    CAST(floor(CAST(l_discount AS DOUBLE) * 100 + 0.5)
        |      AS BIGINT) AS dpct,
        |    CAST(floor(CAST(l_tax AS DOUBLE) * 100 + 0.5)
        |      AS BIGINT) AS tpct
        |  FROM lineitem),
        |b AS (
        |  SELECT l_returnflag, l_linestatus, gross_c,
        |    (gross_c * dpct) // 100 AS disc_c,
        |    ((gross_c - (gross_c * dpct) // 100) * tpct) // 100 AS tax_c
        |  FROM l)
        |SELECT l_returnflag, l_linestatus,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(gross_c) AS BIGINT) AS gross_cents,
        |  CAST(SUM(disc_c) AS BIGINT) AS disc_cents,
        |  CAST(SUM(tax_c) AS BIGINT) AS tax_cents,
        |  CAST(SUM(gross_c) - SUM(disc_c) + SUM(tax_c) AS BIGINT)
        |    AS charged_cents
        |FROM b GROUP BY 1, 2""".stripMargin)),
    QuerySpec("uom_conversion", (s, d) => Analytics.uomConversion(s, d),
      Oracle("""WITH li AS (
        |  SELECT l_partkey, ROUND(SUM(l_quantity), 2) AS qty
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT li.l_partkey, li.qty,
        |  CAST(1.0 AS DOUBLE) AS from_factor,
        |  COALESCE(CAST(p_size AS DOUBLE), 1.0) AS to_factor,
        |  ROUND(li.qty * 1.0 / COALESCE(CAST(p_size AS DOUBLE), 1.0), 6)
        |    AS converted_qty
        |FROM li LEFT JOIN part ON li.l_partkey = p_partkey""".stripMargin)),
    QuerySpec("delta_detect", (s, d) => Analytics.deltaDetect(s, d),
      Oracle("""WITH j AS (
        |  SELECT l_partkey,
        |    ROUND(SUM(l_quantity)
        |      FILTER (WHERE year(l_shipdate) = 1996), 2) AS new_qty,
        |    ROUND(SUM(l_quantity)
        |      FILTER (WHERE year(l_shipdate) = 1995), 2) AS old_qty
        |  FROM lineitem WHERE year(l_shipdate) IN (1995, 1996)
        |  GROUP BY 1
        |)
        |SELECT l_partkey, new_qty, old_qty FROM j
        |WHERE new_qty IS NOT NULL
        |  AND (old_qty IS NULL OR new_qty <> old_qty)""".stripMargin)),
    QuerySpec("groupwise_max", (s, d) => Analytics.groupwiseMax(s, d),
      Oracle("""SELECT bu, o_orderkey, o_totalprice FROM (
        |  SELECT c_mktsegment AS bu, o_orderkey, o_totalprice,
        |         MAX(o_totalprice) OVER (PARTITION BY c_mktsegment) AS mx
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |) WHERE o_totalprice = mx""".stripMargin)),
    QuerySpec("ordinal_snapshot_slice", (s, d) =>
      Analytics.ordinalSnapshotSlice(s, d),
      Oracle("""SELECT snap, ordinal FROM (
        |  SELECT snap, dense_rank() OVER (ORDER BY snap) AS ordinal
        |  FROM (SELECT DISTINCT CAST(date_trunc('month', o_orderdate)
        |          AS DATE) AS snap FROM orders)
        |) WHERE ordinal BETWEEN 2 AND 4""".stripMargin)),
    QuerySpec("pivot_sum", (s, d) => Analytics.pivotSum(s, d),
      Oracle({
      val cols = segs.map(s =>
        s"""  COALESCE(ROUND(SUM(o_totalprice)
           |    FILTER (WHERE c_mktsegment = '$s'), 2), 0.0) AS "$s"""".stripMargin)
        .mkString(",\n")
      s"""SELECT n_name AS nation,
         |$cols
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |     JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY 1""".stripMargin
    })),
    QuerySpec("unpivot_sum", (s, d) => Analytics.unpivotSum(s, d),
      Oracle({
      val cols = segs.map(s =>
        s"""  COALESCE(ROUND(SUM(o_totalprice)
           |    FILTER (WHERE c_mktsegment = '$s'), 2), 0.0) AS "$s"""".stripMargin)
        .mkString(",\n")
      val unions = segs.map(s =>
        s"""SELECT nation, '$s' AS bu, "$s" AS total FROM pvt""")
        .mkString("\nUNION ALL\n")
      s"""WITH pvt AS (
         |SELECT n_name AS nation,
         |$cols
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |     JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY 1
         |)
         |$unions""".stripMargin
    })),
    QuerySpec("weekly_disaggregation", (s, d) =>
      Analytics.weeklyDisaggregation(s, d),
      Oracle("""WITH m AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE)
        |           AS month_start,
        |         ROUND(SUM(o_totalprice), 2) AS month_total
        |  FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1
        |),
        |w AS (
        |  SELECT month_start, month_total,
        |    generate_series(CAST(date_trunc('week', month_start) AS DATE),
        |      CAST(date_trunc('week', last_day(month_start)) AS DATE),
        |      INTERVAL 7 DAY) AS weeks
        |  FROM m
        |)
        |SELECT month_start, CAST(unnest(weeks) AS DATE) AS week_start,
        |  len(weeks) AS n_weeks,
        |  ROUND(month_total / len(weeks), 6) AS week_value
        |FROM w""".stripMargin)),
    QuerySpec("running_totals", (s, d) => Analytics.runningTotals(s, d),
      Oracle("""WITH m AS (
        |  SELECT c_mktsegment AS bu,
        |         CAST(date_trunc('month', o_orderdate) AS DATE) AS snap,
        |         ROUND(SUM(o_totalprice), 2) AS total
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2
        |)
        |SELECT bu, snap, total,
        |  ROUND(SUM(total) OVER (PARTITION BY bu ORDER BY snap
        |    ROWS UNBOUNDED PRECEDING), 2) AS cum_total,
        |  ROUND(total / SUM(total) OVER (PARTITION BY bu), 6)
        |    AS pct_of_total
        |FROM m""".stripMargin)),
    QuerySpec("scd2_history", (s, d) => Analytics.scd2History(s, d),
      // gaps-and-islands: a new validity range opens when the observed
      // attribute differs from the previous observation's
      Oracle(s"""WITH $Scd2Cte
         |SELECT o_custkey, attr, valid_from, valid_to, n_months
         |FROM scd2""".stripMargin)),
    // X292: SCD2 MERGE apply — the pre-1999 history is the base
    // dimension (open rows normalized to the sentinel), 1999-01's
    // snapshot is the change batch; output IS the post-merge table
    QuerySpec("scd2_apply", (s, d) => {
      val orders = graft.core.Tables(s, d, "orders")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
      // persisted: scd2Apply splits dim into its closed (hist) and open
      // (cur) halves — two consumers, so without the cache boundary the
      // whole history derivation (fact aggregate + island windows) runs
      // twice (8 scans / 13 exchanges in the r16 plan dump)
      val dim = graft.core.CacheBay.register(Analytics.scd2HistoryOf(
          orders.filter(col("o_orderdate") < lit("1999-01-01")))
        .withColumn("mx", max(col("valid_from")).over(w))
        .select(col("o_custkey"), col("attr"), col("valid_from"),
          when(col("valid_from") === col("mx"),
            to_date(lit(Analytics.Scd2OpenEnd)))
            .otherwise(col("valid_to")).as("valid_to"),
          when(col("valid_from") === col("mx"), 1L).otherwise(0L)
            .as("is_current")))
      val changes = orders
        .filter(col("o_orderdate") >= lit("1999-01-01") &&
          col("o_orderdate") < lit("1999-02-01"))
        .groupBy(col("o_custkey"))
        .agg(expr("max_by(o_orderpriority, o_orderkey)").as("attr"))
      Analytics.scd2Apply(dim, changes, "1999-01-01")
    },
      // same gaps-and-islands base restricted to pre-cutoff orders, the
      // same sentinel normalization, one key-grain full-outer merge
      Oracle({
      val cte = scd2CteOf(
        "(SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01')")
      s"""WITH $cte,
         |base AS (SELECT o_custkey, attr, valid_from,
         |  CASE WHEN valid_from = MAX(valid_from)
         |         OVER (PARTITION BY o_custkey)
         |       THEN DATE '9999-12-31' ELSE valid_to END AS valid_to,
         |  CASE WHEN valid_from = MAX(valid_from)
         |         OVER (PARTITION BY o_custkey)
         |       THEN 1 ELSE 0 END AS is_current
         |  FROM scd2),
         |ch AS (SELECT o_custkey,
         |         arg_max(o_orderpriority, o_orderkey) AS attr
         |       FROM orders
         |       WHERE o_orderdate >= TIMESTAMP '1999-01-01'
         |         AND o_orderdate < TIMESTAMP '1999-02-01'
         |       GROUP BY 1),
         |cur AS (SELECT o_custkey, attr AS cur_attr,
         |          valid_from AS cur_from
         |        FROM base WHERE is_current = 1),
         |j AS (SELECT COALESCE(cur.o_custkey, ch.o_custkey)
         |        AS o_custkey, cur_attr, cur_from, ch.attr AS new_attr
         |      FROM cur FULL OUTER JOIN ch
         |        ON cur.o_custkey = ch.o_custkey),
         |fromcur AS (SELECT o_custkey, cur_attr AS attr,
         |    cur_from AS valid_from,
         |    CASE WHEN new_attr IS NOT NULL AND new_attr <> cur_attr
         |         THEN DATE '1998-12-31'
         |         ELSE DATE '9999-12-31' END AS valid_to,
         |    CAST(CASE WHEN new_attr IS NOT NULL
         |           AND new_attr <> cur_attr
         |         THEN 0 ELSE 1 END AS BIGINT) AS is_current
         |  FROM j WHERE cur_attr IS NOT NULL),
         |opened AS (SELECT o_custkey, new_attr AS attr,
         |    DATE '1999-01-01' AS valid_from,
         |    DATE '9999-12-31' AS valid_to,
         |    CAST(1 AS BIGINT) AS is_current
         |  FROM j WHERE new_attr IS NOT NULL
         |    AND (cur_attr IS NULL OR new_attr <> cur_attr)),
         |hist AS (SELECT o_custkey, attr, valid_from, valid_to,
         |    CAST(0 AS BIGINT) AS is_current
         |  FROM base WHERE is_current = 0)
         |SELECT * FROM hist UNION ALL
         |SELECT * FROM fromcur UNION ALL
         |SELECT * FROM opened""".stripMargin
    })),
    // X260: temporal-interval integrity audit chained over the SCD2
    // history — sweep-form overlap detection, integer day-gap evidence
    QuerySpec("qc_interval_audit", (s, d) =>
      Analytics.intervalAudit(Analytics.scd2History(s, d)),
      // sweep-form overlap (running max of PRIOR ends), backwards-range
      // count, integer day-span vs summed lengths for gap evidence
      Oracle(s"""WITH $Scd2Cte,
         |v AS (
         |  SELECT o_custkey AS k, valid_from AS f, valid_to AS t,
         |    max(valid_to) OVER (PARTITION BY o_custkey
         |      ORDER BY valid_from, valid_to
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
         |  FROM scd2),
         |g AS (
         |  SELECT k AS o_custkey,
         |    CAST(count(*) AS BIGINT) AS n_ranges,
         |    CAST(SUM(CASE WHEN pmax IS NOT NULL AND f <= pmax
         |         THEN 1 ELSE 0 END) AS BIGINT) AS n_overlaps,
         |    CAST(SUM(CASE WHEN t < f THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_bad_duration,
         |    CAST(date_diff('day', MIN(f), MAX(t)) + 1 AS BIGINT)
         |      AS span_days,
         |    CAST(SUM(date_diff('day', f, t) + 1) AS BIGINT) AS len_days
         |  FROM v GROUP BY 1)
         |SELECT o_custkey, n_ranges, n_overlaps, n_bad_duration,
         |  span_days, len_days,
         |  CAST(greatest(span_days - len_days, 0) AS BIGINT) AS gap_days,
         |  CAST(CASE WHEN n_overlaps = 0 AND n_bad_duration = 0
         |       THEN 1 ELSE 0 END AS BIGINT) AS is_consistent
         |FROM g""".stripMargin)),
    QuerySpec("a_cube_totals", (s, d) => Analytics.cubeTotals(s, d),
      // one pass over all four grouping-sets planes; GROUPING() flags
      // disambiguate subtotal NULLs; integer cents keep every plane
      // accumulation-order-exact
      Oracle("""SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
        |  COALESCE(o_orderstatus, 'ALL') AS status,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders
        |GROUP BY CUBE(o_orderpriority, o_orderstatus)""".stripMargin)),
    QuerySpec("demand_intermittency", (s, d) =>
      Analytics.intermittencyClassification(
        graft.core.Tables(s, d, "lineitem")),
      // Syntetos-Boylan quadrants from the same integer moment identity
      // (CV² = (n·Σq²−S²)/S²) and the same e6 cut points
      Oracle({
      import Analytics.{AdiCutE6, Cv2CutE6}
      s"""WITH m AS (
         |  SELECT l_partkey,
         |         year(l_shipdate) * 12 + month(l_shipdate) AS mi,
         |         CAST(SUM(l_quantity) AS BIGINT) AS q
         |  FROM lineitem GROUP BY 1, 2),
         |a AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_active,
         |        CAST(max(mi) - min(mi) + 1 AS BIGINT) AS span_months,
         |        CAST(SUM(q) AS BIGINT) AS s,
         |        CAST(SUM(q * q) AS BIGINT) AS ss
         |      FROM m GROUP BY 1),
         |x AS (SELECT l_partkey, n_active, span_months,
         |        CAST((span_months * 1000000) // n_active AS BIGINT)
         |          AS adi_e6,
         |        CAST(((n_active * ss - s * s) * 1000000) // (s * s)
         |          AS BIGINT) AS cv2_e6
         |      FROM a)
         |SELECT l_partkey, n_active, span_months, adi_e6, cv2_e6,
         |  CASE WHEN adi_e6 < $AdiCutE6 AND cv2_e6 < $Cv2CutE6
         |         THEN 'smooth'
         |       WHEN adi_e6 >= $AdiCutE6 AND cv2_e6 < $Cv2CutE6
         |         THEN 'intermittent'
         |       WHEN adi_e6 < $AdiCutE6 THEN 'erratic'
         |       ELSE 'lumpy' END AS demand_class
         |FROM x""".stripMargin
    })),
    QuerySpec("seasonal_index", (s, d) =>
      Analytics.seasonalIndex(graft.core.Tables(s, d, "orders")),
      // month-of-year share scaled by 12; cents via floor(x·100+0.5)
      // with explicit DOUBLE casts (the DECIMAL-folding gotcha)
      Oracle("""WITH m AS (
        |  SELECT CAST(month(o_orderdate) AS BIGINT) AS m,
        |         CAST(count(*) AS BIGINT) AS n_orders,
        |         CAST(SUM(CAST(floor(CAST(o_totalprice AS DOUBLE)
        |           * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE))
        |           AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS tn,
        |             CAST(SUM(cents) AS BIGINT) AS tc
        |      FROM m)
        |SELECT m.m, m.n_orders, m.cents,
        |  CAST((m.n_orders * 12000000) // t.tn AS BIGINT)
        |    AS count_idx_e6,
        |  CAST((m.cents * 12000000) // t.tc AS BIGINT)
        |    AS revenue_idx_e6
        |FROM m CROSS JOIN t""".stripMargin)),
    QuerySpec("rfm_segments", (s, d) =>
      Analytics.rfmSegmentation(graft.core.Tables(s, d, "orders")),
      // exact global quintiles via the same rank→tile formula (the
      // engine's no-sort decomposition and a plain global row_number
      // produce the SAME ranks — that identity is what the hash-match
      // proves); ties on c_custkey
      Oracle({
      val k = Analytics.RfmTiles
      def tile(v: String) =
        s"(((row_number() OVER (ORDER BY $v, c_custkey) - 1) * $k)" +
          s" // n_total + 1)"
      s"""WITH ao AS (SELECT CAST(max(o_orderdate) AS DATE) AS as_of
         |           FROM orders),
         |b AS (SELECT o_custkey AS c_custkey,
         |        CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
         |          ao.as_of) AS BIGINT) AS r_days,
         |        CAST(count(*) AS BIGINT) AS f_orders,
         |        CAST(SUM(CAST(floor(CAST(o_totalprice AS DOUBLE)
         |          * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE))
         |          AS BIGINT)) AS BIGINT) AS m_cents
         |      FROM orders CROSS JOIN ao
         |      GROUP BY 1, ao.as_of),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM b),
         |tl AS (SELECT c_custkey, r_days, f_orders, m_cents,
         |         CAST(${tile("r_days")} AS BIGINT) AS r_tile,
         |         CAST(${tile("f_orders")} AS BIGINT) AS f_tile,
         |         CAST(${tile("m_cents")} AS BIGINT) AS m_tile
         |       FROM b CROSS JOIN n)
         |SELECT c_custkey, r_days, f_orders, m_cents,
         |  r_tile, f_tile, m_tile,
         |  CAST(r_tile * 100 + f_tile * 10 + m_tile AS BIGINT) AS rfm
         |FROM tl""".stripMargin
    })),
    QuerySpec("supplier_lead_time", (s, d) =>
      Analytics.supplierLeadTime(graft.core.Tables(s, d, "orders"),
        graft.core.Tables(s, d, "lineitem")),
      Oracle({
      val sla = Analytics.LeadTimeSlaDays
      s"""WITH j AS (
         |  SELECT l_suppkey,
         |    CAST(date_diff('day', CAST(o_orderdate AS DATE),
         |      CAST(l_shipdate AS DATE)) AS BIGINT) AS lag_d
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |a AS (SELECT l_suppkey,
         |        CAST(count(*) AS BIGINT) AS n_lines,
         |        CAST(SUM(CASE WHEN lag_d > $sla THEN 1 ELSE 0 END)
         |          AS BIGINT) AS n_breach,
         |        CAST(min(lag_d) AS BIGINT) AS min_lag_d,
         |        CAST(max(lag_d) AS BIGINT) AS max_lag_d,
         |        CAST(SUM(lag_d) AS BIGINT) AS sum_lag_d
         |      FROM j GROUP BY 1)
         |SELECT l_suppkey, n_lines, n_breach,
         |  CAST((n_breach * 1000000) // n_lines AS BIGINT) AS breach_ppm,
         |  min_lag_d, max_lag_d,
         |  CAST(((sum_lag_d + 1000000 * n_lines) // n_lines) - 1000000
         |    AS BIGINT) AS mean_lag_d
         |FROM a""".stripMargin
    })),
    // X137: sweep-line peak concurrency of order→ship intervals per
    // supplier — two deltas per interval, no calendar explode
    QuerySpec("supplier_open_orders", (s, d) => {
      val li = graft.core.Tables(s, d, "lineitem")
      val o = graft.core.Tables(s, d, "orders")
      graft.operators.SweepLine.peakConcurrency(
        li.join(o, li("l_orderkey") === o("o_orderkey")),
        "l_suppkey", "o_orderdate", "l_shipdate")
    },
      // half-open [order, ship): an interval ending on d is closed on d;
      // deltas collapse per (key, date) before the scan so no within-date
      // ordering exists to disagree on
      Oracle("""WITH iv AS (
        |  SELECT l_suppkey AS k, CAST(o_orderdate AS DATE) AS s,
        |         CAST(l_shipdate AS DATE) AS e
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |d AS (
        |  SELECT k, d, CAST(SUM(delta) AS BIGINT) AS net FROM (
        |    SELECT k, s AS d, 1 AS delta FROM iv
        |    UNION ALL SELECT k, e AS d, -1 AS delta FROM iv) u
        |  GROUP BY 1, 2),
        |o AS (
        |  SELECT k, d, CAST(SUM(net) OVER (PARTITION BY k ORDER BY d
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS open_cnt
        |  FROM d),
        |p AS (
        |  SELECT k, d, open_cnt,
        |         CAST(MAX(open_cnt) OVER (PARTITION BY k) AS BIGINT)
        |           AS peak
        |  FROM o),
        |n AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_intervals
        |      FROM iv GROUP BY 1)
        |SELECT p.k AS l_suppkey, MAX(p.peak) AS peak_open,
        |       MIN(p.d) AS peak_date, MAX(n.n_intervals) AS n_intervals
        |FROM p JOIN n ON p.k = n.k
        |WHERE open_cnt = peak GROUP BY 1""".stripMargin)),
    // X138: exact weighted median by two-pass bucket refinement — no
    // whole-group single-task sort
    QuerySpec("weighted_median", (s, d) =>
      Analytics.weightedMedian(graft.core.Tables(s, d, "lineitem"),
        graft.core.Tables(s, d, "part"),
        baseIn = Some(Analytics.sharedWeightedBase(s, d))),
      // the oracle states the SPEC (one global cumulative-weight window
      // per brand); the engine's two-pass bucket refinement must land on
      // the identical row because the bucket key is monotone in price
      Oracle("""WITH base AS (
        |  SELECT p_brand,
        |    CAST(floor(CAST(l_extendedprice AS DOUBLE)
        |      * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
        |      AS price_cents,
        |    CAST(floor(CAST(l_quantity AS DOUBLE)
        |      * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
        |      AS w_units,
        |    l_orderkey, l_linenumber
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |c AS (
        |  SELECT p_brand, price_cents,
        |    CAST(SUM(w_units) OVER (PARTITION BY p_brand
        |      ORDER BY price_cents, l_orderkey, l_linenumber
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumw,
        |    CAST(SUM(w_units) OVER (PARTITION BY p_brand) AS BIGINT)
        |      AS totw
        |  FROM base)
        |SELECT p_brand, MIN(price_cents) AS wmedian_cents,
        |       MAX(totw) AS total_weight_units
        |FROM c WHERE cumw >= (totw + 1) // 2 GROUP BY 1""".stripMargin)),
    // X164: per-supplier monthly-quantity OLS trend from sufficient
    // statistics — one aggregate per key, slope in exact e6 units
    QuerySpec("supplier_qty_trend", (s, d) => {
      val monthly = graft.core.Tables(s, d, "lineitem")
        .select(col("l_suppkey"),
          (year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
            .cast("long").as("m"),
          floor(col("l_quantity") * 100.0 + 0.5).cast("long").as("qc"))
        .groupBy(col("l_suppkey"), col("m"))
        .agg(sum(col("qc")).cast("long").as("y"))
      Analytics.trendByKey(monthly, "l_suppkey", "m", "y")
    },
      // sign and div split apart because truncating division differs
      // cross-engine below zero; x re-based per key (slope-invariant)
      Oracle("""WITH monthly AS (
        |  SELECT l_suppkey,
        |    CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT)
        |      AS m,
        |    CAST(SUM(CAST(floor(CAST(l_quantity AS DOUBLE)
        |      * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))
        |      AS BIGINT) AS y
        |  FROM lineitem GROUP BY 1, 2),
        |cen AS (
        |  SELECT l_suppkey,
        |    m - MIN(m) OVER (PARTITION BY l_suppkey) AS x, y
        |  FROM monthly),
        |st AS (
        |  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx
        |  FROM cen GROUP BY 1)
        |SELECT l_suppkey, n AS n_points,
        |  CAST(CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |    ELSE (CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END)
        |      * ((abs(n * sxy - sx * sy) * 1000000)
        |         // (n * sxx - sx * sx)) END AS BIGINT) AS slope_e6,
        |  CAST((CASE WHEN sy < 0 THEN -1 ELSE 1 END)
        |    * (abs(sy) // n) AS BIGINT) AS avg_y
        |FROM st""".stripMargin)),
    // X182: the robust companion over the same monthly series —
    // median of pairwise slopes, calendar-bounded pair set
    QuerySpec("supplier_theilsen_trend", (s, d) => {
      val monthly = graft.core.Tables(s, d, "lineitem")
        .select(col("l_suppkey"),
          (year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
            .cast("long").as("m"),
          floor(col("l_quantity") * 100.0 + 0.5).cast("long").as("qc"))
        .groupBy(col("l_suppkey"), col("m"))
        .agg(sum(col("qc")).cast("long").as("y"))
      Analytics.theilSenByKey(monthly, "l_suppkey", "m", "y")
    },
      // same monthly series, same pair set; quantile_cont is
      // percentile's proven twin, slope one IEEE double division
      Oracle("""WITH monthly AS (
        |  SELECT l_suppkey,
        |    CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT)
        |      AS m,
        |    CAST(SUM(CAST(floor(CAST(l_quantity AS DOUBLE)
        |      * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))
        |      AS BIGINT) AS y
        |  FROM lineitem GROUP BY 1, 2),
        |p AS (
        |  SELECT a.l_suppkey,
        |    CAST(b.y - a.y AS DOUBLE) / CAST(b.m - a.m AS DOUBLE)
        |      AS slope
        |  FROM monthly a JOIN monthly b
        |    ON a.l_suppkey = b.l_suppkey AND a.m < b.m)
        |SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  round(quantile_cont(slope, 0.5), 6) AS ts_slope
        |FROM p GROUP BY 1""".stripMargin)),
    // X157: Poisson-bootstrap error bars — uncertainty for a grouped
    // sum in ONE scan (bounded xR explode), draws inverted from the
    // hash so the whole computation is deterministic and replayable
    QuerySpec("a_bootstrap_totals", (s, d) =>
      graft.operators.Bootstrap.poissonBootstrap(
        graft.core.Tables(s, d, "orders")
          .select(col("o_orderpriority"), col("o_orderkey"),
            floor(col("o_totalprice") * 100.0 + 0.5).cast("long")
              .as("cents")),
        "o_orderpriority", "o_orderkey", "cents"),
      // the CDF thresholds are generated from the SAME constant list as
      // the engine; only the hex8-of-md5 spelling differs per engine
      Oracle({
      import graft.operators.Bootstrap
      val r = Bootstrap.Replicates
      val h = OracleSql.hex8(
        "md5(CAST(o_orderkey AS VARCHAR) || ':' || CAST(b AS VARCHAR))")
      s"""WITH base AS (
         |  SELECT o_orderpriority AS grp, o_orderkey,
         |    CAST(floor(CAST(o_totalprice AS DOUBLE)
         |      * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
         |      AS v
         |  FROM orders),
         |exact AS (
         |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |         CAST(SUM(v) AS BIGINT) AS total_cents
         |  FROM base GROUP BY 1),
         |reps AS (
         |  SELECT grp, b,
         |    CAST(SUM(v * ${Bootstrap.countSql(h)}) AS BIGINT)
         |      AS rep_sum
         |  FROM base CROSS JOIN
         |    (SELECT unnest(range(0, $r)) AS b) bs
         |  GROUP BY 1, 2),
         |spread AS (
         |  SELECT grp, list_sort(list(rep_sum)) AS sums
         |  FROM reps GROUP BY 1)
         |SELECT exact.grp AS o_orderpriority, n_rows, total_cents,
         |  CAST(sums[1] AS BIGINT) AS boot_min,
         |  CAST(sums[${(r + 1) / 2}] AS BIGINT) AS boot_med_lo,
         |  CAST(sums[$r] AS BIGINT) AS boot_max
         |FROM exact JOIN spread ON exact.grp = spread.grp"""
        .stripMargin
    })),
    // X156: the p25/p50/p75 weighted-quantile ladder from ONE
    // histogram pass — each q picks its crossing bucket from the same
    // tiny bucket frame; only crossing buckets ever sort
    QuerySpec("weighted_quantiles", (s, d) =>
      graft.analytics.Analytics.weightedQuantiles(
        graft.core.Tables(s, d, "lineitem"),
        graft.core.Tables(s, d, "part"),
        baseIn = Some(Analytics.sharedWeightedBase(s, d))),
      // one global-window arm per q — the SPEC the bucket refinement
      // must land on; ceil threshold spelled (totw*q + 99) // 100
      Oracle("""WITH base AS (
        |  SELECT p_brand,
        |    CAST(floor(CAST(l_extendedprice AS DOUBLE)
        |      * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
        |      AS price_cents,
        |    CAST(floor(CAST(l_quantity AS DOUBLE)
        |      * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
        |      AS w_units,
        |    l_orderkey, l_linenumber
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |c AS (
        |  SELECT p_brand, price_cents,
        |    CAST(SUM(w_units) OVER (PARTITION BY p_brand
        |      ORDER BY price_cents, l_orderkey, l_linenumber
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumw,
        |    CAST(SUM(w_units) OVER (PARTITION BY p_brand) AS BIGINT)
        |      AS totw
        |  FROM base),
        |qs AS (SELECT CAST(unnest([25, 50, 75]) AS BIGINT) AS q)
        |SELECT p_brand, q, MIN(price_cents) AS wq_cents,
        |       MAX(totw) AS total_weight_units
        |FROM c CROSS JOIN qs
        |WHERE cumw >= (totw * q + 99) // 100
        |GROUP BY 1, 2""".stripMargin)),
    // X141: GLOBAL running total via the distributed two-phase prefix
    // scan — the empty-PARTITION-BY window this replaces would move
    // every row into one task (sampled to %100 keys AFTER the scan)
    QuerySpec("scan_running_total", (s, d) => {
      val o = graft.core.Tables(s, d, "orders")
        .select(col("o_orderkey"),
          col("o_orderdate").cast("date").as("od"),
          floor(col("o_totalprice") * 100.0 + 0.5).cast("long")
            .as("cents"))
      graft.operators.PrefixScan
        .prefixSum(o, Seq("od", "o_orderkey"), "cents", "cum_cents")
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), col("od"), col("cents"),
          col("cum_cents"))
    },
      // the oracle spells the SPEC as the global empty-partition window
      // the engine refuses to plan; integer cents make the running sum
      // associative, so the two-phase scan must reproduce it exactly
      Oracle("""WITH b AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od,
        |    CAST(floor(CAST(o_totalprice AS DOUBLE)
        |      * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
        |      AS cents
        |  FROM orders),
        |c AS (
        |  SELECT o_orderkey, od, cents,
        |    CAST(SUM(cents) OVER (ORDER BY od, o_orderkey
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
        |  FROM b)
        |SELECT o_orderkey, od, cents, cum_cents
        |FROM c WHERE o_orderkey % 100 = 0""".stripMargin)),
    // X142: global 2-D Pareto frontier from the exclusive prefix max
    QuerySpec("pareto_frontier", (s, d) =>
      graft.operators.Skyline.frontier(graft.core.Tables(s, d, "part")),
      // exclusive running max over strictly-cheaper prices; first price
      // coalesces to Long.MinValue exactly as the scan's identity does
      Oracle("""WITH b AS (
        |  SELECT p_partkey, p_brand,
        |    CAST(floor(CAST(p_retailprice AS DOUBLE)
        |      * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
        |      AS price_cents,
        |    CAST(p_size AS BIGINT) AS p_size
        |  FROM part),
        |g AS (SELECT price_cents, MAX(p_size) AS msize
        |      FROM b GROUP BY 1),
        |s AS (
        |  SELECT price_cents, msize,
        |    CAST(COALESCE(MAX(msize) OVER (ORDER BY price_cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      -9223372036854775808) AS BIGINT) AS m_excl
        |  FROM g)
        |SELECT b.p_partkey, b.p_brand, b.price_cents, b.p_size
        |FROM b JOIN s USING (price_cents)
        |WHERE s.m_excl < b.p_size AND b.p_size = s.msize""".stripMargin)))
}
