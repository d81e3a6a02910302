package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-touch conversion attribution (X197) — the marketing-science
  * rollup over the sessionized event stream: within each CONVERTING
  * session (one containing a purchase), the touches strictly before
  * the FIRST purchase share the conversion credit. Linear attribution
  * splits one conversion's 10⁶ ppm equally across its touches
  * (integer floor division — deterministic in any engine; the ≤
  * (n_touches−1) ppm floor loss is the documented contract);
  * first-touch / last-touch counts are the two boundary models ridden
  * on the same pass. A session whose first purchase has NO preceding
  * touch attributes to the `(direct)` pseudo-channel with full
  * credit.
  *
  * Session boundaries are the X23 islands sessionizer (same gap
  * constant and strict-`>` break semantics as
  * [[graft.operators.Sessionize]]); the first purchase and the
  * first/last touch are picked by `row_number` over the unique
  * `(ts, event_id)` total order — never an arbitrary `first()`, so
  * the result is partition-order-independent.
  *
  * Scale shape: every window partitions by the user key (the islands
  * pass) or by `(user, session)` (the purchase/touch ranks) — state
  * per partition is one session's events, never the corpus; the
  * session-grain join is a key equi-join; the final rollup collapses
  * to |event types|+1 rows with a map-side-combinable sum. No
  * broadcast of anything unbounded, no global window.
  */
object Attribution {

  /** Linear + first/last multi-touch credit per attributed channel.
    * Output: `(attributed_type, n_touches, credit_ppm, n_first,
    * n_last)` — `credit_ppm` sums to ~10⁶ per conversion. */
  def multiTouch(events: DataFrame,
      gapHours: Int = graft.operators.Sessionize.DefaultGapHours)
      : DataFrame = {
    val gapUs = gapHours * 3600L * 1000000L
    val byU = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    // persisted: the sessionized frame feeds the first-purchase pick
    // AND both sides of the touch join — unpersisted, the per-user
    // sort + lag/cumsum windows above the (reused) user_id exchange
    // re-run once per consumer (4-5x in the physical plan; exchange
    // reuse shares only the shuffle below them)
    val s = graft.core.SessionCache.transient(events
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("tus"))
      .withColumn("brk", when(lag(col("tus"), 1).over(byU).isNull ||
        col("tus") - lag(col("tus"), 1).over(byU) > gapUs, 1L)
        .otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(byU.rowsBetween(
        Window.unboundedPreceding, Window.currentRow)))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("tus"), col("sid")))
    // first purchase per session by the unique (tus, event_id) order
    val bySess = Window.partitionBy(col("user_id"), col("sid"))
      .orderBy(col("tus"), col("event_id"))
    // persisted: one row per converting session, consumed by the
    // touch join and the (direct) anti-join
    val fp = graft.core.SessionCache.transient(
      s.filter(col("event_type") === "purchase")
      .withColumn("pr", row_number().over(bySess))
      .filter(col("pr") === 1)
      .select(col("user_id"), col("sid"), col("tus").as("fp_tus"),
        col("event_id").as("fp_id")))
    // touches: converting-session events strictly before that purchase
    // (persisted: consumed by the credit rollup and, session-distinct,
    // by the (direct) anti-join)
    val touches = graft.core.SessionCache.transient(s
      .join(fp, Seq("user_id", "sid"))
      .filter(col("tus") < col("fp_tus") ||
        (col("tus") === col("fp_tus") && col("event_id") < col("fp_id")))
      .withColumn("rn", row_number().over(bySess))
      .withColumn("nt", count(lit(1)).over(
        Window.partitionBy(col("user_id"), col("sid"))))
      .select(col("user_id"), col("sid"), col("event_type"),
        col("rn"), col("nt")))
    val touchCredit = touches.select(col("event_type"),
      expr("1000000 div nt").cast("long").as("credit"),
      when(col("rn") === 1, 1L).otherwise(0L).cast("long").as("fst"),
      when(col("rn") === col("nt"), 1L).otherwise(0L).cast("long")
        .as("lst"))
    // purchase-first sessions: full credit to the (direct) channel
    val direct = fp.join(
        touches.select(col("user_id"), col("sid")).distinct(),
        Seq("user_id", "sid"), "left_anti")
      .select(lit("(direct)").as("event_type"),
        lit(1000000L).as("credit"), lit(1L).as("fst"), lit(1L).as("lst"))
    touchCredit.unionByName(direct)
      .groupBy(col("event_type").as("attributed_type"))
      .agg(count(lit(1)).cast("long").as("n_touches"),
        sum(col("credit")).cast("long").as("credit_ppm"),
        sum(col("fst")).cast("long").as("n_first"),
        sum(col("lst")).cast("long").as("n_last"))
  }

  /** The DuckDB replay of [[multiTouch]] over `events`. */
  def oracleSql(
      gapHours: Int = graft.operators.Sessionize.DefaultGapHours)
      : String =
    s"""WITH x AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus,
       |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
       |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
       |              > ${gapHours}::BIGINT * 3600 * 1000000
       |         THEN 1 ELSE 0 END AS brk
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts),
       |    event_id)),
       |s AS (
       |  SELECT user_id, event_id, event_type, tus,
       |    SUM(brk) OVER (PARTITION BY user_id
       |      ORDER BY tus, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM x),
       |fp AS (
       |  SELECT user_id, sid, tus AS fp_tus, event_id AS fp_id
       |  FROM (SELECT user_id, sid, tus, event_id,
       |          row_number() OVER (PARTITION BY user_id, sid
       |            ORDER BY tus, event_id) AS pr
       |        FROM s WHERE event_type = 'purchase')
       |  WHERE pr = 1),
       |tt AS (
       |  SELECT s.user_id, s.sid, s.event_type,
       |    row_number() OVER (PARTITION BY s.user_id, s.sid
       |      ORDER BY s.tus, s.event_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY s.user_id, s.sid) AS nt
       |  FROM s JOIN fp ON s.user_id = fp.user_id AND s.sid = fp.sid
       |  WHERE s.tus < fp.fp_tus
       |     OR (s.tus = fp.fp_tus AND s.event_id < fp.fp_id)),
       |credit AS (
       |  SELECT event_type, 1000000 // nt AS credit,
       |    CASE WHEN rn = 1 THEN 1 ELSE 0 END AS fst,
       |    CASE WHEN rn = nt THEN 1 ELSE 0 END AS lst
       |  FROM tt
       |  UNION ALL
       |  SELECT '(direct)', 1000000, 1, 1
       |  FROM fp LEFT JOIN (SELECT DISTINCT user_id, sid FROM tt) t
       |    ON fp.user_id = t.user_id AND fp.sid = t.sid
       |  WHERE t.user_id IS NULL)
       |SELECT event_type AS attributed_type,
       |  CAST(COUNT(*) AS BIGINT) AS n_touches,
       |  CAST(SUM(credit) AS BIGINT) AS credit_ppm,
       |  CAST(SUM(fst) AS BIGINT) AS n_first,
       |  CAST(SUM(lst) AS BIGINT) AS n_last
       |FROM credit GROUP BY 1""".stripMargin
}
