package graft.registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables
import graft.streaming.StreamIngest

/** Registry: streaming-semantics coverage (SURVEY §2.9 S16/S17, F29).
  * The payload transform is identical for batch and stream frames, so
  * the batch round-trip below IS the correctness proof for the socket
  * path (the socket transport itself is exercised in ScalaTest via
  * MemoryStream — no TCP in CI, per SURVEY §7.4).
  */
object StreamQueries {

  val specs: Seq[QuerySpec] = Seq(
    // S16: producer JSON payload → from_json(Map) → explode round trip
    QuerySpec("stream_payload_roundtrip", (s, d) =>
      StreamIngest.payloadRoundTrip(s, d),
      Oracle("""SELECT event_id % 100 AS row_index, value AS feature0,
        |       CAST(user_id AS DOUBLE) AS feature1,
        |       event_type AS label
        |FROM events""".stripMargin)),
    // F29: JSON decode of an at-rest JSON column
    QuerySpec("events_json_props", (s, d) =>
      Tables(s, d, "events").select(col("event_id"),
        from_json(col("props"), StructType(Seq(StructField("k", LongType))))
          .getField("k").as("k")),
      Oracle("""SELECT event_id,
        |       CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |FROM events""".stripMargin)),
    // Tumbling-window aggregate — the Structured Streaming windowed-agg
    // shape, runnable identically on the batch frame. Value totals are
    // exact integer cents (see Sessionize scaladoc): round(SUM(dbl), 4)
    // is fragile to cross-engine summation-order ties
    QuerySpec("events_tumbling_window", (s, d) =>
      Tables(s, d, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"))
        .select(col("window.start").as("window_start"),
          col("window.end").as("window_end"),
          col("event_type"), col("n"), col("value_cents")),
      Oracle("""SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
        |       time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR
        |         AS window_end,
        |       event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |         AS value_cents
        |FROM events GROUP BY 1, 2, 3""".stripMargin)),
    // Hopping (sliding) window aggregate — each event lands in
    // width/slide windows; the overlapping-window streaming shape
    QuerySpec("events_hopping_window", (s, d) =>
      Tables(s, d, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"))
        .select(col("window.start").as("window_start"),
          col("window.end").as("window_end"),
          col("event_type"), col("n"), col("value_cents")),
      // each event belongs to exactly width/slide = 2 hop windows: its
      // 30-min bucket and the one 30 min earlier
      Oracle("""WITH h AS (
        |  SELECT event_type, value,
        |         unnest([time_bucket(INTERVAL 30 MINUTE, ts),
        |                 time_bucket(INTERVAL 30 MINUTE, ts)
        |                   - INTERVAL 30 MINUTE]) AS window_start
        |  FROM events)
        |SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
        |       event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |         AS value_cents
        |FROM h GROUP BY 1, 2, 3""".stripMargin)),
    // Gap-based sessionization: projected from the SHARED session
    // tier (one sessionization per sweep — VERDICT r9 #5); the
    // streaming session_window shape lives in Sessionize.sessions
    // (StatefulSpec) and the islands tier equals it under the same
    // gaps-and-islands oracle SQL this query has always matched
    QuerySpec("events_session_window", (s, d) =>
      graft.operators.Sessionize.sharedSessions(s, d)
        .select(col("user_id"), col("session_start"),
          (col("last_ts") + expr(
            s"INTERVAL ${graft.operators.Sessionize.DefaultGapHours} HOUR"))
            .as("session_end"),
          col("n_events"), col("value_cents")),
      // gaps-and-islands: new session when the gap to the previous event
      // EXCEEDS the session gap — session_window merges an event landing
      // exactly on the previous session's end (start <= end is inclusive
      // in UpdatingSessionsIterator), so the boundary case merges: >, not >=
      Oracle({
      val g = graft.operators.Sessionize.DefaultGapHours
      s"""WITH x AS (
         |  SELECT user_id, ts, value,
         |         CASE WHEN lag(ts) OVER w IS NULL
         |                OR ts - lag(ts) OVER w > INTERVAL $g HOUR
         |              THEN 1 ELSE 0 END AS brk
         |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         |), s AS (
         |  SELECT user_id, ts, value,
         |         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM x)
         |SELECT user_id, MIN(ts) AS session_start,
         |       MAX(ts) + INTERVAL $g HOUR AS session_end,
         |       COUNT(*) AS n_events,
         |       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |         AS value_cents
         |FROM s GROUP BY user_id, sid""".stripMargin
    })),
    // Backward as-of join: every event picks up the latest "milestone"
    // event (event_id % 20 == 0) of the same user at-or-before its ts;
    // oracle is DuckDB's native ASOF LEFT JOIN
    QuerySpec("asof_last_milestone", (s, d) => {
      val ev = Tables(s, d, "events")
      val probe = ev.select(col("event_id"), col("user_id"), col("ts"))
      val build = ev.filter(col("event_id") % 20 === 0)
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("m_event_id"),
          expr("max_by(value, event_id)").as("m_value"))
      graft.operators.AsOfJoin.asOf(probe, build,
        Seq("user_id"), "ts", Seq("m_event_id", "m_value"))
    },
      Oracle("""WITH b AS (
        |  SELECT user_id, ts, MAX(event_id) AS m_event_id,
        |         arg_max(value, event_id) AS m_value
        |  FROM events WHERE event_id % 20 = 0 GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, e.ts, b.m_event_id, b.m_value
        |FROM events e ASOF LEFT JOIN b
        |  ON e.user_id = b.user_id AND e.ts >= b.ts""".stripMargin)),
    // X277: FORWARD as-of join — every event picks up the EARLIEST
    // milestone at-or-after its ts (same user); oracle is DuckDB's
    // native forward ASOF LEFT JOIN (e.ts <= b.ts)
    QuerySpec("asof_next_milestone", (s, d) => {
      val ev = Tables(s, d, "events")
      val probe = ev.select(col("event_id"), col("user_id"), col("ts"))
      val build = ev.filter(col("event_id") % 20 === 0)
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("m_event_id"),
          expr("max_by(value, event_id)").as("m_value"))
      graft.operators.AsOfJoin.asOfForward(probe, build,
        Seq("user_id"), "ts", Seq("m_event_id", "m_value"))
    },
      Oracle("""WITH b AS (
        |  SELECT user_id, ts, MAX(event_id) AS m_event_id,
        |         arg_max(value, event_id) AS m_value
        |  FROM events WHERE event_id % 20 = 0 GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, e.ts, b.m_event_id, b.m_value
        |FROM events e ASOF LEFT JOIN b
        |  ON e.user_id = b.user_id AND e.ts <= b.ts""".stripMargin)),
    // Bucketed point-in-interval range join: all events inside each
    // milestone's 2-day window, same user — equi-join on (user, day
    // bucket), never a nested loop; oracle is the plain theta join
    QuerySpec("events_range_join", (s, d) => {
      val ev = Tables(s, d, "events")
      val m = ev.filter(col("event_id") % 20 === 0)
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("m_event_id"))
        .select(col("user_id"), col("ts").as("m_start"),
          (col("ts") + expr("interval 2 days")).as("m_end"),
          col("m_event_id"))
      graft.operators.RangeJoin.pointInRange(
        ev.select(col("event_id"), col("user_id"), col("ts")), m,
        Seq("user_id"), "ts", "m_start", "m_end")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("m_event_id"))
    },
      Oracle("""WITH m AS (
        |  SELECT user_id, ts AS m_start, ts + INTERVAL 2 DAY AS m_end,
        |         MAX(event_id) AS m_event_id
        |  FROM events WHERE event_id % 20 = 0 GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, e.ts, m.m_event_id
        |FROM events e JOIN m
        |  ON e.user_id = m.user_id
        | AND e.ts >= m.m_start AND e.ts <= m.m_end""".stripMargin)),
    // X258's batch face: the LEFT OUTER range join — every event
    // emits, milestone-matched or null-padded ("views with NO purchase
    // within the bound"); inner bucketed equi-join + anti-join union,
    // never a nested loop
    QuerySpec("events_range_join_left", (s, d) => {
      val ev = Tables(s, d, "events")
      val m = ev.filter(col("event_id") % 20 === 0)
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("m_event_id"))
        .select(col("user_id"), col("ts").as("m_start"),
          (col("ts") + expr("interval 2 days")).as("m_end"),
          col("m_event_id"))
      graft.operators.RangeJoin.pointInRangeLeft(
        ev.select(col("event_id"), col("user_id"), col("ts")), m,
        Seq("user_id"), "ts", "m_start", "m_end")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("m_event_id"))
    },
      // the LEFT variant: the oracle is the plain left theta join; the
      // engine's inner-plus-anti decomposition must reproduce it exactly,
      // including null-padded multiplicity for duplicate-free events
      Oracle("""WITH m AS (
        |  SELECT user_id, ts AS m_start, ts + INTERVAL 2 DAY AS m_end,
        |         MAX(event_id) AS m_event_id
        |  FROM events WHERE event_id % 20 = 0 GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, e.ts, m.m_event_id
        |FROM events e LEFT JOIN m
        |  ON e.user_id = m.user_id
        | AND e.ts >= m.m_start AND e.ts <= m.m_end""".stripMargin)),
    // X270's batch face: the FULL OUTER range join — purchases with no
    // covering milestone window AND milestone windows covering no
    // purchase, in one frame; inner bucketed equi-join + two anti-join
    // legs on pre-captured row ids, never a nested loop
    QuerySpec("events_range_join_full", (s, d) => {
      val ev = Tables(s, d, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val m = ev.filter(col("event_id") % 20 === 0)
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("m_event_id"))
        .select(col("user_id"), col("ts").as("m_start"),
          (col("ts") + expr("interval 2 days")).as("m_end"),
          col("m_event_id"))
      graft.operators.RangeJoin.pointInRangeFull(
        p, m, Seq("user_id"), "ts", "m_start", "m_end")
        .select(col("user_id"), col("event_id"), col("ts"),
          col("m_event_id"), col("m_start"))
    },
      // the FULL variant: the oracle is the plain full theta join over
      // purchases vs milestone windows; the engine's inner-plus-two-anti
      // decomposition must reproduce it exactly, both null-padded sides
      Oracle("""WITH p AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |m AS (
        |  SELECT user_id, ts AS m_start, ts + INTERVAL 2 DAY AS m_end,
        |         MAX(event_id) AS m_event_id
        |  FROM events WHERE event_id % 20 = 0 GROUP BY 1, 2)
        |SELECT COALESCE(p.user_id, m.user_id) AS user_id,
        |       p.event_id, p.ts, m.m_event_id, m.m_start
        |FROM p FULL JOIN m
        |  ON p.user_id = m.user_id
        | AND p.ts >= m.m_start AND p.ts <= m.m_end""".stripMargin)),
    // The SAME range join written NAIVELY (raw theta condition, the
    // shape Spark plans as a nested loop) — the RangeJoinRewrite
    // optimizer rule turns it into the bucketed equi-join; the oracle
    // proves the rewrite result-identical. The rule is NOT installed
    // here: the production install path is
    //   spark.sql.extensions=graft.functions.GraftExtensions
    // which injects it session-wide at session build (Verify, Bench and
    // the test session all set it), so the rewrite applies regardless of
    // which query runs first (VERDICT r6 #6 — the old first-call install
    // made plan quality iteration-order-dependent). In a session built
    // WITHOUT the extension this query still returns correct rows — it
    // just executes the nested loop it wrote.
    QuerySpec("events_range_join_auto", (s, d) => {
      val ev = Tables(s, d, "events")
      val m = ev.filter(col("event_id") % 20 === 0)
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("m_event_id"))
        .select(col("user_id").as("m_user_id"), col("ts").as("m_start"),
          (col("ts") + expr("interval 2 days")).as("m_end"),
          col("m_event_id"))
      val naive = ev.select(col("event_id"), col("user_id"), col("ts"))
        .join(m, col("user_id") === col("m_user_id") &&
          col("ts") >= col("m_start") && col("ts") <= col("m_end"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("m_event_id"))
      naive
    },
      // identical semantics to events_range_join — the engine side is
      // the NAIVE theta join rewritten by the optimizer rule, so equality
      // here proves the rewrite preserves results
      Oracle("""WITH m AS (
        |  SELECT user_id, ts AS m_start, ts + INTERVAL 2 DAY AS m_end,
        |         MAX(event_id) AS m_event_id
        |  FROM events WHERE event_id % 20 = 0 GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, e.ts, m.m_event_id
        |FROM events e JOIN m
        |  ON e.user_id = m.user_id
        | AND e.ts >= m.m_start AND e.ts <= m.m_end""".stripMargin)),
    // X276: per-key admission quota (crawl-politeness rate cap) —
    // batch face of Quota.quotaStream's cross-batch budget; the rank
    // stamp is the audit column the drop decision replays from
    QuerySpec("events_quota_filter", (s, d) =>
      graft.streaming.Quota.quotaFilter(Tables(s, d, "events")),
      Oracle({
      val n = graft.streaming.Quota.DefaultQuota
      s"""SELECT user_id, ts, event_id,
         |  CAST(row_number() OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id) AS BIGINT) AS quota_rank
         |FROM events
         |QUALIFY quota_rank <= $n""".stripMargin
    })),
    // Exact interpolated percentiles per event type (Spark percentile
    // == DuckDB quantile_cont: both linear-interpolate at rank (n-1)p)
    QuerySpec("events_funnel", (s, d) =>
      graft.analytics.Analytics.funnelStages(Tables(s, d, "events")),
      // earliest strictly-increasing view->click->purchase chain per
      // user; NULL comparisons block later stages exactly like the
      // engine's MaxValue sentinel; epoch MICROS (DuckDB truncates
      // ns->us exactly like Spark's div 1000 — verified on the 999ns
      // case), -1 = not reached
      Oracle("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
        |           FROM events),
        |s1 AS (SELECT user_id, MIN(ts_us) AS t1 FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(ts_us) AS t2 FROM e
        |       JOIN s1 USING (user_id)
        |       WHERE event_type = 'click' AND ts_us > t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(ts_us) AS t3 FROM e
        |       JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND ts_us > t2 GROUP BY 1),
        |u AS (SELECT DISTINCT user_id FROM e)
        |SELECT u.user_id,
        |  CAST(COALESCE(t1, -1) AS BIGINT) AS t_view_us,
        |  CAST(COALESCE(t2, -1) AS BIGINT) AS t_click_us,
        |  CAST(COALESCE(t3, -1) AS BIGINT) AS t_purchase_us,
        |  CAST((CASE WHEN t1 IS NULL THEN 0 ELSE 1 END)
        |     + (CASE WHEN t2 IS NULL THEN 0 ELSE 1 END)
        |     + (CASE WHEN t3 IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |    AS funnel_stage
        |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |       LEFT JOIN s3 USING (user_id)""".stripMargin)),
    QuerySpec("events_gap_fill", (s, d) =>
      graft.analytics.Analytics.gapFillDaily(Tables(s, d, "events")),
      // dense calendar spine per type (the qc_missing_days date-series
      // spelling) + LOCF via IGNORE NULLS — mirrors Analytics.gapFillDaily
      Oracle("""WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |mm AS (SELECT event_type, min(day) AS mn, max(day) AS mx
        |       FROM daily GROUP BY 1),
        |spine AS (
        |  SELECT event_type,
        |    CAST(unnest(generate_series(CAST(mn AS TIMESTAMP),
        |      CAST(mx AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM mm),
        |j AS (SELECT s.event_type, s.day, d.n
        |      FROM spine s LEFT JOIN daily d
        |        ON s.event_type = d.event_type AND s.day = d.day)
        |SELECT event_type, day,
        |  CAST(COALESCE(n, 0) AS BIGINT) AS n_obs,
        |  (n IS NULL) AS is_gap,
        |  CAST(last_value(n IGNORE NULLS) OVER (
        |    PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS n_filled
        |FROM j""".stripMargin)),
    // one-sided CUSUM in closed form (two windows, no sequential
    // loop); allowance = per-type integer mean daily count
    QuerySpec("events_cusum", (s, d) =>
      graft.analytics.Analytics.cusumScores(Tables(s, d, "events")),
      // CUSUM closed form: S_t = C_t − min(0, min_{j≤t} C_j); identical
      // prefix windows, identical integer allowance
      Oracle({
      val m = graft.analytics.Analytics.CusumAlarmMult
      s"""WITH daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day,
         |         CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2),
         |al AS (SELECT event_type, CAST(SUM(n) // count(*) AS BIGINT)
         |           AS k
         |       FROM daily GROUP BY 1),
         |c AS (SELECT d.event_type, d.day, d.n, d.n - al.k AS dev, al.k,
         |        CAST(SUM(d.n - al.k) OVER (
         |          PARTITION BY d.event_type ORDER BY d.day
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |          AS BIGINT) AS cum
         |      FROM daily d JOIN al USING (event_type)),
         |s AS (SELECT event_type, day, n, dev, k,
         |        CAST(cum - least(0, MIN(cum) OVER (
         |          PARTITION BY event_type ORDER BY day
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |          AS BIGINT) AS cusum
         |      FROM c)
         |SELECT event_type, day, n, dev, cusum,
         |  CAST(CASE WHEN cusum > k * $m THEN 1 ELSE 0 END AS BIGINT)
         |    AS is_alarm
         |FROM s""".stripMargin
    })),
    // dwell-time matrix: per (prev,next) type transition, whole-second
    // gap stats off one user-keyed lag window
    QuerySpec("events_transitions", (s, d) =>
      graft.analytics.Analytics.transitionTimes(Tables(s, d, "events")),
      // same (ts, event_id) lag order; epoch-floor second diffs agree
      // between cast-to-long and date_diff('second')
      Oracle("""WITH g AS (
        |  SELECT lag(event_type) OVER w AS prev_type,
        |         event_type AS next_type,
        |         date_diff('second', lag(ts) OVER w, ts) AS gap_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT prev_type, next_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(gap_s) AS BIGINT) AS min_gap_s,
        |  CAST(max(gap_s) AS BIGINT) AS max_gap_s,
        |  CAST(SUM(gap_s) // count(*) AS BIGINT) AS mean_gap_s
        |FROM g WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2""".stripMargin)),
    // daily active/new/returning + cumulative users (cum distinct =
    // running sum of daily new — no distinct-over-growing-window)
    QuerySpec("events_daily_users", (s, d) =>
      graft.analytics.Analytics.dailyUsers(Tables(s, d, "events")),
      // same (user, day) dedup + first-seen rule; cumulative = prefix
      // sum of daily new
      Oracle("""WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |a AS (SELECT day, CAST(count(*) AS BIGINT) AS n_active
        |      FROM ud GROUP BY 1),
        |fs AS (SELECT day, CAST(count(*) AS BIGINT) AS n_new FROM (
        |         SELECT user_id, min(day) AS day FROM ud GROUP BY 1)
        |       GROUP BY 1)
        |SELECT a.day, a.n_active,
        |  COALESCE(fs.n_new, 0) AS n_new,
        |  CAST(a.n_active - COALESCE(fs.n_new, 0) AS BIGINT)
        |    AS n_returning,
        |  CAST(SUM(COALESCE(fs.n_new, 0)) OVER (ORDER BY a.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_users
        |FROM a LEFT JOIN fs USING (day)""".stripMargin)),
    // X304: weekly cohort retention triangle — integer epoch-weeks,
    // ppm retention per (cohort, offset) cell
    QuerySpec("events_retention_triangle", (s, d) =>
      graft.analytics.Analytics.retentionTriangle(
        Tables(s, d, "events")),
      // same (user, epoch-week) dedup + first-week cohort rule; ppm by
      // floor-div against the cohort size
      Oracle("""WITH uw AS (
        |  SELECT DISTINCT user_id,
        |         epoch_us(ts) // 604800000000 AS w
        |  FROM events),
        |ch AS (SELECT user_id, MIN(w) AS cw FROM uw GROUP BY 1),
        |sz AS (SELECT cw, CAST(count(*) AS BIGINT) AS cohort_size
        |       FROM ch GROUP BY 1),
        |g AS (SELECT ch.cw, uw.w - ch.cw AS off,
        |        CAST(count(*) AS BIGINT) AS n_active
        |      FROM uw JOIN ch USING (user_id) GROUP BY 1, 2)
        |SELECT CAST(g.cw AS BIGINT) AS cohort_week,
        |  CAST(g.off AS BIGINT) AS offset_weeks,
        |  g.n_active, sz.cohort_size,
        |  CAST((g.n_active * 1000000) // sz.cohort_size AS BIGINT)
        |    AS retained_ppm
        |FROM g JOIN sz USING (cw)""".stripMargin)),
    // mergeable moment sums over the zero-filled daily spine; integer
    // cov/r² under the house overflow assert
    QuerySpec("events_type_correlation", (s, d) =>
      graft.analytics.Analytics.typeCorrelationStats(
        Tables(s, d, "events")),
      // same zero-filled spine, same moment identities; the CASE guards
      // only the degenerate zero-variance legs
      Oracle("""WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |spine AS (SELECT d.day, t.event_type
        |          FROM (SELECT DISTINCT day FROM daily) d
        |          CROSS JOIN (SELECT DISTINCT event_type FROM daily) t),
        |f AS (SELECT s.event_type, s.day, COALESCE(daily.n, 0) AS n
        |      FROM spine s LEFT JOIN daily
        |        ON s.event_type = daily.event_type AND s.day = daily.day),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |        a.n AS x, b.n AS y
        |      FROM f a JOIN f b
        |        ON a.day = b.day AND a.event_type < b.event_type),
        |m AS (SELECT type_a, type_b,
        |        CAST(count(*) AS BIGINT) AS n_days,
        |        CAST(SUM(x) AS BIGINT) AS sx,
        |        CAST(SUM(y) AS BIGINT) AS sy,
        |        CAST(SUM(x * y) AS BIGINT) AS sxy,
        |        CAST(SUM(x * x) AS BIGINT) AS sxx,
        |        CAST(SUM(y * y) AS BIGINT) AS syy
        |      FROM p GROUP BY 1, 2),
        |d2 AS (SELECT type_a, type_b, n_days, sx, sy, sxy,
        |         n_days * sxy - sx * sy AS cov_n2,
        |         n_days * sxx - sx * sx AS vx_n2,
        |         n_days * syy - sy * sy AS vy_n2
        |       FROM m)
        |SELECT type_a, type_b, n_days, sx, sy, sxy,
        |  CAST(cov_n2 AS BIGINT) AS cov_n2,
        |  CAST(sign(cov_n2) AS BIGINT) AS cov_sign,
        |  CAST(CASE WHEN vx_n2 = 0 OR vy_n2 = 0 THEN 0
        |       ELSE (cov_n2 * cov_n2 * 1000000) // (vx_n2 * vy_n2)
        |       END AS BIGINT) AS r2_ppm
        |FROM d2""".stripMargin)),
    // X311: per-type daily-count autocorrelation at lags 1..7 — the
    // seasonality detector; one window pass for all lags, stack
    // unpivot, the corr-style sign + squared-ppm integer outputs
    QuerySpec("events_acf", (s, d) =>
      graft.analytics.Analytics.acfDaily(Tables(s, d, "events")),
      // per-type zero-filled spine, ONE window of 7 lag columns, a
      // parallel-unnest unpivot, the same moment identities — sign and
      // squared magnitude stay in non-negative integer floor-div land
      Oracle({
      val r = graft.analytics.Analytics.AcfMaxLag
      val lagCols = (1 to r).map(k => s"lag(n, $k) OVER w AS l$k")
        .mkString(", ")
      val lagList = (1 to r).map(k => s"CAST($k AS BIGINT)")
        .mkString("[", ", ", "]")
      val valList = (1 to r).map(k => s"l$k").mkString("[", ", ", "]")
      s"""WITH daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day,
         |         CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2),
         |mm AS (SELECT event_type, min(day) AS mn, max(day) AS mx
         |       FROM daily GROUP BY 1),
         |spine AS (
         |  SELECT event_type,
         |    CAST(unnest(generate_series(CAST(mn AS TIMESTAMP),
         |      CAST(mx AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
         |  FROM mm),
         |f AS (SELECT s.event_type, s.day, COALESCE(daily.n, 0) AS n
         |      FROM spine s LEFT JOIN daily
         |        ON s.event_type = daily.event_type
         |          AND s.day = daily.day),
         |l AS (SELECT event_type, n AS x, $lagCols
         |      FROM f
         |      WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         |u AS (SELECT event_type, x,
         |        unnest($lagList) AS lag, unnest($valList) AS y
         |      FROM l),
         |p AS (SELECT * FROM u WHERE y IS NOT NULL),
         |m AS (SELECT event_type, lag,
         |        CAST(count(*) AS BIGINT) AS n_pairs,
         |        CAST(SUM(x) AS BIGINT) AS sx,
         |        CAST(SUM(y) AS BIGINT) AS sy,
         |        CAST(SUM(x * y) AS BIGINT) AS sxy,
         |        CAST(SUM(x * x) AS BIGINT) AS sxx,
         |        CAST(SUM(y * y) AS BIGINT) AS syy
         |      FROM p GROUP BY 1, 2),
         |d2 AS (SELECT event_type, lag, n_pairs, sx, sy, sxy,
         |         n_pairs * sxy - sx * sy AS cov_n2,
         |         n_pairs * sxx - sx * sx AS vx_n2,
         |         n_pairs * syy - sy * sy AS vy_n2
         |       FROM m)
         |SELECT event_type, lag, n_pairs, sx, sy, sxy,
         |  CAST(sign(cov_n2) AS BIGINT) AS cov_sign,
         |  CAST(CASE WHEN vx_n2 = 0 OR vy_n2 = 0 THEN 0
         |       ELSE (cov_n2 * cov_n2 * 1000000) // (vx_n2 * vy_n2)
         |       END AS BIGINT) AS acf2_ppm
         |FROM d2""".stripMargin
    })),
    // X315: Wald–Wolfowitz runs test on the daily series — observed
    // runs + the closed-form null moments as scaled integers (never
    // a float z); flat days excluded, gaps are real zeros
    QuerySpec("events_runs_test", (s, d) =>
      graft.analytics.Analytics.runsTest(Tables(s, d, "events")),
      // same zero-filled spine; diff lag, nonzero-sign subsequence,
      // run-break lag, the textbook E[R]/Var[R] as e6 floor-divs (the
      // variance numerator is non-negative whenever both signs occur)
      Oracle("""WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |mm AS (SELECT event_type, min(day) AS mn, max(day) AS mx
        |       FROM daily GROUP BY 1),
        |spine AS (
        |  SELECT event_type,
        |    CAST(unnest(generate_series(CAST(mn AS TIMESTAMP),
        |      CAST(mx AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM mm),
        |f AS (SELECT s.event_type, s.day, COALESCE(daily.n, 0) AS n
        |      FROM spine s LEFT JOIN daily
        |        ON s.event_type = daily.event_type
        |          AND s.day = daily.day),
        |dd AS (SELECT event_type, day,
        |         n - lag(n) OVER (PARTITION BY event_type
        |           ORDER BY day) AS d
        |       FROM f),
        |sg AS (SELECT event_type, day,
        |         CAST(sign(d) AS BIGINT) AS s
        |       FROM dd WHERE d IS NOT NULL AND d <> 0),
        |br AS (SELECT event_type, s,
        |         CASE WHEN lag(s) OVER w IS NULL
        |              OR s <> lag(s) OVER w THEN 1 ELSE 0 END AS brk
        |       FROM sg
        |       WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |r AS (SELECT event_type,
        |        CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_up,
        |        CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_down,
        |        CAST(SUM(brk) AS BIGINT) AS n_runs
        |      FROM br GROUP BY 1)
        |SELECT event_type, n_up, n_down, n_runs,
        |  CAST(CASE WHEN n_up + n_down = 0 THEN 0
        |       ELSE 1000000 +
        |         (2 * n_up * n_down * 1000000) // (n_up + n_down)
        |       END AS BIGINT) AS expected_runs_e6,
        |  CAST(CASE WHEN n_up + n_down < 2 THEN 0
        |       ELSE (2 * n_up * n_down *
        |         (2 * n_up * n_down - n_up - n_down) * 1000000) //
        |         ((n_up + n_down) * (n_up + n_down) *
        |          (n_up + n_down - 1))
        |       END AS BIGINT) AS var_runs_e6
        |FROM r""".stripMargin)),
    QuerySpec("events_percentiles", (s, d) =>
      Tables(s, d, "events").groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.9)"), 6).as("p90"),
          round(expr("percentile(value, 0.99)"), 6).as("p99")),
      Oracle("""SELECT event_type, COUNT(*) AS n,
        |       ROUND(quantile_cont(value, 0.5), 6) AS p50,
        |       ROUND(quantile_cont(value, 0.9), 6) AS p90,
        |       ROUND(quantile_cont(value, 0.99), 6) AS p99
        |FROM events GROUP BY event_type""".stripMargin)),
    // mergeable log-bucket quantile sketch: built shard-then-merge on
    // the Spark side, directly in the oracle — the hash-match is the
    // mergeability proof
    QuerySpec("events_quantile_sketch", (s, d) =>
      graft.analytics.Analytics.logBucketQuantiles(Tables(s, d, "events")),
      // log-bucket sketch: bucket = bitlength(cents) (integer in both
      // engines: bin() / format('{:b}')), quantile = lower bound of the
      // first bucket whose cumulative share clears p — all-integer, so
      // the DIRECT computation here must hash-match Spark's
      // shard-then-merge build
      Oracle("""WITH c AS (
        |  SELECT event_type,
        |    GREATEST(CAST(floor(value * 100 + 0.5) AS BIGINT), 0) AS cents
        |  FROM events),
        |bk AS (SELECT event_type,
        |         CASE WHEN cents = 0 THEN 0
        |              ELSE length(format('{:b}', cents)) END AS b
        |       FROM c),
        |g AS (SELECT event_type, CAST(b AS BIGINT) AS b,
        |        CAST(count(*) AS BIGINT) AS c
        |      FROM bk GROUP BY 1, 2),
        |cm AS (SELECT event_type, b, c,
        |         CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY b)
        |           AS BIGINT) AS cum
        |       FROM g),
        |t AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n
        |      FROM g GROUP BY 1),
        |q AS (SELECT cm.event_type, t.n,
        |        CAST(MIN(CASE WHEN cum * 100 >= n * 50 THEN b END)
        |          AS BIGINT) AS b50,
        |        CAST(MIN(CASE WHEN cum * 100 >= n * 90 THEN b END)
        |          AS BIGINT) AS b90,
        |        CAST(MIN(CASE WHEN cum * 100 >= n * 99 THEN b END)
        |          AS BIGINT) AS b99
        |      FROM cm JOIN t USING (event_type)
        |      GROUP BY cm.event_type, t.n)
        |SELECT event_type, n, b50, b90, b99,
        |  CAST(CASE WHEN b50 = 0 THEN 0 ELSE power(2, b50 - 1) END
        |    AS BIGINT) AS p50_lb_cents,
        |  CAST(CASE WHEN b90 = 0 THEN 0 ELSE power(2, b90 - 1) END
        |    AS BIGINT) AS p90_lb_cents,
        |  CAST(CASE WHEN b99 = 0 THEN 0 ELSE power(2, b99 - 1) END
        |    AS BIGINT) AS p99_lb_cents
        |FROM q""".stripMargin)),
    // integer half-life ladder: 10^6 >> (age div 7), capped at 30 rungs
    QuerySpec("events_decay_score", (s, d) =>
      graft.analytics.Analytics.decayScores(Tables(s, d, "events")),
      Oracle({
      val h = graft.analytics.Analytics.DecayHalfLifeDays
      val cap = graft.analytics.Analytics.DecayMaxSteps
      s"""WITH a AS (SELECT MAX(CAST(ts AS DATE)) AS as_of FROM events),
         |s AS (SELECT event_type,
         |        LEAST(CAST(date_diff('day', CAST(ts AS DATE), as_of)
         |          AS BIGINT) // $h, $cap) AS k
         |      FROM events CROSS JOIN a)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |  CAST(SUM(1000000 // CAST(power(2, k) AS BIGINT)) AS BIGINT)
         |    AS decayed_mass_e6
         |FROM s GROUP BY 1""".stripMargin
    })),
    // trailing 7-day per-user activity as of each event (RANGE frame
    // over event time, exact cents)
    QuerySpec("events_rolling_7d", (s, d) =>
      graft.analytics.Analytics.rollingWindow(Tables(s, d, "events")),
      // RANGE frame over epoch-micros: ties share a frame, so per-row
      // values depend only on (user_id, ts) — deterministic both engines
      Oracle("""SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_win,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
        |    AS cents_win
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)""".stripMargin)),
    // Per-group winsorization: clamp value to the group's exact
    // [p05, p95] (outlier clipping before feature scaling). Bounds are
    // one tiny per-group aggregate broadcast back — the fact side
    // streams map-only; clipping itself adds NO shuffle
    QuerySpec("events_winsorize", (s, d) => {
      val ev = Tables(s, d, "events")
      val bounds = ev.groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.05)").as("lo"),
          expr("percentile(value, 0.95)").as("hi"))
      ev.join(broadcast(bounds), Seq("event_type"))
        .select(col("event_id"), col("event_type"), col("value"),
          round(least(greatest(col("value"), col("lo")), col("hi")), 6)
            .as("clipped"),
          when(col("value") < col("lo") || col("value") > col("hi"), 1L)
            .otherwise(0L).as("is_clipped"))
    },
      // Spark percentile == DuckDB quantile_cont (same (n-1)p linear
      // interpolation); raw values pass through exact, clamped values
      // round(6) both sides
      Oracle("""WITH b AS (
        |  SELECT event_type,
        |         quantile_cont(value, 0.05) AS lo,
        |         quantile_cont(value, 0.95) AS hi
        |  FROM events GROUP BY 1)
        |SELECT event_id, e.event_type, value,
        |  ROUND(least(greatest(value, lo), hi), 6) AS clipped,
        |  CAST(CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END
        |    AS BIGINT) AS is_clipped
        |FROM events e JOIN b ON e.event_type = b.event_type""".stripMargin)),
    // Exact per-day AUC of "value predicts purchase" — the rank-form
    // eval metric, integer-exact (see Analytics.aucByGroup)
    QuerySpec("events_auc", (s, d) =>
      graft.analytics.Analytics.aucByGroup(
        Tables(s, d, "events").select(
          date_format(col("ts"), "yyyy-MM-dd").as("grp"),
          round(col("value") * 100).cast("long").as("cents"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("label"))),
      // Mann–Whitney midrank AUC decomposed over the distinct-score
      // frame; all-integer (values non-negative so // == div)
      Oracle("""WITH t AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS grp,
        |         CAST(round(value * 100) AS BIGINT) AS cents,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
        |           AS label
        |  FROM events),
        |g AS (SELECT grp, cents, COUNT(*) AS c,
        |             CAST(SUM(label) AS BIGINT) AS pos_c
        |      FROM t GROUP BY 1, 2),
        |m AS (SELECT grp, cents, c, pos_c,
        |        COALESCE(SUM(c) OVER (PARTITION BY grp ORDER BY cents
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS below
        |      FROM g),
        |a AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n,
        |             CAST(SUM(pos_c) AS BIGINT) AS n_pos,
        |             CAST(SUM(pos_c * (below * 2 + c + 1)) AS BIGINT) AS r2
        |      FROM m GROUP BY 1)
        |SELECT grp, n, n_pos, n - n_pos AS n_neg,
        |  CAST(CASE WHEN n_pos = 0 OR n_pos = n THEN -1
        |       ELSE ((r2 - n_pos * (n_pos + 1)) * 1000000)
        |            // (2 * n_pos * (n - n_pos)) END AS BIGINT) AS auc_e6
        |FROM a""".stripMargin)),
    // Retention triangle: cohort = first-seen day; users active at
    // each day offset
    QuerySpec("events_retention", (s, d) =>
      graft.analytics.Analytics.retentionCohorts(Tables(s, d, "events")),
      Oracle("""WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
        |           FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |      FROM events)
        |SELECT cohort_day,
        |  CAST(datediff('day', cohort_day, day) AS BIGINT) AS day_offset,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM a JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin)),
    // Sequential patterns: top-20 event-type trigrams over per-user
    // ordered histories
    QuerySpec("events_trigrams", (s, d) =>
      graft.analytics.Analytics.eventTrigrams(Tables(s, d, "events")),
      Oracle("""WITH s AS (
        |  SELECT event_type,
        |         lead(event_type, 1) OVER w AS e2,
        |         lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |t AS (SELECT event_type || '>' || e2 || '>' || e3 AS trigram
        |      FROM s WHERE e3 IS NOT NULL),
        |c AS (SELECT trigram, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM t GROUP BY 1),
        |r AS (SELECT trigram, n,
        |        CAST(row_number() OVER (ORDER BY n DESC, trigram)
        |          AS BIGINT) AS rk
        |      FROM c)
        |SELECT trigram, n, rk FROM r WHERE rk <= 20""".stripMargin)),
    // Per-key top-k with per-partition bounded-heap pre-prune (shuffle
    // k·partitions rows per key, not the group) — oracle is the plain
    // rank window, proving the prune drops nothing
    QuerySpec("events_topk_per_user", (s, d) =>
      graft.operators.TopKPerKey.topKPerKey(
        Tables(s, d, "events").select(col("event_id"), col("user_id"),
          round(col("value") * 100).cast("long").as("cents")),
        Seq("user_id"), "cents", "event_id", 3),
      Oracle("""WITH t AS (SELECT event_id, user_id,
        |             CAST(round(value * 100) AS BIGINT) AS cents
        |           FROM events),
        |r AS (SELECT event_id, user_id, cents,
        |        CAST(row_number() OVER (PARTITION BY user_id
        |          ORDER BY cents DESC, event_id) AS BIGINT) AS rk
        |      FROM t)
        |SELECT event_id, user_id, cents, rk FROM r WHERE rk <= 3""".stripMargin)),
    // Incremental aggregation maintenance: rollup(first half) merged
    // with rollup(second half) must equal the full recompute — the
    // oracle IS the full recompute, so the merge algebra is proven
    QuerySpec("events_rollup_merge", (s, d) => {
      val ev = Tables(s, d, "events")
      val cut = to_timestamp(lit("2024-01-15 00:00:00"))
      val stored = graft.analytics.Analytics.eventRollup(
        ev.filter(col("ts") < cut))
      val delta = graft.analytics.Analytics.eventRollup(
        ev.filter(col("ts") >= cut))
      graft.analytics.Analytics.mergeRollups(stored, delta,
        Seq("user_id", "event_type"))
    },
      // the full recompute — equality with the engine's split+merge
      // path is the whole point
      Oracle("""SELECT user_id, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1, 2""".stripMargin)),
    // Key-skew diagnostic: top-10 hottest user keys + row share in ppm
    // (decides plain join vs AQE skew split vs salting)
    QuerySpec("events_key_skew", (s, d) =>
      graft.core.ScaleJoins.keySkewProfile(
        Tables(s, d, "events"), "user_id"),
      Oracle("""WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM events),
        |r AS (SELECT user_id, cnt,
        |        CAST(row_number() OVER (ORDER BY cnt DESC, user_id)
        |          AS BIGINT) AS rk
        |      FROM c)
        |SELECT rk, user_id, CAST(cnt AS BIGINT) AS c,
        |  (CAST(cnt AS BIGINT) * 1000000) // n_rows AS share_e6
        |FROM r CROSS JOIN n WHERE rk <= 10""".stripMargin)),
    // Robust per-group outlier flags: |x − median| > 3·MAD — immune to
    // the outliers themselves (unlike z-scores, whose mean/stddev the
    // outliers drag). Two tiny per-group percentile aggregates
    // broadcast back; the fact side streams map-only, and both engines
    // interpolate the exact same median (proven by events_percentiles)
    QuerySpec("events_mad_outliers", (s, d) => {
      val ev = Tables(s, d, "events")
      val med = ev.groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("med"))
      val withDev = ev.join(broadcast(med), Seq("event_type"))
        .withColumn("adev", abs(col("value") - col("med")))
      val mad = withDev.groupBy(col("event_type"))
        .agg(expr("percentile(adev, 0.5)").as("mad"))
      withDev.join(broadcast(mad), Seq("event_type"))
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("med"), 6).as("med"), round(col("mad"), 6).as("mad"),
          when(col("adev") > lit(3.0) * col("mad"), 1L).otherwise(0L)
            .as("is_outlier"))
    },
      // flag compares the UNROUNDED identical-IEEE intermediates; only
      // the reported med/mad round
      Oracle("""WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |           FROM events GROUP BY 1),
        |d AS (SELECT event_id, e.event_type, value, med,
        |             abs(value - med) AS adev
        |      FROM events e JOIN m USING (event_type)),
        |md AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |       FROM d GROUP BY 1)
        |SELECT event_id, d.event_type, value,
        |  ROUND(med, 6) AS med, ROUND(mad, 6) AS mad,
        |  CAST(CASE WHEN adev > 3 * mad THEN 1 ELSE 0 END AS BIGINT)
        |    AS is_outlier
        |FROM d JOIN md USING (event_type)""".stripMargin)),
    // X313: Tukey IQR fences per type — exact order-statistic
    // quartiles on cents via the value-domain offset device, doubled-
    // integer fence comparisons, low/high counts + ppm
    QuerySpec("events_iqr_outliers", (s, d) =>
      graft.analytics.Analytics.iqrOutliers(Tables(s, d, "events")),
      // same value-domain cumulative device; type-1 order statistics,
      // doubled-integer fences — nothing leaves integer land
      Oracle("""WITH t AS (
        |  SELECT event_type,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |vc AS (SELECT event_type, cents, CAST(count(*) AS BIGINT) AS c
        |       FROM t GROUP BY 1, 2),
        |cm AS (SELECT event_type, cents, c,
        |         CAST(SUM(c) OVER (PARTITION BY event_type
        |           ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
        |           AND CURRENT ROW) AS BIGINT) AS cum
        |       FROM vc),
        |nn AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n
        |       FROM vc GROUP BY 1),
        |q AS (SELECT cm.event_type, MAX(n) AS n,
        |        MIN(CASE WHEN cum >= (n + 3) // 4 THEN cents END)
        |          AS q1_cents,
        |        MIN(CASE WHEN cum >= (3 * n + 3) // 4 THEN cents END)
        |          AS q3_cents
        |      FROM cm JOIN nn USING (event_type) GROUP BY 1),
        |o AS (SELECT vc.event_type,
        |        CAST(SUM(CASE WHEN cents * 2 <
        |          q1_cents * 2 - (q3_cents - q1_cents) * 3
        |          THEN c ELSE 0 END) AS BIGINT) AS n_low,
        |        CAST(SUM(CASE WHEN cents * 2 >
        |          q3_cents * 2 + (q3_cents - q1_cents) * 3
        |          THEN c ELSE 0 END) AS BIGINT) AS n_high
        |      FROM vc JOIN q USING (event_type) GROUP BY 1)
        |SELECT q.event_type, q.n, q1_cents, q3_cents,
        |  CAST(q3_cents - q1_cents AS BIGINT) AS iqr_cents,
        |  n_low, n_high,
        |  CAST(((n_low + n_high) * 1000000) // q.n AS BIGINT)
        |    AS outlier_ppm
        |FROM q JOIN o USING (event_type)""".stripMargin)),
    // X318: rule-based salted-join rewrite — the X61 skew profile is
    // MEASURED, its hot keys REGISTERED, and the plain type-dim
    // enrich join rewritten to the X47 salted form by the optimizer
    // (SaltedJoinRewrite), result-identically; the oracle is the
    // plain join
    QuerySpec("events_salted_auto", (s, d) => {
      val ev = Tables(s, d, "events")
        .select(col("event_id"), col("event_type"),
          floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
      val dim = Tables(s, d, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("type_n"))
      graft.core.ScaleJoins.autoSaltedJoin(ev, dim, "event_type")
    },
      // the salt only spreads a hot key's rows across shuffle sub-keys;
      // the result must be the plain join, so the plain join IS the
      // oracle (the j_salted_join contract, now rule-driven)
      Oracle("""WITH dim AS (SELECT event_type, CAST(count(*) AS BIGINT)
        |               AS type_n
        |             FROM events GROUP BY 1)
        |SELECT event_id, e.event_type,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, type_n
        |FROM events e JOIN dim USING (event_type)""".stripMargin)),
    // Reliability diagram for the same score/label pair as events_auc:
    // equi-depth score deciles (X44 decomposition, no global sort) ×
    // integer-ppm positive rate
    QuerySpec("events_calibration", (s, d) =>
      graft.analytics.Analytics.calibrationCurve(
        Tables(s, d, "events").select(
          col("event_id").as("id"),
          round(col("value") * 100).cast("long").as("cents"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("label"))),
      // equi-depth tile via the integer rank formula (NOT NTILE —
      // remainder placement differs); oracle may global-sort, the
      // engine must not
      Oracle("""WITH t AS (
        |  SELECT event_id AS id,
        |         CAST(round(value * 100) AS BIGINT) AS cents,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
        |           AS label
        |  FROM events),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM t),
        |r AS (SELECT id, cents, label,
        |        CAST(row_number() OVER (ORDER BY cents, id) AS BIGINT)
        |          AS grank
        |      FROM t)
        |SELECT ((grank - 1) * 10) // n_total + 1 AS tile,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(label) AS BIGINT) AS n_pos,
        |  MIN(cents) AS cents_lo, MAX(cents) AS cents_hi,
        |  (CAST(SUM(label) AS BIGINT) * 1000000) // CAST(COUNT(*) AS BIGINT)
        |    AS pos_rate_e6
        |FROM r CROSS JOIN n
        |GROUP BY 1""".stripMargin)),
    // Batch mirror of the flatMapGroupsWithState spike detector
    // (graft.streaming.Stateful): running mean over each user's PRIOR
    // events via a preceding-rows window — the oracle-checked proof of
    // the custom-state scoring rule. event_id deliberately not emitted:
    // (ts, value)-tied rows are interchangeable, so the OUTPUT multiset
    // is order-independent even though per-row attribution isn't
    QuerySpec("events_spike_scores", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("value"))
        .rowsBetween(Window.unboundedPreceding, -1)
      // exact cents accumulation, and the mean emitted as INTEGER
      // micro-units (cents·10⁴ div n): no floating point anywhere, so
      // no round-tie ambiguity — Spark round() (decimal HALF_UP) and
      // DuckDB round() (float tie-to-even) disagree at exact ties like
      // …8125e-6, which cents/(100n) quotients hit routinely
      Tables(s, d, "events")
        .select(col("user_id"), col("ts"), col("value"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("prior_n", count(lit(1)).over(w))
        .withColumn("prior_cents", sum(col("cents")).over(w))
        .select(col("user_id"), col("ts"), col("value"),
          when(col("prior_n") === 0, col("cents") * 10000L)
            .otherwise(expr("(prior_cents * 10000) div prior_n"))
            .as("running_mean_e6"),
          when(col("prior_n") > 0 &&
            col("cents") * col("prior_n") >
              lit(graft.streaming.Stateful.SpikeFactor) * col("prior_cents"),
            1L).otherwise(0L).as("is_spike"))
    },
      // pure-integer mean (micro-units): values are non-negative so
      // DuckDB's floor-// equals Spark's truncating div
      Oracle(s"""WITH x AS (
         |  SELECT user_id, ts, value,
         |         COUNT(*) OVER w AS prior_n,
         |         SUM(CAST(round(value * 100) AS BIGINT)) OVER w
         |           AS prior_cents,
         |         CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, value
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         |SELECT user_id, ts, value,
         |  CAST(CASE WHEN prior_n = 0 THEN cents * 10000
         |            ELSE (prior_cents * 10000) // prior_n
         |       END AS BIGINT) AS running_mean_e6,
         |  CASE WHEN prior_n > 0
         |        AND cents * prior_n >
         |            ${graft.streaming.Stateful.SpikeFactor} * prior_cents
         |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
         |  END AS is_spike
         |FROM x""".stripMargin)),
    // Sketch-based approximate stats — the 100 TB path for distincts
    // and quantiles (HLL++ / KLL replace exact shuffles with mergeable
    // O(1)-state sketches). DuckDB's sketches are different algorithms,
    // so the raw sketch values can't cross-check; what CAN is the
    // deterministic error-bound VERDICT: the exact side is computed
    // in-query and the output carries only booleans asserting
    // |approx − exact| ≤ bound (HLL++ rsd 0.05 → generous 10% bound;
    // percentile_approx accuracy 1000 → rank error n/1000, checked
    // against the exact [p49, p51] envelope). Booleans hash identically
    // across engines, and the exact n / exact_users columns are genuine
    // cross-checked values — a sketch drifting out of bound flips a
    // boolean and fails the hash (VERDICT r4 #3)
    QuerySpec("events_approx_stats", (s, d) =>
      Tables(s, d, "events").groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id")).as("approx_users"),
          expr("percentile_approx(value, 0.5, 1000)").as("p50_approx"),
          expr("percentile(value, 0.49)").as("p49_exact"),
          expr("percentile(value, 0.51)").as("p51_exact"))
        .select(col("event_type"), col("n"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            greatest(ceil(col("exact_users") * 0.1), lit(5.0)))
            .as("users_within_10pct"),
          (col("p50_approx") >= col("p49_exact") &&
            col("p50_approx") <= col("p51_exact"))
            .as("p50_within_bound")),
      // the exact columns are genuinely recomputed; the booleans are the
      // sketch error-bound contract (always TRUE when the sketch honors
      // its published bound — a violation flips the hash)
      Oracle("""SELECT event_type, COUNT(*) AS n,
        |       COUNT(DISTINCT user_id) AS exact_users,
        |       CAST(1 AS BOOLEAN) AS users_within_10pct,
        |       CAST(1 AS BOOLEAN) AS p50_within_bound
        |FROM events GROUP BY 1""".stripMargin)),
    // Mergeable-sketch rollup — X60's incremental-maintenance algebra
    // lifted to DISTINCT COUNTS, which plain count-distinct can never
    // merge: per-slice Datasketches HLL sketches union losslessly, so
    // a 100 TB feed keeps running distinct-user counts current at
    // |sketch| per slice, never |history|. Verdict booleans (oracle
    // pattern of events_approx_stats): BOTH the one-pass estimate and
    // the split-union estimate must land within the HLL bound of the
    // exact count computed in-query — the union estimate is NOT
    // register-identical to one-pass (sparse→dense promotion differs
    // by build path), but mergeability means the BOUND survives the
    // merge, and that is what the verdict pins
    // X144: KMV distinct sketch — per-type k-minimum-hash estimate plus
    // the merged __all__ row; the whole estimator is integer-replayable
    QuerySpec("events_kmv_distinct", (s, d) =>
      graft.operators.KmvSketch.kmvDistinct(Tables(s, d, "events"),
        "event_type", "user_id"),
      // the oracle replays the ESTIMATOR itself — hash, rank, ratio are
      // all integer arithmetic, so est_distinct hash-matches bit-for-bit
      // (the plain rank window is the spec; the engine's bounded
      // per-partition heaps must return the identical k-min sets)
      Oracle({
      val k = graft.operators.KmvSketch.K
      val estNum = (k - 1).toLong * graft.operators.KmvSketch.HashSpan
      val h = OracleSql.hex8("md5(CAST(user_id AS VARCHAR))")
      s"""WITH dh AS (
         |  SELECT DISTINCT event_type AS grp, $h AS h FROM events),
         |r AS (SELECT grp, h,
         |        row_number() OVER (PARTITION BY grp ORDER BY h) AS rk
         |      FROM dh),
         |kept AS (SELECT grp, h FROM r WHERE rk <= $k),
         |mh AS (SELECT DISTINCT h FROM kept),
         |mr AS (SELECT '__all__' AS grp, h,
         |         row_number() OVER (ORDER BY h) AS rk FROM mh),
         |u AS (SELECT grp, h FROM kept
         |      UNION ALL SELECT grp, h FROM mr WHERE rk <= $k)
         |SELECT grp AS event_type,
         |  CAST(COUNT(*) AS BIGINT) AS n_kept,
         |  CAST(MAX(h) AS BIGINT) AS kth_hash,
         |  CAST(CASE WHEN COUNT(*) < $k THEN COUNT(*)
         |       ELSE $estNum // greatest(MAX(h), 1) END AS BIGINT)
         |    AS est_distinct
         |FROM u GROUP BY 1""".stripMargin
    })),
    // X187: session entry/exit flow matrix — which event type OPENS
    // a session, which CLOSES it, and how often a session is a
    // single-event bounce; the landing-page/exit-page rollup. Reads
    // the SHARED session tier (Sessionize.sharedSessions — one
    // sessionization per sweep); entry/exit there are struct-min/max
    // over the unique (ts, id) total order, never an arbitrary
    // first(); matrix grain = |types|², corpus-size-independent
    QuerySpec("events_entry_exit", (s, d) => {
      val sess = graft.operators.Sessionize.sharedSessions(s, d)
      sess.groupBy(col("entry_type"), col("exit_type"))
        .agg(count(lit(1)).cast("long").as("n_sessions"),
          sum(when(col("n_events") === 1L, 1L).otherwise(0L))
            .cast("long").as("n_single"))
        .withColumn("single_ppm",
          expr("(n_single * 1000000) div n_sessions"))
    },
      Oracle({
      val g = graft.operators.Sessionize.DefaultGapHours
      s"""WITH x AS (
         |  SELECT user_id, ts, event_id, event_type,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |           OR ts - lag(ts) OVER w > INTERVAL $g HOUR
         |         THEN 1 ELSE 0 END AS brk
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |), s AS (
         |  SELECT *, SUM(brk) OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM x
         |), r AS (
         |  SELECT user_id, sid, event_type,
         |    row_number() OVER (PARTITION BY user_id, sid
         |      ORDER BY ts, event_id) AS ra,
         |    row_number() OVER (PARTITION BY user_id, sid
         |      ORDER BY ts DESC, event_id DESC) AS rd,
         |    COUNT(*) OVER (PARTITION BY user_id, sid) AS n_events
         |  FROM s
         |), sess AS (
         |  SELECT user_id, sid,
         |    MAX(CASE WHEN ra = 1 THEN event_type END) AS entry_type,
         |    MAX(CASE WHEN rd = 1 THEN event_type END) AS exit_type,
         |    MAX(n_events) AS n_events
         |  FROM r GROUP BY 1, 2)
         |SELECT entry_type, exit_type,
         |  CAST(COUNT(*) AS BIGINT) AS n_sessions,
         |  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_single,
         |  CAST((SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
         |    * 1000000) // COUNT(*) AS BIGINT) AS single_ppm
         |FROM sess GROUP BY 1, 2""".stripMargin
    })),
    // X186: burst-collapse debounce — retry storms / double-clicks
    // collapse to one keeper per burst (gaps-and-islands, one key
    // shuffle); gap compare and span are exact integer micros
    QuerySpec("events_debounce", (s, d) =>
      graft.operators.Debounce.bursts(Tables(s, d, "events"),
        "user_id", "ts", "event_id",
        graft.operators.Debounce.DefaultGapSeconds),
      Oracle({
      val g = graft.operators.Debounce.DefaultGapSeconds
      s"""WITH x AS (
         |  SELECT user_id, event_id, ts,
         |    epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
         |              > ${g}000000 THEN 1 ELSE 0 END AS brk
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |), s AS (
         |  SELECT user_id, event_id, ts,
         |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS burst_id
         |  FROM x)
         |SELECT user_id, CAST(burst_id AS BIGINT) AS burst_id,
         |  CAST(MIN(event_id) AS BIGINT) AS keeper_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_events,
         |  MIN(ts) AS burst_start,
         |  CAST((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 1000000
         |    AS BIGINT) AS span_s
         |FROM s GROUP BY 1, 2""".stripMargin
    })),
    // X197: multi-touch conversion attribution — linear credit split
    // (exact integer ppm) plus first/last-touch counts over the X23
    // islands sessions; every window keys on the user/session prefix
    QuerySpec("events_attribution", (s, d) =>
      graft.analytics.Attribution.multiTouch(Tables(s, d, "events")),
      // same windows replayed; the sessionizer, purchase pick and touch
      // ranks all ride the unique (tus, event_id) total order
      Oracle(graft.analytics.Attribution.oracleSql())),
    // X185: conversion by session depth — "do longer sessions
    // convert more": reads the SHARED session tier, flags sessions
    // containing a purchase, rolls conversion ppm up per size band;
    // band + ppm run on the session-grain frame, never raw events
    QuerySpec("events_session_conversion", (s, d) => {
      val sess = graft.operators.Sessionize.sharedSessions(s, d)
        .select(col("n_events"),
          when(col("n_purchase") > 0L, 1L).otherwise(0L)
            .cast("long").as("converted"))
      sess
        .select(when(col("n_events") === 1L, "1_single")
          .when(col("n_events") <= 4L, "2_short")
          .when(col("n_events") <= 9L, "3_medium")
          .otherwise("4_long").as("depth_band"), col("converted"))
        .groupBy(col("depth_band"))
        .agg(count(lit(1)).cast("long").as("n_sessions"),
          sum(col("converted")).cast("long").as("n_converted"))
        .withColumn("conv_ppm",
          expr("(n_converted * 1000000) div n_sessions"))
    },
      Oracle({
      val g = graft.operators.Sessionize.DefaultGapHours
      s"""WITH x AS (
         |  SELECT user_id, ts, event_type,
         |         CASE WHEN lag(ts) OVER w IS NULL
         |                OR ts - lag(ts) OVER w > INTERVAL $g HOUR
         |              THEN 1 ELSE 0 END AS brk
         |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         |), s AS (
         |  SELECT user_id, ts, event_type,
         |         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS sid
         |  FROM x),
         |sess AS (
         |  SELECT user_id, sid, CAST(COUNT(*) AS BIGINT) AS n_events,
         |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1
         |             ELSE 0 END) AS BIGINT) AS converted
         |  FROM s GROUP BY 1, 2),
         |b AS (
         |  SELECT CASE WHEN n_events = 1 THEN '1_single'
         |              WHEN n_events <= 4 THEN '2_short'
         |              WHEN n_events <= 9 THEN '3_medium'
         |              ELSE '4_long' END AS depth_band, converted
         |  FROM sess)
         |SELECT depth_band, CAST(COUNT(*) AS BIGINT) AS n_sessions,
         |  CAST(SUM(converted) AS BIGINT) AS n_converted,
         |  CAST((SUM(converted) * 1000000) // COUNT(*) AS BIGINT)
         |    AS conv_ppm
         |FROM b GROUP BY 1""".stripMargin
    })),
    // X179: watermark-lateness audit — replay streaming watermark
    // semantics in batch: the watermark before each arrival is the
    // running MAX event time over arrival order (the X141 two-phase
    // prefix scan — never a single-task global window), minus the
    // allowed delay; rows classify on_time / late_accepted (inside
    // the delay) / late_dropped (what the stream would discard)
    QuerySpec("events_lateness_audit", (s, d) => {
      val delayUs = 3600L * 1000000L
      // the fixture's event_ids are time-ordered, which would make
      // every row trivially on_time; a deterministic md5 scramble of
      // the id models a real out-of-order ingest sequence
      val ev = Tables(s, d, "events")
        .select(col("event_id"), col("event_type"),
          expr("unix_micros(ts)").as("ts_us"),
          expr("CAST(conv(substring(md5(CAST(event_id AS STRING)), " +
            "1, 8), 16, 10) AS BIGINT)").as("arr"))
      val scanned = graft.operators.PrefixScan.prefixAgg(
        ev, Seq("arr", "event_id"), "ts_us", "max",
        "wm_incl", "wm_excl")
      scanned
        // floor the exclusive max at -1 (the scan's identity is
        // Long.MinValue — subtracting the delay from it would wrap,
        // and ANSI mode would throw; real event times are positive)
        .withColumn("wm", greatest(col("wm_excl"), lit(-1L)))
        .select(col("event_type"),
          when(col("ts_us") >= col("wm"), "on_time")
            .when(col("ts_us") >= col("wm") - delayUs,
              "late_accepted")
            .otherwise("late_dropped").as("lateness"))
        .groupBy(col("event_type"), col("lateness"))
        .agg(count(lit(1)).cast("long").as("n"))
    },
      // the naive single-order running max IS the oracle; the engine's
      // two-phase scan must reproduce it exactly
      Oracle(("""WITH a AS (
        |  SELECT event_type, epoch_us(ts) AS ts_us,
        |    COALESCE(MAX(epoch_us(ts)) OVER (ORDER BY """ +
        OracleSql.hex8("md5(CAST(event_id AS VARCHAR))") +
        """, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |      AS wm
        |  FROM events),
        |c AS (
        |  SELECT event_type,
        |    CASE WHEN ts_us >= wm THEN 'on_time'
        |         WHEN ts_us >= wm - 3600000000 THEN 'late_accepted'
        |         ELSE 'late_dropped' END AS lateness
        |  FROM a)
        |SELECT event_type, lateness, CAST(COUNT(*) AS BIGINT) AS n
        |FROM c GROUP BY 1, 2""").stripMargin)),
    // X178: percent-rank (CDF) normalization of value per type — the
    // rank-feature transform, via the X44 decomposition: the rank
    // window runs over the DISTINCT-VALUE frame (domain-sized), never
    // the rows, so a 20B-row group is not a single-task trap; rows
    // get their rank back through one (type, cents) equi-join;
    // rank() ≡ strictly-smaller count + 1, ppm by truncating div
    QuerySpec("events_percent_rank", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("cents"))
      val ev = Tables(s, d, "events")
        .select(col("event_id"), col("event_type"),
          floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
      val dist = ev.groupBy(col("event_type"), col("cents"))
        .agg(count(lit(1)).cast("long").as("c"))
        .withColumn("below", coalesce(sum(col("c")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)), lit(0L)).cast("long"))
        .withColumn("n", sum(col("c")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("event_type"))).cast("long"))
      ev.join(dist.select(col("event_type"), col("cents"),
          col("below"), col("n")), Seq("event_type", "cents"))
        .select(col("event_id"), col("event_type"), col("cents"),
          (col("below") + 1L).as("rnk"),
          expr("(below * 1000000) div greatest(n - 1, 1)")
            .as("pct_ppm"))
    },
      // the naive per-row rank window — the spec the domain-frame
      // decomposition must reproduce; rank() = strictly-below + 1
      Oracle("""WITH ev AS (
        |  SELECT event_id, event_type,
        |    CAST(floor(CAST(value AS DOUBLE) * CAST(100 AS DOUBLE)
        |      + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents
        |  FROM events)
        |SELECT event_id, event_type, cents,
        |  CAST(rank() OVER (PARTITION BY event_type ORDER BY cents)
        |    AS BIGINT) AS rnk,
        |  CAST(((rank() OVER (PARTITION BY event_type ORDER BY cents)
        |    - 1) * 1000000)
        |    // greatest(COUNT(*) OVER (PARTITION BY event_type) - 1, 1)
        |    AS BIGINT) AS pct_ppm
        |FROM ev""".stripMargin)),
    // X174: per-user inter-event cadence stats — gap percentiles are
    // X220: daily activity streaks — gaps-and-islands at day grain,
    // longest + current streak per user
    QuerySpec("events_streaks", (s, d) =>
      graft.analytics.Analytics.activityStreaks(Tables(s, d, "events")),
      // the same anchor device (day minus per-user day rank), island
      // rollup, 1-row last-day scalar for the current-streak flag
      Oracle("""WITH dd AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |            FROM events),
        |rn AS (SELECT user_id, day, row_number() OVER (
        |         PARTITION BY user_id ORDER BY day) AS rn
        |       FROM dd),
        |st AS (SELECT user_id, day - CAST(rn AS INT) AS anchor,
        |         CAST(count(*) AS BIGINT) AS len, MAX(day) AS end_day
        |       FROM rn GROUP BY 1, 2),
        |mx AS (SELECT MAX(day) AS max_day FROM dd)
        |SELECT user_id,
        |  CAST(SUM(len) AS BIGINT) AS n_active_days,
        |  CAST(count(*) AS BIGINT) AS n_streaks,
        |  CAST(MAX(len) AS BIGINT) AS longest_streak,
        |  CAST(COALESCE(MAX(CASE WHEN end_day = max_day THEN len END),
        |    0) AS BIGINT) AS current_streak
        |FROM st CROSS JOIN mx GROUP BY 1""".stripMargin)),
    // X263: robotic-cadence screen — modal inter-event-gap share as
    // the regularity verdict (single-event users carry no cadence
    // evidence and emit no row — the top-1 probe contract)
    QuerySpec("events_bot_screen", (s, d) =>
      graft.analytics.Analytics.botScreen(Tables(s, d, "events")),
      // the same gap device, counted per (user, gap) then rolled up; the
      // modal SHARE is tie-invariant so no argmax tie-break is needed
      Oracle({
      import graft.analytics.Analytics.{BotMinGaps, BotModalSharePpm}
      s"""WITH g AS (
         |  SELECT user_id,
         |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (
         |      PARTITION BY user_id ORDER BY ts, event_id))
         |      // 1000000 AS gap_s
         |  FROM events),
         |c AS (SELECT user_id, gap_s, CAST(count(*) AS BIGINT) AS cnt
         |      FROM g WHERE gap_s IS NOT NULL GROUP BY 1, 2),
         |u AS (SELECT user_id,
         |        CAST(SUM(cnt) + 1 AS BIGINT) AS n_events,
         |        CAST(SUM(cnt) AS BIGINT) AS n_gaps,
         |        CAST(count(*) AS BIGINT) AS n_distinct_gaps,
         |        CAST(MAX(cnt) AS BIGINT) AS modal_cnt
         |      FROM c GROUP BY 1)
         |SELECT user_id, n_events, n_gaps, n_distinct_gaps, modal_cnt,
         |  CAST(modal_cnt * 1000000 // n_gaps AS BIGINT)
         |    AS modal_share_ppm,
         |  CAST(CASE WHEN n_gaps >= $BotMinGaps
         |       AND modal_cnt * 1000000 // n_gaps >= $BotModalSharePpm
         |       THEN 1 ELSE 0 END AS BIGINT) AS is_robotic
         |FROM u""".stripMargin
    })),
    // X266: time-weighted average (TWAP) — LOCF-duration-weighted
    // value moments per user, exact integer cents·seconds
    QuerySpec("events_twap", (s, d) =>
      graft.analytics.Analytics.twapByUser(Tables(s, d, "events")),
      // forward micro-diff durations, cents quantized once, floor TWAP
      Oracle("""WITH g AS (
        |  SELECT user_id,
        |    CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)
        |      AS cents,
        |    (lead(epoch_us(ts)) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id)
        |      - epoch_us(ts)) // 1000000 AS dur_s
        |  FROM events),
        |u AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_obs,
        |    CAST(SUM(cents * COALESCE(dur_s, 0)) AS BIGINT)
        |      AS mass_cents_s,
        |    CAST(SUM(COALESCE(dur_s, 0)) AS BIGINT) AS dur_total_s
        |  FROM g GROUP BY 1)
        |SELECT user_id, n_obs, mass_cents_s, dur_total_s,
        |  CAST(mass_cents_s // greatest(dur_total_s, 1) AS BIGINT)
        |    AS twap_cents
        |FROM u""".stripMargin)),
    // X268: per-type dwell-time moments — forward gap attributed to
    // the CURRENT event's type; last events excluded but counted
    QuerySpec("events_dwell_time", (s, d) =>
      graft.analytics.Analytics.dwellByType(Tables(s, d, "events")),
      // same lag window; quantile_cont is percentile()'s proven twin
      // (events_percentiles), round 6 on both sides
      // forward micro-diff gaps grouped by the CURRENT event's type;
      // NULL last gaps counted, never summed
      Oracle("""WITH g AS (
        |  SELECT event_type,
        |    (lead(epoch_us(ts)) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id)
        |      - epoch_us(ts)) // 1000000 AS dwell_s
        |  FROM events)
        |SELECT event_type,
        |  CAST(COUNT(dwell_s) AS BIGINT) AS n,
        |  CAST(COUNT(*) - COUNT(dwell_s) AS BIGINT) AS n_last,
        |  CAST(SUM(dwell_s) AS BIGINT) AS sum_s,
        |  CAST(SUM(dwell_s * dwell_s) AS BIGINT) AS sum_s2,
        |  CAST(CAST(SUM(dwell_s) AS BIGINT)
        |    // greatest(COUNT(dwell_s), 1) AS BIGINT) AS mean_s
        |FROM g GROUP BY 1""".stripMargin)),
    // X233: weekly growth accounting — new / retained / resurrected
    // / churned decomposition at epoch-week grain, churn never past
    // the last observed week
    QuerySpec("events_growth_accounting", (s, d) =>
      graft.analytics.Analytics.growthAccounting(Tables(s, d, "events")),
      // one user-partition window pass serves the lag classification
      // and the lead churn probe; churn capped at the last month
      Oracle("""WITH um AS (SELECT DISTINCT user_id,
        |    CAST(epoch_us(ts) // 86400000000 // 7 AS BIGINT) AS wk
        |  FROM events),
        |st AS (SELECT user_id, wk,
        |    lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_w,
        |    lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_w
        |  FROM um),
        |cl AS (SELECT wk, CASE WHEN prev_w IS NULL THEN 'new'
        |           WHEN wk - prev_w = 1 THEN 'retained'
        |           ELSE 'resurrected' END AS status
        |       FROM st
        |  UNION ALL
        |  SELECT wk + 1 AS wk, 'churned' AS status FROM st
        |  WHERE next_w IS NULL OR next_w <> wk + 1),
        |mx AS (SELECT MAX(wk) AS mx FROM um)
        |SELECT wk, status, CAST(count(*) AS BIGINT) AS n_users
        |FROM cl CROSS JOIN mx WHERE wk <= mx GROUP BY 1, 2""".stripMargin)),
    // X241: dow × hour activity heatmap — the ≤168-cell busy grid
    QuerySpec("events_dow_hour_heatmap", (s, d) =>
      graft.analytics.Analytics.dowHourHeatmap(Tables(s, d, "events")),
      // DuckDB's 0-based Sunday week shifted to Spark's 1-based
      Oracle("""WITH c AS (
        |  SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
        |         CAST(hour(ts) AS BIGINT) AS hour,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS n_total FROM c)
        |SELECT dow, hour, n_events,
        |  CAST((n_events * 1000000) // greatest(n_total, 1) AS BIGINT)
        |    AS share_ppm
        |FROM c CROSS JOIN tot""".stripMargin)),
    // X249: A/B conversion read-out — hash-split arms, purchase
    // conversion, exact per-arm moments
    QuerySpec("events_ab_lift", (s, d) =>
      graft.analytics.Analytics.abLift(Tables(s, d, "events")),
      // hex8 % 2 arm assignment, distinct converters, user-key left join
      Oracle({
      val split = OracleSql.hex8("md5(CAST(user_id AS VARCHAR))")
      s"""WITH u AS (SELECT DISTINCT user_id FROM events),
         |a AS (SELECT user_id,
         |        CASE WHEN $split % 2 = 0 THEN 'A' ELSE 'B' END AS arm
         |      FROM u),
         |c AS (SELECT DISTINCT user_id FROM events
         |      WHERE event_type = 'purchase'),
         |j AS (SELECT a.arm,
         |        CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
         |          AS is_conv
         |      FROM a LEFT JOIN c ON a.user_id = c.user_id)
         |SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
         |  CAST(SUM(is_conv) AS BIGINT) AS n_converters,
         |  CAST((SUM(is_conv) * 1000000) // greatest(count(*), 1)
         |    AS BIGINT) AS conv_ppm
         |FROM j GROUP BY 1""".stripMargin
    })),
    // X242: peak concurrent sessions per day — the X137 sweep line at
    // minute grain over the shared session tier
    QuerySpec("events_peak_concurrency", (s, d) =>
      graft.analytics.Analytics.sessionPeakConcurrency(
        graft.operators.Sessionize.sharedSessions(s, d)),
      // the shared session boundary replay + the sweep-line deltas at
      // minute grain, day-partitioned running sum
      Oracle({
      val g = graft.operators.Sessionize.DefaultGapHours
      s"""WITH x AS (
         |  SELECT user_id, ts, event_id,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |           OR ts - lag(ts) OVER w > INTERVAL $g HOUR
         |         THEN 1 ELSE 0 END AS brk
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |), s AS (
         |  SELECT *, SUM(brk) OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM x
         |), sess AS (
         |  SELECT user_id, sid, MIN(ts) AS session_start,
         |         MAX(ts) AS last_ts
         |  FROM s GROUP BY 1, 2
         |), dl AS (
         |  SELECT epoch_us(session_start) // 86400000000 AS day,
         |         epoch_us(session_start) // 60000000 AS minute,
         |         1 AS delta
         |  FROM sess
         |  UNION ALL
         |  SELECT epoch_us(session_start) // 86400000000,
         |         epoch_us(last_ts) // 60000000 + 1, -1
         |  FROM sess
         |), nt AS (
         |  SELECT day, minute, CAST(SUM(delta) AS BIGINT) AS net
         |  FROM dl GROUP BY 1, 2
         |), oc AS (
         |  SELECT day, minute,
         |    SUM(net) OVER (PARTITION BY day ORDER BY minute
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS open_cnt
         |  FROM nt
         |), pk AS (
         |  SELECT day, minute, open_cnt,
         |    MAX(open_cnt) OVER (PARTITION BY day) AS peak
         |  FROM oc
         |), pr AS (
         |  SELECT day, MIN(minute) AS peak_minute,
         |         MAX(peak) AS peak_concurrent
         |  FROM pk WHERE open_cnt = peak GROUP BY 1
         |), ns AS (
         |  SELECT epoch_us(session_start) // 86400000000 AS day,
         |         CAST(count(*) AS BIGINT) AS n_sessions
         |  FROM sess GROUP BY 1)
         |SELECT CAST(pr.day AS BIGINT) AS day,
         |  CAST(peak_concurrent AS BIGINT) AS peak_concurrent,
         |  CAST(peak_minute AS BIGINT) AS peak_minute, ns.n_sessions
         |FROM pr JOIN ns ON pr.day = ns.day""".stripMargin
    })),
    // the burstiness/churn features regularity models consume; one
    // sequence-key window + one keyed percentile aggregate
    QuerySpec("events_gap_stats", (s, d) => {
      Tables(s, d, "events")
        .withColumn("gap_s", expr(
          "(unix_micros(ts) - lag(unix_micros(ts), 1) over " +
            "(partition by user_id order by ts, event_id)) " +
            "div 1000000"))
        .filter(col("gap_s").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("n_gaps"),
          round(expr("percentile(gap_s, 0.5)"), 6).as("p50_gap_s"),
          round(expr("percentile(gap_s, 0.9)"), 6).as("p90_gap_s"),
          max(col("gap_s")).cast("long").as("max_gap_s"))
    },
      Oracle("""WITH g AS (
        |  SELECT user_id,
        |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id))
        |      // 1000000 AS gap_s
        |  FROM events)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |  round(quantile_cont(gap_s, 0.5), 6) AS p50_gap_s,
        |  round(quantile_cont(gap_s, 0.9), 6) AS p90_gap_s,
        |  CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
        |FROM g WHERE gap_s IS NOT NULL GROUP BY 1""".stripMargin)),
    // X172: LOCF daily gap-fill — dense per-type daily grid over the
    // corpus' own span, last observation carried forward; days 10-12
    // deterministically blinded so the fill has gaps to close
    QuerySpec("events_locf_daily", (s, d) => {
      val obs = Tables(s, d, "events")
        .filter(!dayofmonth(col("ts")).isin(10, 11, 12))
        .select(col("event_type").as("key"),
          expr("unix_micros(ts) div 86400000000").as("day"),
          floor(col("value") * 100.0 + 0.5).cast("long").as("c"))
        .groupBy(col("key"), col("day"))
        .agg(sum(col("c")).cast("long").as("cents"))
      graft.analytics.Analytics.locfDaily(obs)
        .withColumnRenamed("key", "event_type")
    },
      // generate_series spine over the same span; last_value IGNORE
      // NULLS is DuckDB's LOCF spelling
      Oracle("""WITH obs AS (
        |  SELECT event_type AS key,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(SUM(CAST(floor(CAST(value AS DOUBLE)
        |      * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM events
        |  WHERE day(ts) NOT IN (10, 11, 12)
        |  GROUP BY 1, 2),
        |span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM obs),
        |spine AS (
        |  SELECT k.key, CAST(g.day AS BIGINT) AS day
        |  FROM (SELECT DISTINCT key FROM obs) k
        |  CROSS JOIN (SELECT unnest(generate_series(
        |    (SELECT d0 FROM span), (SELECT d1 FROM span))) AS day) g)
        |SELECT s.key AS event_type, s.day,
        |  CAST(CASE WHEN o.cents IS NOT NULL THEN 1 ELSE 0 END
        |    AS BIGINT) AS is_obs,
        |  CAST(CASE WHEN o.cents IS NULL AND last_value(o.cents
        |      IGNORE NULLS) OVER w IS NOT NULL THEN 1 ELSE 0 END
        |    AS BIGINT) AS is_filled,
        |  CAST(last_value(o.cents IGNORE NULLS) OVER w AS BIGINT)
        |    AS filled_cents
        |FROM spine s LEFT JOIN obs o
        |  ON s.key = o.key AND s.day = o.day
        |WINDOW w AS (PARTITION BY s.key ORDER BY s.day
        |  ROWS UNBOUNDED PRECEDING)""".stripMargin)),
    // X214: linear-interpolation resample — the smooth-fill companion
    // to LOCF over the same punched-out daily observation frame
    QuerySpec("events_interp_daily", (s, d) => {
      val obs = Tables(s, d, "events")
        .filter(!dayofmonth(col("ts")).isin(10, 11, 12))
        .select(col("event_type").as("key"),
          expr("unix_micros(ts) div 86400000000").as("day"),
          floor(col("value") * 100.0 + 0.5).cast("long").as("c"))
        .groupBy(col("key"), col("day"))
        .agg(sum(col("c")).cast("long").as("cents"))
      graft.analytics.Analytics.interpDaily(obs)
        .withColumnRenamed("key", "event_type")
    },
      // same spine; prev/next observation via the paired windows, the
      // sign-split interpolation spelling (day−pd ≥ 0, so the numerator
      // sign is nv−pv's), NULL outside the [first, last] span
      Oracle("""WITH obs AS (
        |  SELECT event_type AS key,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(SUM(CAST(floor(CAST(value AS DOUBLE)
        |      * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM events
        |  WHERE day(ts) NOT IN (10, 11, 12)
        |  GROUP BY 1, 2),
        |span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM obs),
        |spine AS (
        |  SELECT k.key, CAST(g.day AS BIGINT) AS day
        |  FROM (SELECT DISTINCT key FROM obs) k
        |  CROSS JOIN (SELECT unnest(generate_series(
        |    (SELECT d0 FROM span), (SELECT d1 FROM span))) AS day) g),
        |f AS (
        |  SELECT s.key, s.day, o.cents,
        |    last_value(o.cents IGNORE NULLS) OVER wp AS pv,
        |    last_value(CASE WHEN o.cents IS NOT NULL THEN s.day END
        |      IGNORE NULLS) OVER wp AS pd,
        |    first_value(o.cents IGNORE NULLS) OVER wn AS nv,
        |    first_value(CASE WHEN o.cents IS NOT NULL THEN s.day END
        |      IGNORE NULLS) OVER wn AS nd
        |  FROM spine s LEFT JOIN obs o
        |    ON s.key = o.key AND s.day = o.day
        |  WINDOW wp AS (PARTITION BY s.key ORDER BY s.day
        |    ROWS UNBOUNDED PRECEDING),
        |  wn AS (PARTITION BY s.key ORDER BY s.day
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT key AS event_type, day,
        |  CAST(CASE WHEN cents IS NOT NULL THEN 1 ELSE 0 END
        |    AS BIGINT) AS is_obs,
        |  CAST(CASE
        |    WHEN pv IS NULL OR nv IS NULL THEN NULL
        |    WHEN nd = pd THEN pv
        |    ELSE pv + (CASE WHEN nv < pv THEN -1 ELSE 1 END)
        |         * (abs((nv - pv) * (day - pd)) // (nd - pd))
        |  END AS BIGINT) AS interp_cents
        |FROM f""".stripMargin)),
    // X169: top-k frequent 3-event paths — the sequential-pattern
    // view above the transition matrix; one sequence-key shuffle,
    // path counts aggregate map-side, global top-k via TakeOrdered
    QuerySpec("events_top_paths", (s, d) =>
      graft.analytics.Analytics.topPaths(
        Tables(s, d, "events"), "user_id", Seq("ts", "event_id"),
        "event_type"),
      // same lead-stitched 3-grams; (count desc, path asc) is a
      // deterministic total order so rank replays exactly
      Oracle("""WITH seq AS (
        |  SELECT event_type AS s0,
        |    lead(event_type, 1) OVER w AS s1,
        |    lead(event_type, 2) OVER w AS s2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |p AS (
        |  SELECT s0 || ' > ' || s1 || ' > ' || s2 AS path,
        |    CAST(COUNT(*) AS BIGINT) AS n_paths
        |  FROM seq WHERE s2 IS NOT NULL GROUP BY 1
        |  ORDER BY n_paths DESC, path ASC LIMIT 20)
        |SELECT path, n_paths,
        |  CAST(row_number() OVER (ORDER BY n_paths DESC, path ASC)
        |    AS BIGINT) AS rank
        |FROM p""".stripMargin)),
    // X166: exponentially time-decayed engagement score — weekly
    // half-life as an integer shift (the one exponential both engines
    // replay exactly), anchored at the corpus' own max date
    QuerySpec("events_engagement_decay", (s, d) =>
      graft.analytics.Analytics.decayScores(
        Tables(s, d, "events"), "user_id", "ts", "value"),
      // 1000000 >> weeks in both engines; DuckDB datediff('day', a, b)
      // = Spark datediff(b, a)
      Oracle("""WITH anchor AS (
        |  SELECT MAX(CAST(ts AS DATE)) AS as_of FROM events),
        |base AS (
        |  SELECT user_id,
        |    CAST(floor(CAST(value AS DOUBLE) * CAST(100 AS DOUBLE)
        |      + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents,
        |    (1000000 >> CAST(least(
        |      datediff('day', CAST(ts AS DATE), as_of) // 7, 62)
        |      AS INTEGER)) AS w
        |  FROM events CROSS JOIN anchor)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(cents) AS BIGINT) AS raw_cents,
        |  CAST(SUM(cents * w) AS BIGINT) AS decayed_e6
        |FROM base GROUP BY 1""".stripMargin)),
    // X165: first-order Markov transitions over per-user event
    // sequences — one user-key window shuffle, then everything runs
    // at the |states|^2 grain; p in exact e6 integer units
    QuerySpec("events_markov_transitions", (s, d) =>
      graft.analytics.Analytics.transitionMatrix(
        Tables(s, d, "events"), "user_id", Seq("ts", "event_id"),
        "event_type"),
      Oracle("""WITH seq AS (
        |  SELECT event_type AS from_state,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_state
        |  FROM events),
        |t AS (
        |  SELECT from_state, to_state,
        |    CAST(COUNT(*) AS BIGINT) AS n_trans
        |  FROM seq WHERE to_state IS NOT NULL GROUP BY 1, 2)
        |SELECT from_state, to_state, n_trans,
        |  CAST(SUM(n_trans) OVER (PARTITION BY from_state) AS BIGINT)
        |    AS from_total,
        |  CAST((n_trans * 1000000) //
        |    SUM(n_trans) OVER (PARTITION BY from_state) AS BIGINT)
        |    AS p_e6
        |FROM t""".stripMargin)),
    // X209: Kaplan-Meier lifetable for view->purchase delay — risk
    // set, conversions, censorings and exact integer hazard per day;
    // the survival product stays with the consumer (moments
    // discipline)
    QuerySpec("events_lifetable", (s, d) =>
      graft.analytics.Analytics.lifetable(Tables(s, d, "events")),
      // same unique (ts, event_id) order per user; row totals recompute
      // from the transition counts, never the raw events
      // same first-view/first-purchase-after convention, same floor-day
      // quantization, same descending risk cumsum
      Oracle("""WITH pu AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
        |      AS t0,
        |    MAX(epoch_us(ts)) AS t_last
        |  FROM events GROUP BY 1),
        |fp AS (
        |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS tp
        |  FROM events e JOIN pu ON e.user_id = pu.user_id
        |  WHERE e.event_type = 'purchase' AND pu.t0 IS NOT NULL
        |    AND epoch_us(e.ts) >= pu.t0
        |  GROUP BY 1),
        |dur AS (
        |  SELECT CAST(CASE WHEN fp.tp IS NOT NULL
        |           THEN (fp.tp - pu.t0) // 86400000000
        |           ELSE (pu.t_last - pu.t0) // 86400000000 END
        |         AS BIGINT) AS t_days,
        |    CASE WHEN fp.tp IS NOT NULL THEN 1 ELSE 0 END AS is_event
        |  FROM pu LEFT JOIN fp ON pu.user_id = fp.user_id
        |  WHERE pu.t0 IS NOT NULL),
        |d AS (
        |  SELECT t_days, CAST(SUM(is_event) AS BIGINT) AS n_events,
        |    CAST(SUM(1 - is_event) AS BIGINT) AS n_censored
        |  FROM dur GROUP BY 1),
        |r AS (
        |  SELECT t_days, n_events, n_censored,
        |    CAST(SUM(n_events + n_censored) OVER (ORDER BY t_days DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS n_risk
        |  FROM d)
        |SELECT t_days, n_risk, n_events, n_censored,
        |  CAST((n_events * 1000000) // n_risk AS BIGINT) AS hazard_ppm
        |FROM r""".stripMargin)),
    // X201: Markov next-event prediction accuracy — argmax predictor
    // trained on even-parity users, top-1 hit rate on odd-parity
    // users; the in-engine eval loop for the X165 matrix
    QuerySpec("events_markov_eval", (s, d) =>
      graft.analytics.Analytics.markovEval(
        Tables(s, d, "events"), "user_id", Seq("ts", "event_id"),
        "event_type"),
      // same parity split, same (n desc, to_state) argmax tie-break,
      // same __all__ rollup
      Oracle("""WITH seq AS (
        |  SELECT user_id AS k, event_type AS from_state,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_state
        |  FROM events),
        |p AS (SELECT k, from_state, to_state FROM seq
        |      WHERE to_state IS NOT NULL),
        |pr AS (
        |  SELECT from_state, to_state AS predicted FROM (
        |    SELECT from_state, to_state,
        |      row_number() OVER (PARTITION BY from_state
        |        ORDER BY COUNT(*) DESC, to_state) AS rn
        |    FROM p WHERE k % 2 = 0 GROUP BY 1, 2)
        |  WHERE rn = 1),
        |ev AS (
        |  SELECT p.from_state, pr.predicted,
        |    CAST(COUNT(*) AS BIGINT) AS n_eval,
        |    CAST(SUM(CASE WHEN p.to_state = pr.predicted THEN 1
        |             ELSE 0 END) AS BIGINT) AS n_hits
        |  FROM p LEFT JOIN pr ON p.from_state = pr.from_state
        |  WHERE p.k % 2 = 1 GROUP BY 1, 2),
        |u AS (
        |  SELECT from_state, predicted, n_eval, n_hits FROM ev
        |  UNION ALL
        |  SELECT '__all__', CAST(NULL AS VARCHAR),
        |    CAST(SUM(n_eval) AS BIGINT), CAST(SUM(n_hits) AS BIGINT)
        |  FROM ev)
        |SELECT from_state, predicted, n_eval, n_hits,
        |  CAST((n_hits * 1000000) // greatest(n_eval, 1) AS BIGINT)
        |    AS hit_ppm
        |FROM u""".stripMargin)),
    // X203: two-pass exact heavy hitters — per-partition Misra-Gries
    // summaries prune the shuffle to a candidate superset, exact
    // refinement makes the output identical to naive GROUP BY+HAVING
    QuerySpec("events_heavy_users", (s, d) =>
      graft.operators.MisraGries.exactHeavyHitters(
        Tables(s, d, "events"), "user_id"),
      // the naive one-pass form IS the oracle — result identity with
      // the MG-pruned two-pass plan is the operator's contract
      Oracle({
      import graft.operators.MisraGries.K
      s"""WITH k AS (SELECT CAST(user_id AS VARCHAR) AS key
         |           FROM events WHERE user_id IS NOT NULL),
         |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM k),
         |c AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS cnt FROM k
         |      GROUP BY 1)
         |SELECT key, cnt, n_total,
         |  CAST((cnt * 1000000) // n_total AS BIGINT) AS freq_ppm
         |FROM c CROSS JOIN t WHERE cnt * $K > n_total""".stripMargin
    })),
    // X163: count-min sketch — the mergeable FREQUENCY estimator
    // beside X144's cardinality one; d x w integer counters merge by
    // cellwise add, estimates never undercount, and the deterministic
    // md5 row-hashes make the whole sketch + audit DuckDB-replayable
    QuerySpec("events_cms_estimate", (s, d) =>
      graft.operators.CmsSketch.estimateAll(
        Tables(s, d, "events"), "user_id"),
      // the oracle replays the SKETCH itself: row-hash, counters,
      // per-item min are all integer arithmetic
      Oracle({
      val d = graft.operators.CmsSketch.Depth
      val w = graft.operators.CmsSketch.Width
      val h = OracleSql.hex8(
        "md5(CAST(j AS VARCHAR) || ':' || CAST(v AS VARCHAR))")
      s"""WITH src AS (SELECT user_id AS v FROM events),
         |js AS (SELECT unnest(range(0, $d)) AS j),
         |counters AS (
         |  SELECT j, $h % $w AS bucket,
         |         CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM src CROSS JOIN js GROUP BY 1, 2),
         |exact AS (
         |  SELECT v, CAST(COUNT(*) AS BIGINT) AS exact_n
         |  FROM src GROUP BY 1),
         |probes AS (
         |  SELECT v, j, $h % $w AS bucket
         |  FROM exact CROSS JOIN js),
         |est AS (
         |  SELECT p.v, CAST(MIN(c.cnt) AS BIGINT) AS cms_est
         |  FROM probes p JOIN counters c
         |    ON p.j = c.j AND p.bucket = c.bucket
         |  GROUP BY 1)
         |SELECT exact.v AS user_id, exact_n, cms_est,
         |  CAST(cms_est - exact_n AS BIGINT) AS over_n
         |FROM exact JOIN est ON exact.v = est.v""".stripMargin
    })),
    // X152's batch mirror (the X70/X84 device): the REAL streaming
    // sketch fold — flatMapGroupsWithState's merge-and-snapshot code
    // path — run in batch mode (one group call, empty prior state), so
    // the DuckDB rank-window replay oracles the very code the stream
    // executes; KmvStreamSpec separately proves the stored state after
    // ANY micro-batch prefix equals this same fold over the prefix
    QuerySpec("events_kmv_stream_snapshot", (s, d) => {
      val snaps = graft.streaming.KmvStream.sketchStream(
        graft.streaming.KmvStream.keyedHashes(
          Tables(s, d, "events"), "event_type", "user_id"),
        k = graft.operators.KmvSketch.K)
      snaps.toDF().select(col("grp").as("event_type"), col("n_kept"),
        col("kth_hash"), col("est_distinct"))
    },
      // the per-group half of the X144 replay (the streaming fold keeps
      // no merged __all__ row — state is strictly per group)
      Oracle({
      val k = graft.operators.KmvSketch.K
      val estNum = (k - 1).toLong * graft.operators.KmvSketch.HashSpan
      val h = OracleSql.hex8("md5(CAST(user_id AS VARCHAR))")
      s"""WITH dh AS (
         |  SELECT DISTINCT event_type AS grp, $h AS h FROM events),
         |r AS (SELECT grp, h,
         |        row_number() OVER (PARTITION BY grp ORDER BY h) AS rk
         |      FROM dh),
         |kept AS (SELECT grp, h FROM r WHERE rk <= $k)
         |SELECT grp AS event_type,
         |  CAST(COUNT(*) AS BIGINT) AS n_kept,
         |  CAST(MAX(h) AS BIGINT) AS kth_hash,
         |  CAST(CASE WHEN COUNT(*) < $k THEN COUNT(*)
         |       ELSE $estNum // greatest(MAX(h), 1) END AS BIGINT)
         |    AS est_distinct
         |FROM kept GROUP BY 1""".stripMargin
    })),
    // X159: integer autocorrelation of the daily series — the weekly-
    // periodicity screen, transcendental-free by definition
    QuerySpec("events_autocorr", (s, d) =>
      graft.analytics.Analytics.dailyAutocorrelation(
        Tables(s, d, "events"), "event_type"),
      // raw lag dot-products over the (key, day) series vs lag-0 energy;
      // e6 ratio by truncating div — every term an exact integer
      Oracle("""WITH daily AS (
        |  SELECT event_type AS k, epoch_us(ts) // 86400000000 AS day,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |base AS (
        |  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_days,
        |         CAST(SUM(n * n) AS BIGINT) AS energy
        |  FROM daily GROUP BY 1),
        |d1 AS (
        |  SELECT a.k, CAST(SUM(a.n * b.n) AS BIGINT) AS dot1
        |  FROM daily a JOIN daily b
        |    ON a.k = b.k AND b.day = a.day + 1
        |  GROUP BY 1),
        |d7 AS (
        |  SELECT a.k, CAST(SUM(a.n * b.n) AS BIGINT) AS dot7
        |  FROM daily a JOIN daily b
        |    ON a.k = b.k AND b.day = a.day + 7
        |  GROUP BY 1)
        |SELECT base.k AS event_type, n_days, energy,
        |  COALESCE(dot1, 0) AS dot1,
        |  (COALESCE(dot1, 0) * 1000000) // energy AS r1_e6,
        |  COALESCE(dot7, 0) AS dot7,
        |  (COALESCE(dot7, 0) * 1000000) // energy AS r7_e6
        |FROM base LEFT JOIN d1 ON base.k = d1.k
        |          LEFT JOIN d7 ON base.k = d7.k""".stripMargin)),
    // X151: KMV set algebra — union AND intersection estimates of two
    // behavior cohorts from two sketch scans (exact distinct
    // intersection is a raw-set equi-join)
    QuerySpec("events_kmv_setops", (s, d) =>
      graft.operators.KmvSketch.kmvSetOps(Tables(s, d, "events"),
        "event_type", "user_id", "click", "purchase"),
      // theta = the union sketch's k-th minimum; membership of a
      // union-kept hash in either original set decides EXACTLY via that
      // set's sketch (theta <= theta_A); under-filled -> exact algebra
      Oracle({
      val k = 32
      val estNum = (k - 1).toLong * graft.operators.KmvSketch.HashSpan
      val span = graft.operators.KmvSketch.HashSpan
      val h = OracleSql.hex8("md5(CAST(user_id AS VARCHAR))")
      s"""WITH dh AS (
         |  SELECT DISTINCT event_type AS grp, $h AS h FROM events
         |  WHERE event_type IN ('click', 'purchase')),
         |r AS (SELECT grp, h,
         |        row_number() OVER (PARTITION BY grp ORDER BY h) AS rk
         |      FROM dh),
         |kept AS (SELECT grp, h FROM r WHERE rk <= $k),
         |ur AS (SELECT h, row_number() OVER (ORDER BY h) AS rk
         |       FROM (SELECT DISTINCT h FROM kept) x),
         |uk AS (SELECT h FROM ur WHERE rk <= $k),
         |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_a,
         |             CAST(MAX(h) AS BIGINT) AS theta_a
         |      FROM kept WHERE grp = 'click'),
         |b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b,
         |             CAST(MAX(h) AS BIGINT) AS theta_b
         |      FROM kept WHERE grp = 'purchase'),
         |u AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_u,
         |             CAST(MAX(h) AS BIGINT) AS theta_u FROM uk),
         |bo AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_both FROM uk
         |       WHERE h IN (SELECT h FROM kept WHERE grp = 'click')
         |         AND h IN (SELECT h FROM kept WHERE grp = 'purchase'))
         |SELECT n_a,
         |  CAST(CASE WHEN n_a < $k THEN n_a
         |       ELSE $estNum // greatest(theta_a, 1) END AS BIGINT)
         |    AS est_a,
         |  n_b,
         |  CAST(CASE WHEN n_b < $k THEN n_b
         |       ELSE $estNum // greatest(theta_b, 1) END AS BIGINT)
         |    AS est_b,
         |  n_u, theta_u,
         |  CAST(CASE WHEN n_u < $k THEN n_u
         |       ELSE $estNum // greatest(theta_u, 1) END AS BIGINT)
         |    AS est_u,
         |  n_both,
         |  CAST(CASE WHEN n_u < $k THEN n_both
         |       ELSE (n_both * $span) // greatest(theta_u, 1) END
         |    AS BIGINT) AS est_intersection
         |FROM a CROSS JOIN b CROSS JOIN u CROSS JOIN bo""".stripMargin
    })),
    // X150: 7-day rolling distinct users via KMV merge — raw rows are
    // touched once; the slide happens on sketch-sized frames (distinct
    // is not subtractable, so the exact rolling form re-scans every
    // window)
    QuerySpec("events_kmv_rolling7", (s, d) =>
      graft.operators.KmvSketch.kmvRolling(Tables(s, d, "events"),
        "ts", "user_id", k = 64),
      // per-day k-min sets -> bounded x7 window explode of SKETCHES ->
      // re-truncate; rank windows are the spec the bounded heaps must hit
      Oracle({
      val k = 64
      val estNum = (k - 1).toLong * graft.operators.KmvSketch.HashSpan
      val h = OracleSql.hex8("md5(CAST(user_id AS VARCHAR))")
      s"""WITH dh AS (
         |  SELECT DISTINCT epoch_us(ts) // 86400000000 AS day,
         |         $h AS h
         |  FROM events),
         |dr AS (SELECT day, h,
         |         row_number() OVER (PARTITION BY day ORDER BY h) AS rk
         |       FROM dh),
         |daily AS (SELECT day, h FROM dr WHERE rk <= $k),
         |contrib AS (
         |  SELECT DISTINCT day + gs.x AS window_day, h
         |  FROM daily CROSS JOIN
         |    (SELECT unnest(range(0, 7)) AS x) gs),
         |wr AS (SELECT window_day, h,
         |         row_number() OVER (PARTITION BY window_day
         |           ORDER BY h) AS rk
         |       FROM contrib),
         |kept AS (SELECT window_day, h FROM wr WHERE rk <= $k)
         |SELECT window_day,
         |  CAST(COUNT(*) AS BIGINT) AS n_kept,
         |  CAST(MAX(h) AS BIGINT) AS kth_hash,
         |  CAST(CASE WHEN COUNT(*) < $k THEN COUNT(*)
         |       ELSE $estNum // greatest(MAX(h), 1) END AS BIGINT)
         |    AS est_distinct
         |FROM kept GROUP BY 1""".stripMargin
    })),
    QuerySpec("events_hll_rollup", (s, d) => {
      val ev = Tables(s, d, "events")
      val cut = to_timestamp(lit("2024-01-15 00:00:00"))
      def sliceSketch(sl: DataFrame) = sl.groupBy(col("event_type"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val merged = sliceSketch(ev.filter(col("ts") < cut))
        .unionByName(sliceSketch(ev.filter(col("ts") >= cut)))
        .groupBy(col("event_type"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
          .as("est_merged"))
      val full = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("exact_users"),
          hll_sketch_estimate(hll_sketch_agg(col("user_id")))
            .as("est_full"))
      def withinBound(est: Column) =
        abs(est - col("exact_users")) <=
          greatest(ceil(col("exact_users") * 0.05), lit(5.0))
      full.join(merged, Seq("event_type"))
        .select(col("event_type"), col("n"), col("exact_users"),
          withinBound(col("est_full")).as("full_within_5pct"),
          withinBound(col("est_merged")).as("merged_within_5pct"))
    },
      // exact columns genuinely recomputed; booleans are the sketch
      // contract (union losslessness + error bound) — a violation flips
      // the hash
      Oracle("""SELECT event_type, COUNT(*) AS n,
        |       COUNT(DISTINCT user_id) AS exact_users,
        |       CAST(1 AS BOOLEAN) AS full_within_5pct,
        |       CAST(1 AS BOOLEAN) AS merged_within_5pct
        |FROM events GROUP BY 1""".stripMargin)),
    // MLlib streaming consumer, batch-mode mirror: per-micro-batch
    // incremental logistic-regression refit over the events feed, one
    // metrics row per batch
    QuerySpec("ml_stream_train", (s, d) =>
      graft.streaming.StreamingTrainer.trainOnEvents(s, d),
      SpecOnly("StreamingTrainerSpec — LBFGS fit is not " +
        "SQL-expressible; MemoryStream convergence asserted; the scoring " +
        "half is oracle-green as ml_stream_eval; the final_loss_e6 curve " +
        "(frozen final weights, integer micro-nats) is asserted to EXACT " +
        "integer values against an independent scalar re-derivation from " +
        "the raw events table")),
    // the evaluator half of the streaming trainer under FIXED snapshot
    // weights — fully SQL-replayable (softsign + Brier: exact rational
    // arithmetic, no transcendentals), so the scoring pipeline gets a
    // real oracle while the LBFGS fit keeps its convergence spec
    QuerySpec("ml_stream_eval", (s, d) =>
      graft.streaming.StreamingTrainer.evalFixedWeights(
        graft.core.Tables(s, d, "events")),
      // every decimal constant CAST AS DOUBLE (DuckDB DECIMAL folding
      // would otherwise infect the arithmetic); per-row Brier quantized
      // to integer e9 units before the sum, so order never matters
      Oracle("""WITH f AS (
        |  SELECT event_id // 2000 AS batch_id,
        |         value AS f0,
        |         CAST(user_id % 97 AS DOUBLE) AS f1
        |  FROM events),
        |s AS (
        |  SELECT batch_id,
        |         CASE WHEN f0 * 3 - f1 > CAST(0 AS DOUBLE)
        |              THEN 1 ELSE 0 END AS label,
        |         CAST(2.5 AS DOUBLE) * f0 + CAST(-1.0 AS DOUBLE) * f1
        |           + CAST(0.25 AS DOUBLE) AS m
        |  FROM f),
        |p AS (
        |  SELECT batch_id, label, m,
        |         CAST(0.5 AS DOUBLE) + m / (CAST(2.0 AS DOUBLE)
        |           * (CAST(1.0 AS DOUBLE) + abs(m))) AS prob
        |  FROM s),
        |r AS (
        |  SELECT batch_id,
        |         CASE WHEN (m > 0) = (label = 1) THEN 1 ELSE 0 END
        |           AS correct,
        |         CAST(floor((prob - label) * (prob - label)
        |           * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
        |           AS BIGINT) AS brier_e9
        |  FROM p)
        |SELECT batch_id,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(correct) AS BIGINT) AS n_correct,
        |       (CAST(SUM(correct) AS BIGINT) * 1000000)
        |         // CAST(COUNT(*) AS BIGINT) AS accuracy_ppm,
        |       CAST(SUM(brier_e9) AS BIGINT)
        |         // CAST(COUNT(*) AS BIGINT) AS mean_brier_e9
        |FROM r GROUP BY 1""".stripMargin)))
}
