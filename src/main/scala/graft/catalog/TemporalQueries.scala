package graft
package catalog

import graft.operators._
import Shared._
import org.apache.spark.sql.functions._

/** Time-series operators: sessions, rolling windows, smoothing,
  * seasonality, trends, retention, funnels and transitions.
  */
object TemporalQueries {

  /** The classical-decomposition CTE chain (hourly buckets → 2×12 MA
    * trend → phase means → centered seasonal, mirrors
    * [[Seasonal.decomposeBuckets]] at period 24) — shared by the
    * q_decompose and q_season_strength oracles. Exposes CTEs `de`
    * (event_type, bk, phase, v, trend, detr) and `se` (event_type,
    * phase, seasonal).
    */
  private val decomposeCtesSql: String =
    s"""b AS (SELECT event_type, date_trunc('hour', ts) AS bk, CAST(count(*) AS DOUBLE) AS v
      |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT event_type, bk, v,
      |        (epoch_us(bk) // 3600000000) % 24 AS phase,
      |        lag(v, 12) OVER w AS l, lead(v, 12) OVER w AS r,
      |        sum(v) OVER (PARTITION BY event_type ORDER BY bk
      |          ROWS BETWEEN 11 PRECEDING AND 11 FOLLOWING) AS si,
      |        count(v) OVER (PARTITION BY event_type ORDER BY bk
      |          ROWS BETWEEN 11 PRECEDING AND 11 FOLLOWING) AS ci
      |      FROM b WINDOW w AS (PARTITION BY event_type ORDER BY bk)),
      |dd AS (SELECT event_type, bk, phase, v,
      |        CASE WHEN l IS NOT NULL AND r IS NOT NULL AND ci = 23
      |          THEN ((l + r) * 0.5 + si) / 24.0 END AS trend
      |      FROM t),
      |de AS (SELECT *, v - trend AS detr FROM dd),
      |pm AS (SELECT event_type, phase,
      |        CASE WHEN count(detr) > 0 THEN
      |          ${dsum(r6("detr"))}
      |            / CAST(count(detr) AS DOUBLE) END AS sp
      |      FROM de GROUP BY 1, 2),
      |ctr AS (SELECT event_type,
      |        CASE WHEN count(sp) > 0 THEN
      |          ${dsum(r6("sp"))}
      |            / CAST(count(sp) AS DOUBLE) END AS c
      |      FROM pm GROUP BY 1),
      |se AS (SELECT pm.event_type, phase, sp - c AS seasonal FROM pm JOIN ctr USING (event_type))""".stripMargin

  /** Retention bucket width (one week of epoch micros), shared by the
    * q_retention Spark call and its oracle SQL.
    */
  private val WeekUs = 604800000000L

  val all: Seq[QueryDef] = Seq(
    // Holt double exponential smoothing (level + trend; contrast q_ewma)
    QueryDef("q_holt", (s, dir) =>
      Ewma.holtLast(ev(s, dir), "user_id", "ts", "value", "event_id", 0.5, 0.3)
        .select(col("key").as("user_id"), col("n"),
          graft.functions.Portable.r6(col("level")).as("level"),
          graft.functions.Portable.r6(col("trend")).as("trend"),
          graft.functions.Portable.r6(col("forecast")).as("forecast")),
      s"""WITH s AS (SELECT user_id, list(value ORDER BY ts, event_id) AS vs
         |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
         |  GROUP BY 1),
         |f AS (SELECT user_id, CAST(len(vs) AS BIGINT) AS n,
         |  list_reduce(
         |    list_prepend([vs[1], CAST(0 AS DOUBLE)], list_transform(vs[2:], v -> [CAST(v AS DOUBLE), CAST(0 AS DOUBLE)])),
         |    (acc, x) -> [
         |      CAST(0.5 AS DOUBLE)*x[1] + (CAST(1 AS DOUBLE) - CAST(0.5 AS DOUBLE))*(acc[1]+acc[2]),
         |      CAST(0.3 AS DOUBLE)*((CAST(0.5 AS DOUBLE)*x[1] + (CAST(1 AS DOUBLE) - CAST(0.5 AS DOUBLE))*(acc[1]+acc[2])) - acc[1])
         |        + (CAST(1 AS DOUBLE) - CAST(0.3 AS DOUBLE))*acc[2]]) AS st
         |  FROM s)
         |SELECT user_id, n,
         |  ${r6("st[1]")} AS level,
         |  ${r6("st[2]")} AS trend,
         |  ${r6("st[1] + st[2]")} AS forecast
         |FROM f""".stripMargin),

    // hopping windows: 10-minute windows sliding every 5 minutes
    QueryDef("q_hopping", (s, dir) =>
      Rolling
        .hoppingAgg(ev(s, dir), Seq("event_type"), "ts", "value",
          windowUs = 600000000L, slideUs = 300000000L)
        .select(col("event_type"), col("win_start_us"), col("n"), col("sum_value")),
      s"""WITH w AS (SELECT event_type, value,
         |    (epoch_us(ts) // 300000000) * 300000000 - j * 300000000 AS win_start_us
         |  FROM events, unnest([0, 1]) AS u(j) WHERE ts IS NOT NULL)
         |SELECT event_type, win_start_us, count(*) AS n,
         |  CAST(coalesce(sum(CASE WHEN $hasValueSql THEN CAST(value AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sum_value
         |FROM w GROUP BY 1, 2""".stripMargin),

    // CUSUM changepoint detection per user (one shuffle + sorted fold)
    QueryDef("q_cusum", (s, dir) =>
      Changepoint.cusum(ev(s, dir), "user_id", "ts", "value", "event_id")
        .select(col("key").as("user_id"), col("n"),
          graft.functions.Portable.r6(col("mean")).as("mean"),
          graft.functions.Portable.r6(col("cusum_max")).as("cusum_max"),
          col("cusum_at")),
      s"""WITH s AS (SELECT user_id, list(value ORDER BY ts, event_id) AS vs,
         |    count(*) AS n,
         |    ${dsum0("value")} / CAST(count(*) AS DOUBLE) AS mn
         |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
         |  GROUP BY 1),
         |f AS (SELECT user_id, CAST(n AS BIGINT) AS n, mn,
         |  list_reduce(
         |    list_prepend([CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)],
         |      list_transform(vs, v -> [CAST(v AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)])),
         |    (acc, x) -> [
         |      greatest(CAST(0 AS DOUBLE), acc[1] + (x[1] - mn)),
         |      CASE WHEN greatest(CAST(0 AS DOUBLE), acc[1] + (x[1] - mn)) > acc[2]
         |           THEN greatest(CAST(0 AS DOUBLE), acc[1] + (x[1] - mn)) ELSE acc[2] END,
         |      CASE WHEN greatest(CAST(0 AS DOUBLE), acc[1] + (x[1] - mn)) > acc[2]
         |           THEN acc[4] + CAST(1 AS DOUBLE) ELSE acc[3] END,
         |      acc[4] + CAST(1 AS DOUBLE)]) AS st
         |  FROM s)
         |SELECT user_id, n, ${r6("mn")} AS mean,
         |  ${r6("st[2]")} AS cusum_max,
         |  CAST(st[3] AS BIGINT) AS cusum_at
         |FROM f""".stripMargin),

    // first-10-steps event path per user (clickstream journeys)
    QueryDef("q_paths", (s, dir) =>
      Transitions.eventPaths(ev(s, dir), "user_id", "ts", "event_type", "event_id",
        maxSteps = 10)
        .select(col("key").as("user_id"), col("n_events"), col("path")),
      """WITH r AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n_events
        |  FROM events WHERE ts IS NOT NULL)
        |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
        |  string_agg(event_type, '>' ORDER BY rn) AS path
        |FROM r WHERE rn <= 10 GROUP BY user_id, n_events""".stripMargin),

    // time-weighted average of the value step function per user
    QueryDef("q_twa", (s, dir) =>
      Intervals.timeWeightedAverage(ev(s, dir), "user_id", "ts", "value", "event_id")
        .select(col("key").as("user_id"), col("n"), col("span_s"),
          graft.functions.Portable.r6(col("twa")).as("twa")),
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us, value, event_id FROM events
         |  WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)),
         |t AS (SELECT user_id, us,
         |    CAST(${r6("value * (CAST(lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us AS DOUBLE) / 1e6)")} AS DECIMAL(38,6)) AS term
         |  FROM e),
         |g AS (SELECT user_id, count(*) AS n,
         |    CAST(max(us) - min(us) AS DOUBLE) / 1e6 AS span_raw,
         |    CAST(coalesce(sum(term), 0) AS DOUBLE) AS num
         |  FROM t GROUP BY 1)
         |SELECT user_id, n,
         |  ${r6("span_raw")} AS span_s,
         |  CASE WHEN span_raw > 0 THEN ${r6("num / span_raw")} END AS twa
         |FROM g""".stripMargin),

    // gaps-and-islands activity coverage (5-minute activity intervals)
    QueryDef("q_coverage", (s, dir) =>
      Intervals.activityCoverage(ev(s, dir), "user_id", "ts", "event_id",
        widthUs = 300000000L)
        .select(col("key").as("user_id"), col("n_islands"), col("covered_us")),
      """WITH e AS (SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS en, event_id
        |  FROM events WHERE ts IS NOT NULL),
        |m AS (SELECT user_id, s, en, event_id,
        |    CASE WHEN s > coalesce(max(en) OVER (PARTITION BY user_id ORDER BY s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -9223372036854775808) THEN 1 ELSE 0 END AS nw
        |  FROM e),
        |i AS (SELECT user_id, s, en, sum(nw) OVER (PARTITION BY user_id ORDER BY s, event_id) AS island FROM m),
        |g AS (SELECT user_id, island, max(en) - min(s) AS len FROM i GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_islands, CAST(sum(len) AS BIGINT) AS covered_us
        |FROM g GROUP BY 1""".stripMargin),

    QueryDef("q_sessionize", (s, dir) =>
      Sessionize
        .sessionSummaries(ev(s, dir), "user_id", "ts", gapUs = 1800L * 1000000L, tieBreakCol = "event_id")
        .select(col("user_id"), col("session_seq"), col("n_events"),
          col("start_us"), col("end_us"), col("duration_us")),
      """WITH t AS (SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events WHERE ts IS NOT NULL),
        |s AS (SELECT user_id, ts,
        |  CAST(sum(CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) - 1 AS session_seq
        |  FROM t)
        |SELECT user_id, session_seq, count(*) AS n_events,
        |  min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us,
        |  max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us
        |FROM s GROUP BY 1, 2""".stripMargin),

    // the same sessions through Spark's built-in session_window
    // aggregation (batch/streaming-shared plan; >= gap boundary)
    QueryDef("q_session_window", (s, dir) =>
      Sessionize
        .sessionWindowSummaries(ev(s, dir), "user_id", "ts", gap = "30 minutes")
        .select(col("user_id"), col("n_events"), col("start_us"), col("end_us")),
      // session_window boundary == the lag-based rule: a new session
      // starts only when the gap is strictly > the window (spec-pinned)
      """WITH t AS (SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events WHERE ts IS NOT NULL),
        |s AS (SELECT user_id, ts,
        |  CAST(sum(CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM t)
        |SELECT user_id, count(*) AS n_events,
        |  min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
        |FROM s GROUP BY user_id, session_seq""".stripMargin),

    // trailing 1-hour window features per user. RANGE frame on the
    // microsecond value: timestamp peers share a frame in both engines,
    // so no tie-break is needed for determinism.
    QueryDef("q_rolling", (s, dir) =>
      Rolling
        .trailingAggregates(ev(s, dir), "user_id", "ts", "value", windowUs = 3600L * 1000000L)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("time_us"),
          col("n_trail"), col("sum_trail")),
      """SELECT event_id, user_id, epoch_us(ts) AS time_us,
        |  count(*) OVER w AS n_trail,
        |  CAST(coalesce(sum(CASE WHEN NOT isnan(value) THEN CAST(value AS DECIMAL(38,6)) END) OVER w, 0) AS DOUBLE) AS sum_trail
        |FROM events WHERE ts IS NOT NULL
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin),

    // forward-fill: carry each user's most recent value forward in
    // (time, event_id) order.
    QueryDef("q_ffill", (s, dir) =>
      Rolling
        .forwardFill(ev(s, dir), "user_id", "ts", "event_id", "value", "value_filled")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("time_us"),
          col("value"), col("value_filled")),
      """SELECT event_id, user_id, epoch_us(ts) AS time_us, value,
        |  last_value(value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
        |FROM events WHERE ts IS NOT NULL""".stripMargin),

    // resample events onto an hourly grid with gap rows + carry-forward
    QueryDef("q_resample", (s, dir) =>
      Rolling
        .resampleLastValue(ev(s, dir), "user_id", "ts", "event_id", "value",
          stepUs = 3600L * 1000000L)
        .select(col("user_id"), col("bucket_us"), col("n_events"), col("value_last")),
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, value, event_id
        |    FROM events WHERE ts IS NOT NULL),
        |b AS (SELECT user_id, (us // 3600000000) * 3600000000 AS bucket_us, count(*) AS n_events
        |  FROM e GROUP BY 1, 2),
        |v AS (SELECT user_id, (us // 3600000000) * 3600000000 AS bucket_us, value,
        |    row_number() OVER (PARTITION BY user_id, (us // 3600000000)
        |      ORDER BY us DESC, event_id DESC) AS rn
        |  FROM e WHERE value IS NOT NULL),
        |vb AS (SELECT user_id, bucket_us, value AS v_in_bucket FROM v WHERE rn = 1),
        |s AS (SELECT user_id, min(bucket_us) AS lo, max(bucket_us) AS hi FROM b GROUP BY 1),
        |g AS (SELECT user_id, unnest(range(lo, hi + 1, 3600000000)) AS bucket_us FROM s),
        |j AS (SELECT g.user_id, g.bucket_us, coalesce(b.n_events, 0) AS n_events, vb.v_in_bucket
        |  FROM g LEFT JOIN b ON g.user_id = b.user_id AND g.bucket_us = b.bucket_us
        |         LEFT JOIN vb ON g.user_id = vb.user_id AND g.bucket_us = vb.bucket_us)
        |SELECT user_id, bucket_us, n_events,
        |  last_value(v_in_bucket IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket_us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_last
        |FROM j""".stripMargin),

    // ordered funnel: signup -> view (after it) -> purchase (after that);
    // one type-filtered shuffle + a single-pass HOF fold per user
    QueryDef("q_funnel", (s, dir) =>
      Funnel
        .funnel(ev(s, dir), "user_id", "ts", "event_type",
          Seq("signup", "view", "purchase"))
        .withColumnRenamed("key", "user_id"),
      """WITH f AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events
        |  WHERE ts IS NOT NULL AND event_type IN ('signup','view','purchase')),
        |s1 AS (SELECT user_id, min(t) AS t1 FROM f WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT f.user_id, min(t) AS t2 FROM f JOIN s1 USING (user_id)
        |       WHERE event_type = 'view' AND t > t1 GROUP BY 1),
        |s3 AS (SELECT f.user_id, min(t) AS t3 FROM f JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND t > t2 GROUP BY 1)
        |SELECT s1.user_id,
        |  CAST(1 + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
        |         + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END AS BIGINT) AS reached,
        |  t1 AS step_1_us, t2 AS step_2_us, t3 AS step_3_us
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin),

    // weekly cohort retention triangle over the events stream
    QueryDef("q_retention", (s, dir) =>
      Retention.cohortRetention(ev(s, dir), "user_id", "ts", WeekUs),
      s"""WITH b AS (SELECT user_id, epoch_us(ts) // $WeekUs AS bucket
         |  FROM events WHERE ts IS NOT NULL),
         |c AS (SELECT user_id, min(bucket) AS cohort FROM b GROUP BY 1)
         |SELECT cohort, bucket - cohort AS offset, count(DISTINCT user_id) AS n_active
         |FROM b JOIN c USING (user_id) GROUP BY 1, 2""".stripMargin),

    // debounce: drop same-(user,type) repeats within 1h of the previous
    QueryDef("q_debounce", (s, dir) =>
      Debounce.debounce(ev(s, dir), Seq("user_id", "event_type"), "ts",
          3600000000L, "event_id")
        .select(col("event_id"), col("user_id"), timeUs("ts").as("ts_us"),
          col("event_type")),
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
        |FROM (SELECT event_id, user_id, ts, event_type,
        |        lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |                                ORDER BY ts, event_id) AS prev
        |      FROM events WHERE ts IS NOT NULL)
        |WHERE prev IS NULL OR epoch_us(ts) - prev > 3600000000
        |UNION ALL
        |SELECT event_id, user_id, NULL, event_type FROM events WHERE ts IS NULL""".stripMargin),

    // trending: top-3 event types per day by count
    QueryDef("q_trending", (s, dir) =>
      Trending.topItemsPerBucket(ev(s, dir), "ts", "event_type", 86400000000L, 3)
        .withColumn("rnk", col("rnk").cast("long")),
      """WITH c AS (SELECT epoch_us(ts) // 86400000000 AS bucket, event_type AS item, count(*) AS n
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL GROUP BY 1, 2)
        |SELECT bucket, item, n, CAST(rnk AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY n DESC, item) AS rnk FROM c)
        |WHERE rnk <= 3""".stripMargin),

    // first-order event-type transition matrix (counts + cond. prob)
    QueryDef("q_transitions", (s, dir) =>
      Transitions.transitionCounts(ev(s, dir), "user_id", "ts", "event_type", "event_id")
        .select(col("prev"), col("next"), col("n"),
          graft.functions.Portable.r6(col("p")).as("p")),
      s"""WITH s AS (SELECT event_type AS prev,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
        |c AS (SELECT prev, next, count(*) AS n FROM s WHERE next IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT prev, CAST(sum(n) AS BIGINT) AS nt FROM c GROUP BY 1)
        |SELECT prev, next, n,
        |  ${r6("CAST(n AS DOUBLE) / CAST(nt AS DOUBLE)")} AS p
        |FROM c JOIN t USING (prev)""".stripMargin),

    // self-calibrating anomaly signal: z vs trailing 10 PRIOR events
    QueryDef("q_roll_z", (s, dir) =>
      Rolling.trailingZScore(ev(s, dir), "user_id", "ts", "value", "event_id", frame = 10)
        .select(col("event_id"),
          graft.functions.Portable.r6(col("z_trail")).as("z_trail")),
      s"""WITH b AS (SELECT event_id, value,
         |    count(CASE WHEN $hasValueSql THEN 1 END) OVER w AS n,
         |    CAST(coalesce(sum(CASE WHEN $hasValueSql THEN CAST(value AS DECIMAL(38,6)) END) OVER w, 0) AS DOUBLE) AS s,
         |    CAST(coalesce(sum(CASE WHEN $hasValueSql THEN CAST(value * value AS DECIMAL(38,6)) END) OVER w, 0) AS DOUBLE) AS s2
         |  FROM events WHERE ts IS NOT NULL
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |               ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
         |SELECT event_id,
         |  CASE WHEN 3 <= CAST(n AS DOUBLE) AND $hasValueSql
         |        AND sqrt(greatest(s2 / CAST(n AS DOUBLE) - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)), 0.0)) > 0
         |  THEN ${r6("(value - s / CAST(n AS DOUBLE)) / sqrt(greatest(s2 / CAST(n AS DOUBLE) - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)), 0.0))")}
         |  END AS z_trail
         |FROM b""".stripMargin),

    // per-user inter-arrival gap stats (burstiness profile)
    QueryDef("q_interarrival", (s, dir) =>
      Transitions.interArrivalStats(ev(s, dir), "user_id", "ts", "event_id")
        .select(col("user_id"), col("n_gaps"),
          graft.functions.Portable.r6(col("mean_gap_s")).as("mean_gap_s"),
          col("max_gap_us")),
      s"""WITH g AS (SELECT user_id,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events WHERE ts IS NOT NULL)
        |SELECT user_id, count(*) AS n_gaps,
        |  ${r6("CAST(sum(gap) AS DOUBLE) / CAST(count(*) AS DOUBLE) / CAST(1000000 AS DOUBLE)")} AS mean_gap_s,
        |  max(gap) AS max_gap_us
        |FROM g WHERE gap IS NOT NULL GROUP BY 1""".stripMargin),

    // per-user EWMA of value (alpha 0.3): one key shuffle + HOF fold
    QueryDef("q_ewma", (s, dir) =>
      Ewma.ewmaLast(ev(s, dir), "user_id", "ts", "value", "event_id", 0.3)
        .select(col("key").as("user_id"), col("n"),
          graft.functions.Portable.r6(col("ewma")).as("ewma")),
      s"""WITH s AS (SELECT user_id, list(value ORDER BY ts, event_id) AS vs
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
        |  GROUP BY 1)
        |SELECT user_id, CAST(len(vs) AS BIGINT) AS n,
        |  ${r6("list_reduce(vs, (acc, x) -> CAST(0.3 AS DOUBLE) * x + (CAST(1 AS DOUBLE) - CAST(0.3 AS DOUBLE)) * acc)")} AS ewma
        |FROM s""".stripMargin),

    // week-over-week active users with relative change
    QueryDef("q_wow", (s, dir) =>
      Retention.periodOverPeriod(ev(s, dir), "user_id", "ts", WeekUs)
        .select(col("bucket"), col("n_active"), col("prev_active"),
          graft.functions.Portable.r6(col("pct_change")).as("pct_change")),
      s"""WITH b AS (SELECT user_id, epoch_us(ts) // $WeekUs AS bucket
         |  FROM events WHERE ts IS NOT NULL),
         |w AS (SELECT bucket, count(DISTINCT user_id) AS n_active FROM b GROUP BY 1)
         |SELECT w.bucket, w.n_active, p.n_active AS prev_active,
         |  CASE WHEN p.n_active IS NOT NULL THEN
         |    ${r6("(CAST(w.n_active AS DOUBLE) - CAST(p.n_active AS DOUBLE)) / CAST(p.n_active AS DOUBLE)")}
         |  END AS pct_change
         |FROM w LEFT JOIN w p ON p.bucket = w.bucket - 1""".stripMargin),

    // hour-of-day seasonality per event type: peak hour/share + flatness
    QueryDef("q_seasonality", (s, dir) =>
      Seasonal.hourOfDayProfile(ev(s, dir), "event_type", "ts")
        .select(col("key").as("event_type"), col("n"), col("peak_hour"),
          graft.functions.Portable.r6(col("peak_share")).as("peak_share"),
          graft.functions.Portable.r6(col("entropy_norm")).as("entropy_norm")),
      s"""WITH h AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr, CAST(count(*) AS BIGINT) AS cnt
         |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
         |w AS (SELECT event_type, hr, cnt,
         |        CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n,
         |        row_number() OVER (PARTITION BY event_type ORDER BY cnt DESC, hr) AS rk
         |      FROM h),
         |t AS (SELECT event_type, hr, cnt, n, rk, CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE) AS sh FROM w),
         |m AS (SELECT event_type, max(n) AS n,
         |        max(CASE WHEN rk = 1 THEN hr END) AS peak_hour,
         |        max(CASE WHEN rk = 1 THEN sh END) AS ps,
         |        ${dsum(r6("-sh * ln(sh)"))} AS hsum
         |      FROM t GROUP BY 1)
         |SELECT event_type, n, peak_hour,
         |  ${r6("ps")} AS peak_share,
         |  ${r6(s"hsum / ${math.log(24.0)}")} AS entropy_norm
         |FROM m""".stripMargin),

    // Holt-Winters additive seasonal smoothing (period-4 slots;
    // completes the ewma -> holt -> holt-winters family)
    QueryDef("q_hw", (s, dir) =>
      Ewma.holtWintersLast(ev(s, dir), "user_id", "ts", "value", "event_id",
          alpha = 0.5, beta = 0.3, gamma = 0.4, period = 4)
        .select(col("key").as("user_id"), col("n"),
          graft.functions.Portable.r6(col("level")).as("level"),
          graft.functions.Portable.r6(col("trend")).as("trend"),
          graft.functions.Portable.r6(col("forecast")).as("forecast")),
      {
      // the same fold as Ewma.holtWintersLast, DuckDB list_reduce form;
      // state = [i, level, trend, s0..s3], every constant cast DOUBLE
      val one = "CAST(1 AS DOUBLE)"
      val (a, bta, g) = ("CAST(0.5 AS DOUBLE)", "CAST(0.3 AS DOUBLE)", "CAST(0.4 AS DOUBLE)")
      val idx = "CAST(acc[1] AS BIGINT) % 4"
      val sCur = s"acc[$idx + 4]"
      val nl = s"($a * (x[1] - $sCur) + ($one - $a) * (acc[2] + acc[3]))"
      val nt = s"($bta * ($nl - acc[2]) + ($one - $bta) * acc[3])"
      val sSlots = (0 until 4).map(j =>
        s"CASE WHEN $idx = $j THEN $g * (x[1] - $nl) + ($one - $g) * acc[${4 + j}] ELSE acc[${4 + j}] END")
        .mkString(", ")
      s"""WITH s AS (SELECT user_id, list(value ORDER BY ts, event_id) AS vs
         |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
         |  GROUP BY 1),
         |f AS (SELECT user_id, CAST(len(vs) AS BIGINT) AS n,
         |  list_reduce(
         |    list_prepend([$one, CAST(vs[1] AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
         |                  CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)],
         |      list_transform(vs[2:], v -> [CAST(v AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
         |                  CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)])),
         |    (acc, x) -> [acc[1] + $one, $nl, $nt, $sSlots]) AS st
         |  FROM s)
         |SELECT user_id, n,
         |  ${r6("st[2]")} AS level,
         |  ${r6("st[3]")} AS trend,
         |  ${r6("st[2] + st[3] + st[CAST(st[1] AS BIGINT) % 4 + 4]")} AS forecast
         |FROM f""".stripMargin
    }),

    // Fano-factor burstiness of hourly volumes per event type
    // (Poisson = 1; batch/retry storms >> 1; clocked < 1)
    QueryDef("q_fano", (s, dir) =>
      Seasonal.burstiness(ev(s, dir), "event_type", "ts")
        .select(col("key").as("event_type"), col("n_events"), col("n_buckets"),
          graft.functions.Portable.r6(col("mean_per_bucket")).as("mean_per_bucket"),
          graft.functions.Portable.r6(col("fano")).as("fano")),
      s"""WITH b AS (SELECT event_type, date_trunc('hour', ts) AS bk, CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |g AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n_events,
        |        CAST(count(*) AS BIGINT) AS n_buckets, CAST(sum(c * c) AS BIGINT) AS s2
        |      FROM b GROUP BY 1),
        |m AS (SELECT event_type, n_events, n_buckets, s2,
        |        CAST(n_events AS DOUBLE) / CAST(n_buckets AS DOUBLE) AS mu FROM g)
        |SELECT event_type, n_events, n_buckets,
        |  ${r6("mu")} AS mean_per_bucket,
        |  ${r6("(CAST(s2 AS DOUBLE) / CAST(n_buckets AS DOUBLE) - mu * mu) / mu")} AS fano
        |FROM m""".stripMargin),

    // seasonal-naive skill (MASE-style) of hourly volumes per event
    // type at period 24: which streams have a real daily cycle
    QueryDef("q_mase", (s, dir) =>
      Seasonal.seasonalNaiveSkill(ev(s, dir), "event_type", "ts", period = 24)
        .select(col("key").as("event_type"), col("n_buckets"),
          graft.functions.Portable.r6(col("mae_naive")).as("mae_naive"),
          graft.functions.Portable.r6(col("mae_seasonal")).as("mae_seasonal"),
          graft.functions.Portable.r6(col("skill")).as("skill")),
      s"""WITH b AS (SELECT event_type, date_trunc('hour', ts) AS bk, CAST(count(*) AS DOUBLE) AS v
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |l AS (SELECT event_type, v,
        |        lag(v, 1) OVER (PARTITION BY event_type ORDER BY bk) AS l1,
        |        lag(v, 24) OVER (PARTITION BY event_type ORDER BY bk) AS lp
        |      FROM b),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_buckets,
        |        count(l1) AS c1, count(lp) AS cp,
        |        ${dsum0(r6("abs(v - l1)"))} AS s1,
        |        ${dsum0(r6("abs(v - lp)"))} AS sp
        |      FROM l GROUP BY 1),
        |e AS (SELECT event_type, n_buckets,
        |        CASE WHEN c1 > 0 THEN s1 / CAST(c1 AS DOUBLE) END AS m1,
        |        CASE WHEN cp > 0 THEN sp / CAST(cp AS DOUBLE) END AS mp
        |      FROM g)
        |SELECT event_type, n_buckets,
        |  ${r6("m1")} AS mae_naive,
        |  ${r6("mp")} AS mae_seasonal,
        |  CASE WHEN m1 > 0 THEN ${r6("mp / m1")} END AS skill
        |FROM e""".stripMargin),

    // Theil-Sen robust slope of value-vs-time (per day) per user series
    QueryDef("q_theil_sen", (s, dir) =>
      graft.operators.Trend.theilSen(
          ev(s, dir).withColumn("t_days",
            unix_micros(col("ts")).cast("double") / lit(86400000000.0)),
          Seq("user_id"), "event_id", "t_days", "value", sampleN = 150)
        .select(col("user_id"), col("n"), col("n_slopes"),
          graft.functions.Portable.r6(col("slope")).as("slope")),
      s"""WITH v AS (SELECT user_id, event_id,
         |    CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0 AS x, CAST(value AS DOUBLE) AS y
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
         |    AND ts IS NOT NULL AND event_id IS NOT NULL),
         |h AS (SELECT user_id, event_id, x, y,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY ${h32("concat('theil','|',CAST(user_id AS VARCHAR),'|',CAST(event_id AS VARCHAR))")}, event_id) AS rn
         |  FROM v),
         |sm AS (SELECT user_id, event_id, x, y FROM h WHERE rn <= 150),
         |sl AS (SELECT l.user_id, (r.y - l.y) / (r.x - l.x) AS s
         |      FROM sm l JOIN sm r ON l.user_id = r.user_id
         |        AND l.event_id < r.event_id AND l.x <> r.x),
         |rk AS (SELECT user_id, s, row_number() OVER (PARTITION BY user_id ORDER BY s) AS rk,
         |        count(*) OVER (PARTITION BY user_id) AS m FROM sl),
         |mid AS (SELECT user_id, CAST(max(m) AS BIGINT) AS n_slopes, sum(s) / count(*) AS slope
         |      FROM rk WHERE rk = (m + 1) // 2 OR rk = (m + 2) // 2 GROUP BY 1),
         |sz AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM sm GROUP BY 1)
         |SELECT sz.user_id, sz.n, CAST(coalesce(mid.n_slopes, 0) AS BIGINT) AS n_slopes,
         |  ${r6("mid.slope")} AS slope
         |FROM sz LEFT JOIN mid USING (user_id)""".stripMargin),

    // Mann-Kendall "is the drift real" companion on the same series
    QueryDef("q_mann_kendall", (s, dir) =>
      graft.operators.Trend.mannKendall(ev(s, dir), Seq("user_id"), "ts", "event_id",
          "value", sampleN = 150)
        .select(col("user_id"), col("n"), col("s"),
          graft.functions.Portable.r6(col("var_s")).as("var_s"),
          graft.functions.Portable.r6(col("z")).as("z")),
      s"""WITH v AS (SELECT user_id, event_id, ts, CAST(value AS DOUBLE) AS y
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
         |    AND ts IS NOT NULL AND event_id IS NOT NULL),
         |h AS (SELECT user_id, event_id, ts, y,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY ${h32("concat('mk','|',CAST(user_id AS VARCHAR),'|',CAST(event_id AS VARCHAR))")}, event_id) AS rn
         |  FROM v),
         |sm AS (SELECT user_id, event_id, ts, y FROM h WHERE rn <= 150),
         |p AS (SELECT l.user_id,
         |        CASE WHEN r.y > l.y THEN 1 WHEN r.y < l.y THEN -1 ELSE 0 END AS sg
         |      FROM sm l JOIN sm r ON l.user_id = r.user_id
         |        AND (l.ts < r.ts OR (l.ts = r.ts AND l.event_id < r.event_id))),
         |sagg AS (SELECT user_id, CAST(sum(sg) AS BIGINT) AS s FROM p GROUP BY 1),
         |t AS (SELECT user_id, y, CAST(count(*) AS BIGINT) AS c FROM sm GROUP BY 1, 2),
         |ties AS (SELECT user_id, CAST(sum(c * (c - 1) * (2 * c + 5)) AS BIGINT) AS tsum,
         |        CAST(sum(c) AS BIGINT) AS n FROM t GROUP BY 1),
         |f AS (SELECT ties.user_id, n, CAST(coalesce(s, 0) AS BIGINT) AS s,
         |    CAST(n * (n - 1) * (2 * n + 5) - tsum AS DOUBLE) / 18.0 AS var_s
         |  FROM ties LEFT JOIN sagg USING (user_id))
         |SELECT user_id, n, s, ${r6("var_s")} AS var_s,
         |  CASE WHEN var_s > 0.0 THEN
         |    ${r6("(CAST(s AS DOUBLE) - CASE WHEN s > 0 THEN 1.0 WHEN s < 0 THEN -1.0 ELSE 0.0 END) / sqrt(var_s)")} END AS z
         |FROM f""".stripMargin),

    // classical additive decomposition of hourly volumes per event type
    QueryDef("q_decompose", (s, dir) =>
      Seasonal.decompose(ev(s, dir), "event_type", "ts", period = 24)
        .select(col("key").as("event_type"), unix_micros(col("bucket")).as("bucket_us"),
          col("phase"), col("v"),
          graft.functions.Portable.r6(col("trend")).as("trend"),
          graft.functions.Portable.r6(col("seasonal")).as("seasonal"),
          graft.functions.Portable.r6(col("residual")).as("residual")),
      s"""WITH $decomposeCtesSql
         |SELECT de.event_type, epoch_us(bk) AS bucket_us, CAST(de.phase AS BIGINT) AS phase, v,
         |  ${r6("trend")} AS trend,
         |  ${r6("seasonal")} AS seasonal,
         |  ${r6("detr - seasonal")} AS residual
         |FROM de LEFT JOIN se ON de.event_type = se.event_type AND de.phase = se.phase""".stripMargin),

    // DFT periodogram over hourly event counts: which periods (2..26h)
    // each stream actually carries
    QueryDef("q_periodogram", (s, dir) =>
      graft.operators.Seasonal.periodogram(ev(s, dir), "event_type", "ts",
          minPeriod = 2, maxPeriod = 26)
        .select(col("key").as("event_type"), col("period").cast("long").as("period"),
          col("n_buckets"), col("power"), col("rk").cast("long").as("rk")),
      s"""WITH b AS (SELECT event_type AS key, date_trunc('hour', ts) AS bk,
        |    CAST(count(*) AS DOUBLE) AS v
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |w AS (SELECT key, v,
        |    (epoch_us(bk) - min(epoch_us(bk)) OVER (PARTITION BY key)) // 3600000000 AS t,
        |    sum(v) OVER (PARTITION BY key) / count(*) OVER (PARTITION BY key) AS mean
        |  FROM b),
        |tm AS (SELECT key, t, v - mean AS dv, p.period
        |  FROM w, (SELECT unnest(range(2, 27)) AS period) p),
        |a AS (SELECT key, period, CAST(count(*) AS BIGINT) AS n_buckets,
        |    ${dsum(r6("dv * cos(2 * pi() * CAST(t % period AS DOUBLE) / CAST(period AS DOUBLE))"))} AS sc,
        |    ${dsum(r6("dv * sin(2 * pi() * CAST(t % period AS DOUBLE) / CAST(period AS DOUBLE))"))} AS ss
        |  FROM tm GROUP BY 1, 2),
        |pw AS (SELECT key, period, n_buckets,
        |    ${r6("(sc * sc + ss * ss) / CAST(n_buckets AS DOUBLE)")} AS power
        |  FROM a)
        |SELECT key AS event_type, CAST(period AS BIGINT) AS period, n_buckets, power,
        |  CAST(row_number() OVER (PARTITION BY key ORDER BY power DESC, period) AS BIGINT) AS rk
        |FROM pw""".stripMargin),

    // dominant period + spectral concentration per event stream
    QueryDef("q_dominant_period", (s, dir) =>
      graft.operators.Seasonal.dominantPeriod(ev(s, dir), "event_type", "ts",
          minPeriod = 2, maxPeriod = 26)
        .select(col("key").as("event_type"), col("n_buckets"),
          col("dominant_period").cast("long").as("dominant_period"),
          col("power_share"), col("spectral_entropy")),
      s"""WITH b AS (SELECT event_type AS key, date_trunc('hour', ts) AS bk,
        |    CAST(count(*) AS DOUBLE) AS v
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |w AS (SELECT key, v,
        |    (epoch_us(bk) - min(epoch_us(bk)) OVER (PARTITION BY key)) // 3600000000 AS t,
        |    sum(v) OVER (PARTITION BY key) / count(*) OVER (PARTITION BY key) AS mean
        |  FROM b),
        |tm AS (SELECT key, t, v - mean AS dv, p.period
        |  FROM w, (SELECT unnest(range(2, 27)) AS period) p),
        |a AS (SELECT key, period, CAST(count(*) AS BIGINT) AS n_buckets,
        |    ${dsum(r6("dv * cos(2 * pi() * CAST(t % period AS DOUBLE) / CAST(period AS DOUBLE))"))} AS sc,
        |    ${dsum(r6("dv * sin(2 * pi() * CAST(t % period AS DOUBLE) / CAST(period AS DOUBLE))"))} AS ss
        |  FROM tm GROUP BY 1, 2),
        |pw AS (SELECT key, period, n_buckets,
        |    ${r6("(sc * sc + ss * ss) / CAST(n_buckets AS DOUBLE)")} AS power
        |  FROM a),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY key ORDER BY power DESC, period) AS rn
        |  FROM pw),
        |gg AS (SELECT key, max(n_buckets) AS n_buckets,
        |    CAST(max(CASE WHEN rn = 1 THEN period END) AS BIGINT) AS dominant_period,
        |    max(CASE WHEN rn = 1 THEN power END) AS pmax,
        |    ${dsum("power")} AS tot
        |  FROM rk GROUP BY 1),
        |e AS (SELECT rk.key,
        |    ${dsum(r6("(-(power / tot)) * ln(power / tot)"))} AS h
        |  FROM rk JOIN gg ON gg.key = rk.key WHERE tot > 0 AND power > 0 GROUP BY 1)
        |SELECT gg.key AS event_type, n_buckets, dominant_period,
        |  ${r6("CASE WHEN tot > 0 THEN pmax / tot END")} AS power_share,
        |  ${r6("coalesce(h, 0) / ln(25.0)")} AS spectral_entropy
        |FROM gg LEFT JOIN e ON e.key = gg.key""".stripMargin),

    // composed seasonality stack: measure each event stream's dominant
    // cycle among calendar-plausible candidates (6/8/12/24h), then
    // decompose it AT that period — q_dominant_period and q_decompose
    // proven to CHAIN (one fact pass, one lazy plan), not just run alone
    QueryDef("q_season_pipeline", (s, dir) =>
      graft.operators.Seasonal.decomposeAtDominant(ev(s, dir), "event_type", "ts",
          periods = Seq(6, 8, 12, 24))
        .select(col("key").as("event_type"), unix_micros(col("bucket")).as("bucket_us"),
          col("phase").cast("long").as("phase"), col("period"), col("v"),
          graft.functions.Portable.r6(col("trend")).as("trend"),
          graft.functions.Portable.r6(col("seasonal")).as("seasonal"),
          graft.functions.Portable.r6(col("residual")).as("residual")),
      {
      val periods = Seq(6, 8, 12, 24)
      def branch(p: Int): String = {
        val h = p / 2
        s"""t_$p AS (SELECT b.key AS event_type, bk, v,
           |    (epoch_us(bk) // 3600000000) % $p AS phase,
           |    lag(v, $h) OVER wn AS l, lead(v, $h) OVER wn AS r,
           |    sum(v) OVER (PARTITION BY b.key ORDER BY bk
           |      ROWS BETWEEN ${h - 1} PRECEDING AND ${h - 1} FOLLOWING) AS si,
           |    count(v) OVER (PARTITION BY b.key ORDER BY bk
           |      ROWS BETWEEN ${h - 1} PRECEDING AND ${h - 1} FOLLOWING) AS ci
           |  FROM b JOIN win ON b.key = win.key AND win.period = $p
           |  WINDOW wn AS (PARTITION BY b.key ORDER BY bk)),
           |dd_$p AS (SELECT event_type, bk, phase, v,
           |    CASE WHEN l IS NOT NULL AND r IS NOT NULL AND ci = ${p - 1}
           |      THEN ((l + r) * 0.5 + si) / $p.0 END AS trend FROM t_$p),
           |de_$p AS (SELECT *, v - trend AS detr FROM dd_$p),
           |pm_$p AS (SELECT event_type, phase,
           |    CASE WHEN count(detr) > 0 THEN
           |      ${dsum(r6("detr"))}
           |        / CAST(count(detr) AS DOUBLE) END AS sp FROM de_$p GROUP BY 1, 2),
           |ctr_$p AS (SELECT event_type,
           |    CASE WHEN count(sp) > 0 THEN
           |      ${dsum(r6("sp"))}
           |        / CAST(count(sp) AS DOUBLE) END AS c FROM pm_$p GROUP BY 1),
           |se_$p AS (SELECT pm.event_type, phase, sp - c AS seasonal
           |  FROM pm_$p pm JOIN ctr_$p ctr USING (event_type)),
           |out_$p AS (SELECT de.event_type, epoch_us(bk) AS bucket_us,
           |    CAST(de.phase AS BIGINT) AS phase, CAST($p AS BIGINT) AS period, v,
           |    ${r6("trend")} AS trend,
           |    ${r6("seasonal")} AS seasonal,
           |    ${r6("detr - seasonal")} AS residual
           |  FROM de_$p de LEFT JOIN se_$p se
           |    ON de.event_type = se.event_type AND de.phase = se.phase)""".stripMargin
      }
      s"""WITH b AS (SELECT event_type AS key, date_trunc('hour', ts) AS bk,
         |    CAST(count(*) AS DOUBLE) AS v
         |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
         |w AS (SELECT key, v,
         |    (epoch_us(bk) - min(epoch_us(bk)) OVER (PARTITION BY key)) // 3600000000 AS t,
         |    sum(v) OVER (PARTITION BY key) / count(*) OVER (PARTITION BY key) AS mean
         |  FROM b),
         |tm AS (SELECT key, t, v - mean AS dv, p.period
         |  FROM w, (SELECT unnest(${periods.mkString("[", ", ", "]")}) AS period) p),
         |a AS (SELECT key, period, CAST(count(*) AS BIGINT) AS n_buckets,
         |    ${dsum(r6("dv * cos(2 * pi() * CAST(t % period AS DOUBLE) / CAST(period AS DOUBLE))"))} AS sc,
         |    ${dsum(r6("dv * sin(2 * pi() * CAST(t % period AS DOUBLE) / CAST(period AS DOUBLE))"))} AS ss
         |  FROM tm GROUP BY 1, 2),
         |pw AS (SELECT key, period, n_buckets,
         |    ${r6("(sc * sc + ss * ss) / CAST(n_buckets AS DOUBLE)")} AS power
         |  FROM a),
         |win AS (SELECT key, period FROM (SELECT key, period,
         |    row_number() OVER (PARTITION BY key ORDER BY power DESC, period) AS rk,
         |    sum(power) OVER (PARTITION BY key) AS tot FROM pw)
         |  WHERE rk = 1 AND tot > 0),
         |${periods.map(branch).mkString(",\n")}
         |${periods.map(p => s"SELECT * FROM out_$p").mkString(" UNION ALL ")}""".stripMargin
    }),

    // journey predictability: entropy rate of the first-order chain
    QueryDef("q_entropy_rate", (s, dir) =>
      Transitions.entropyRate(ev(s, dir), "user_id", "ts", "event_type", "event_id"),
      s"""WITH sq AS (SELECT event_type AS prev,
         |    lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS nxt
         |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
         |pc AS (SELECT prev, nxt, count(*) AS n FROM sq WHERE nxt IS NOT NULL GROUP BY 1, 2),
         |rt AS (SELECT prev, CAST(sum(n) AS BIGINT) AS nt FROM pc GROUP BY 1),
         |tm AS (SELECT pc.prev, pc.n,
         |    ${r6(s"-${r6("CAST(pc.n AS DOUBLE) / CAST(rt.nt AS DOUBLE)")} * ln(${r6("CAST(pc.n AS DOUBLE) / CAST(rt.nt AS DOUBLE)")})")} AS term
         |  FROM pc JOIN rt USING (prev)),
         |ps AS (SELECT prev, CAST(sum(n) AS BIGINT) AS ns, ${dsum("term")} AS h FROM tm GROUP BY 1),
         |tt AS (SELECT CAST(coalesce(sum(ns), 0) AS BIGINT) AS nt FROM ps),
         |er AS (SELECT count(*) AS n_states,
         |    CAST(coalesce(sum(ps.ns), 0) AS BIGINT) AS n_transitions,
         |    ${r6(s"coalesce(${dsum(r6("CAST(ps.ns AS DOUBLE) / CAST(tt.nt AS DOUBLE) * ps.h"))}, 0.0)")} AS entropy_rate
         |  FROM ps, tt)
         |SELECT n_states, n_transitions, entropy_rate,
         |  CASE WHEN n_states > 0 THEN ${r6("ln(CAST(n_states AS DOUBLE))")} END AS max_entropy,
         |  CASE WHEN n_states > 0 AND ${r6("ln(CAST(n_states AS DOUBLE))")} > 0 THEN
         |    ${r6(s"1.0 - entropy_rate / (${r6("ln(CAST(n_states AS DOUBLE))")})")}
         |  END AS predictability
         |FROM er""".stripMargin),

    // consecutive 2/3-step event-sequence motifs with per-user support
    QueryDef("q_seq_patterns", (s, dir) =>
      Sequences.sequentialPatterns(ev(s, dir), "user_id", "ts", "event_type",
        "event_id", minSupport = 5L),
      """WITH b AS (SELECT user_id AS u, event_type AS a,
        |    lead(event_type, 1) OVER w AS b2, lead(event_type, 2) OVER w AS c
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |p AS (SELECT u, 2 AS len, a || '>' || b2 AS pattern FROM b WHERE b2 IS NOT NULL
        |      UNION ALL
        |      SELECT u, 3, a || '>' || b2 || '>' || c FROM b WHERE c IS NOT NULL)
        |SELECT pattern, CAST(len AS BIGINT) AS len,
        |  CAST(count(DISTINCT u) AS BIGINT) AS n_users,
        |  CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM p GROUP BY 1, 2 HAVING count(DISTINCT u) >= 5""".stripMargin),

    // Hyndman trend/seasonal strength at the daily cycle — is there a
    // cycle worth modeling, per event type
    QueryDef("q_season_strength", (s, dir) =>
      Seasonal.strength(ev(s, dir), "event_type", "ts", period = 24)
        .select(col("key").as("event_type"), col("n"),
          col("f_trend"), col("f_seas")),
      {
      val rr = r6("de.detr - se.seasonal")
      val ss = r6("se.seasonal + (de.detr - se.seasonal)")
      val tt = r6("de.trend + (de.detr - se.seasonal)")
      s"""WITH $decomposeCtesSql,
         |jj AS (SELECT de.event_type AS key, $rr AS r, $ss AS sr, $tt AS tr
         |  FROM de LEFT JOIN se ON de.event_type = se.event_type AND de.phase = se.phase
         |  WHERE de.trend IS NOT NULL),
         |m AS (SELECT key, count(*) AS n,
         |    ${dsum("r")} AS sR, ${dsum(r6("r * r"))} AS qR,
         |    ${dsum("sr")} AS sS, ${dsum(r6("sr * sr"))} AS qS,
         |    ${dsum("tr")} AS sT, ${dsum(r6("tr * tr"))} AS qT
         |  FROM jj GROUP BY 1),
         |f AS (SELECT key, n, CAST(n AS DOUBLE) AS nd,
         |    qR / CAST(n AS DOUBLE) - (sR / CAST(n AS DOUBLE)) * (sR / CAST(n AS DOUBLE)) AS vR,
         |    qS / CAST(n AS DOUBLE) - (sS / CAST(n AS DOUBLE)) * (sS / CAST(n AS DOUBLE)) AS vS,
         |    qT / CAST(n AS DOUBLE) - (sT / CAST(n AS DOUBLE)) * (sT / CAST(n AS DOUBLE)) AS vT
         |  FROM m)
         |SELECT key AS event_type, CAST(n AS BIGINT) AS n,
         |  CASE WHEN vT > 0 THEN ${r6("greatest(CAST(0.0 AS DOUBLE), 1.0 - vR / vT)")} END AS f_trend,
         |  CASE WHEN vS > 0 THEN ${r6("greatest(CAST(0.0 AS DOUBLE), 1.0 - vR / vS)")} END AS f_seas
         |FROM f""".stripMargin
    }),

    // growth accounting: every active (user, week) is new/retained/
    // resurrected, silences churn into the next week; quick ratio
    QueryDef("q_growth", (s, dir) =>
      Retention.growthAccounting(ev(s, dir), "user_id", "ts", WeekUs),
      s"""WITH a AS (SELECT DISTINCT user_id AS u, epoch_us(ts) // $WeekUs AS p
         |  FROM events WHERE ts IS NOT NULL),
         |c AS (SELECT u, p, min(p) OVER (PARTITION BY u) AS f,
         |    lag(p) OVER (PARTITION BY u ORDER BY p) AS pv,
         |    lead(p) OVER (PARTITION BY u ORDER BY p) AS nx FROM a),
         |st AS (SELECT p, CASE WHEN p = f THEN 'new'
         |                     WHEN pv = p - 1 THEN 'retained'
         |                     ELSE 'resurrected' END AS s FROM c
         |  UNION ALL
         |  SELECT c.p + 1, 'churned' FROM c, (SELECT max(p) AS mp FROM a) m
         |  WHERE (c.nx IS NULL OR c.nx > c.p + 1) AND c.p + 1 <= m.mp)
         |SELECT p AS period,
         |  CAST(count(CASE WHEN s <> 'churned' THEN 1 END) AS BIGINT) AS n_active,
         |  CAST(count(CASE WHEN s = 'new' THEN 1 END) AS BIGINT) AS n_new,
         |  CAST(count(CASE WHEN s = 'retained' THEN 1 END) AS BIGINT) AS n_retained,
         |  CAST(count(CASE WHEN s = 'resurrected' THEN 1 END) AS BIGINT) AS n_resurrected,
         |  CAST(count(CASE WHEN s = 'churned' THEN 1 END) AS BIGINT) AS n_churned,
         |  CASE WHEN count(CASE WHEN s = 'churned' THEN 1 END) > 0 THEN
         |    ${r6("CAST(count(CASE WHEN s = 'new' THEN 1 END) + count(CASE WHEN s = 'resurrected' THEN 1 END) AS DOUBLE) / CAST(count(CASE WHEN s = 'churned' THEN 1 END) AS DOUBLE)")}
         |  END AS quick_ratio
         |FROM st GROUP BY 1""".stripMargin),

    // DAU / trailing-7-day actives / stickiness per day
    QueryDef("q_dau_wau", (s, dir) =>
      Retention.rollingActives(ev(s, dir), "user_id", "ts"),
      s"""WITH a AS (SELECT DISTINCT user_id AS key, epoch_us(ts) // 86400000000 AS day
         |  FROM events WHERE ts IS NOT NULL),
         |d AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM a GROUP BY 1),
         |c AS (SELECT DISTINCT key, day + o AS wday FROM a, (SELECT unnest(range(0, 7)) AS o)),
         |w AS (SELECT wday, CAST(count(*) AS BIGINT) AS wau FROM c GROUP BY 1)
         |SELECT d.day, d.dau, w.wau,
         |  ${r6("CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE)")} AS stickiness
         |FROM d JOIN w ON w.wday = d.day""".stripMargin),

    // cohort LTV: cumulative value per cohort member by cohort age
    QueryDef("q_ltv", (s, dir) =>
      Retention.ltvCurve(ev(s, dir), "user_id", "ts", "value"),
      s"""WITH b AS (SELECT user_id AS u, epoch_us(date_trunc('week', ts)) AS wk,
         |    coalesce(CAST(value AS DOUBLE), 0.0) AS v
         |  FROM events WHERE ts IS NOT NULL),
         |bf AS (SELECT * FROM b WHERE NOT isnan(v)),
         |coh AS (SELECT u, min(wk) AS cw FROM bf GROUP BY 1),
         |sz AS (SELECT cw, CAST(count(*) AS BIGINT) AS n_users FROM coh GROUP BY 1),
         |cells AS (SELECT coh.cw, (bf.wk - coh.cw) // 604800000000 AS age_weeks,
         |    CAST(count(DISTINCT bf.u) AS BIGINT) AS n_active,
         |    ${dsum0(r6("v"))} AS rev
         |  FROM bf JOIN coh USING (u) GROUP BY 1, 2),
         |cum AS (SELECT cw, age_weeks, n_active, rev,
         |    CAST(sum(CAST(rev AS DECIMAL(38,6))) OVER (PARTITION BY cw ORDER BY age_weeks
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS crev
         |  FROM cells)
         |SELECT cw AS cohort_week, CAST(age_weeks AS BIGINT) AS age_weeks, n_users,
         |  n_active, ${r6("rev")} AS revenue,
         |  CASE WHEN n_users > 0 THEN ${r6("crev / CAST(n_users AS DOUBLE)")} END AS cum_revenue_per_user
         |FROM cum JOIN sz USING (cw)""".stripMargin),

    // SAX words: each event type's value series as an 8-letter shape
    QueryDef("q_sax", (s, dir) =>
      Trend.sax(ev(s, dir), Seq("event_type"), "ts", "event_id", "value",
        nSegments = 8),
      s"""WITH b AS (SELECT event_type AS g, ts, event_id, CAST(value AS DOUBLE) AS v
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value) AND ts IS NOT NULL),
         |mom AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
         |    ${dsum0(r6("v"))} AS sm,
         |    ${dsum0(r6("v * v"))} AS s2
         |  FROM b GROUP BY 1),
         |rk AS (SELECT g, v,
         |    row_number() OVER (PARTITION BY g ORDER BY ts, event_id) - 1 AS rn FROM b),
         |zz AS (SELECT rk.g, (rk.rn * 8) // mom.n AS seg,
         |    CASE WHEN sqrt(greatest(s2 / CAST(n AS DOUBLE) - (sm / CAST(n AS DOUBLE)) * (sm / CAST(n AS DOUBLE)), 0.0)) > 0
         |      THEN (v - sm / CAST(n AS DOUBLE)) / sqrt(greatest(s2 / CAST(n AS DOUBLE) - (sm / CAST(n AS DOUBLE)) * (sm / CAST(n AS DOUBLE)), 0.0))
         |      ELSE 0.0 END AS z
         |  FROM rk JOIN mom USING (g)),
         |paa AS (SELECT g, seg,
         |    ${dsum0(r6("z"))} /
         |      CAST(count(*) AS DOUBLE) AS pm
         |  FROM zz GROUP BY 1, 2),
         |sym AS (SELECT g, seg,
         |    CASE WHEN pm < -0.6745 THEN 'a' WHEN pm < 0.0 THEN 'b'
         |         WHEN pm < 0.6745 THEN 'c' ELSE 'd' END AS sy
         |  FROM paa)
         |SELECT sym.g AS event_type, mom.n AS n,
         |  string_agg(sy, '' ORDER BY seg) AS sax
         |FROM sym JOIN mom ON mom.g = sym.g GROUP BY sym.g, mom.n""".stripMargin),

    // trailing 5-row rolling median of event values per user
    QueryDef("q_roll_median", (s, dir) =>
      Rolling.rollingMedian(
        ev(s, dir).withColumn("t", unix_micros(col("ts"))),
        Seq("user_id"), "t", "event_id", "value", k = 5)
        .select(col("user_id"), col("t"), col("v"), col("n_window"),
          col("roll_median")),
      s"""WITH b AS (SELECT user_id, epoch_us(ts) AS t, event_id, CAST(value AS DOUBLE) AS v
         |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
         |w AS (SELECT user_id, t, v,
         |    list_sort(list(v) OVER (PARTITION BY user_id ORDER BY t, event_id
         |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS win
         |  FROM b)
         |SELECT user_id, t, v, CAST(len(win) AS BIGINT) AS n_window,
         |  ${r6("(win[(len(win) + 1) // 2] + win[len(win) // 2 + 1]) / 2.0")} AS roll_median
         |FROM w""".stripMargin),

    // pairwise DTW over the event types' 8-segment PAA shapes
    QueryDef("q_dtw", { (s, dir) =>
      val paa = Trend.paaVectors(ev(s, dir), Seq("event_type"), "ts",
        "event_id", "value", nSegments = 8)
      paa.as("a").join(paa.as("b"),
          col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"),
          graft.functions.Portable.r6(
            Trend.dtwDistance(col("a.paa"), col("b.paa"))).as("dtw"))
    },
      {
      s"""WITH b AS (SELECT event_type AS g, ts, event_id, CAST(value AS DOUBLE) AS v
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value) AND ts IS NOT NULL),
         |mom AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
         |    ${dsum0(r6("v"))} AS sm,
         |    ${dsum0(r6("v * v"))} AS s2
         |  FROM b GROUP BY 1),
         |rk AS (SELECT g, v,
         |    row_number() OVER (PARTITION BY g ORDER BY ts, event_id) - 1 AS rn FROM b),
         |zz AS (SELECT rk.g, (rk.rn * 8) // mom.n AS seg,
         |    CASE WHEN sqrt(greatest(s2 / CAST(n AS DOUBLE) - (sm / CAST(n AS DOUBLE)) * (sm / CAST(n AS DOUBLE)), 0.0)) > 0
         |      THEN (v - sm / CAST(n AS DOUBLE)) / sqrt(greatest(s2 / CAST(n AS DOUBLE) - (sm / CAST(n AS DOUBLE)) * (sm / CAST(n AS DOUBLE)), 0.0))
         |      ELSE 0.0 END AS z
         |  FROM rk JOIN mom USING (g)),
         |paa AS (SELECT g, seg,
         |    ${r6(s"${dsum0(r6("z"))} / CAST(count(*) AS DOUBLE)")} AS pm
         |  FROM zz GROUP BY 1, 2),
         |vecs AS (SELECT g, list(pm ORDER BY seg) AS paa FROM paa GROUP BY 1),
         |pairs AS (SELECT a.g AS type_a, b.g AS type_b, a.paa AS pa, b.paa AS pb
         |  FROM vecs a JOIN vecs b ON a.g < b.g)
         |SELECT type_a, type_b,
         |  ${r6("""list_reduce(
         |    list_prepend(list_prepend(CAST(0 AS DOUBLE), list_transform(pb, q -> 1e308)),
         |      list_transform(pa, q -> [q])),
         |    (prev, xr) -> list_reduce(
         |      list_prepend([1e308], list_transform(range(1, len(pb) + 1), j -> [CAST(j AS DOUBLE)])),
         |      (row, jj) -> list_append(row,
         |        abs(xr[1] - pb[CAST(jj[1] AS BIGINT)]) +
         |        least(prev[CAST(jj[1] AS BIGINT)], prev[CAST(jj[1] AS BIGINT) + 1], row[len(row)]))))[len(pb) + 1]""")} AS dtw
         |FROM pairs""".stripMargin
    }),

    // Markov next-event backtest: fit argmax transitions on even
    // users, score top-1 accuracy on odd users
    QueryDef("q_markov_eval", (s, dir) =>
      Transitions.markovBacktest(ev(s, dir), "user_id", "ts",
        "event_type", "event_id", pmod(col("user_id"), lit(2)) === 0),
      s"""WITH bg AS (SELECT event_type AS prev,
         |    lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS next,
         |    user_id % 2 = 0 AS tr
         |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
         |b AS (SELECT prev, next, tr FROM bg WHERE next IS NOT NULL),
         |tc AS (SELECT prev, next, CAST(count(*) AS BIGINT) AS n FROM b WHERE tr GROUP BY 1, 2),
         |model AS (SELECT prev, next AS predicted FROM (
         |    SELECT prev, next, row_number() OVER (PARTITION BY prev ORDER BY n DESC, next ASC) AS r FROM tc)
         |  WHERE r = 1),
         |tt AS (SELECT prev, CAST(sum(n) AS BIGINT) AS n_train FROM tc GROUP BY 1),
         |te AS (SELECT prev, next, CAST(count(*) AS BIGINT) AS nt FROM b WHERE NOT tr GROUP BY 1, 2),
         |tes AS (SELECT prev, CAST(sum(nt) AS BIGINT) AS n_test FROM te GROUP BY 1)
         |SELECT model.prev, model.predicted, tt.n_train,
         |  coalesce(tes.n_test, 0) AS n_test,
         |  coalesce(te.nt, 0) AS n_correct,
         |  CASE WHEN coalesce(tes.n_test, 0) > 0
         |    THEN ${r6("CAST(coalesce(te.nt, 0) AS DOUBLE) / CAST(tes.n_test AS DOUBLE)")} END AS accuracy
         |FROM model JOIN tt USING (prev)
         |LEFT JOIN tes USING (prev)
         |LEFT JOIN te ON te.prev = model.prev AND te.next = model.predicted""".stripMargin),

    // strict local maxima of per-user event values, >= 20 above the
    // trailing 5-row median baseline
    QueryDef("q_peaks", (s, dir) =>
      Rolling.detectPeaks(
        ev(s, dir).withColumn("tu", unix_micros(col("ts"))),
        Seq("user_id"), "tu", "event_id", "value", k = 5, minProminence = 20.0),
      s"""WITH b AS (SELECT user_id, epoch_us(ts) AS t, event_id, CAST(value AS DOUBLE) AS v
         |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
         |w AS (SELECT user_id, t, v,
         |    list_sort(list(v) OVER (PARTITION BY user_id ORDER BY t, event_id
         |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS win,
         |    lag(v) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pv,
         |    lead(v) OVER (PARTITION BY user_id ORDER BY t, event_id) AS nv
         |  FROM b),
         |med AS (SELECT user_id, t, v, pv, nv,
         |    (win[(len(win) + 1) // 2] + win[len(win) // 2 + 1]) / 2.0 AS bl
         |  FROM w)
         |SELECT user_id, t, v, ${r6("bl")} AS baseline, ${r6("v - bl")} AS prominence
         |FROM med
         |WHERE pv IS NOT NULL AND nv IS NOT NULL AND v > pv AND v > nv AND v - bl >= 20.0""".stripMargin),

    // R/S Hurst exponent of per-type value series
    QueryDef("q_hurst", (s, dir) =>
      Trend.hurstExponent(ev(s, dir), Seq("event_type"), "ts", "event_id",
        "value", blockSizes = Seq(8, 16, 32, 64)),
      s"""WITH b AS (SELECT event_type AS g, ts, event_id, CAST(value AS DOUBLE) AS v
         |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
         |rk AS (SELECT g, ts, event_id, v,
         |    CAST(row_number() OVER (PARTITION BY g ORDER BY ts, event_id) AS BIGINT) - 1 AS rn FROM b),
         |mel AS (SELECT g, ts, event_id, v, m.m AS m, (rn - rn % m.m) // m.m AS blk
         |  FROM rk, (VALUES (CAST(8 AS BIGINT)), (16), (32), (64)) m(m)),
         |f2 AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY g, m, blk) AS bn FROM mel)
         |  WHERE bn = m),
         |wm AS (SELECT *, CAST(sum(CAST(v AS DECIMAL(38,6))) OVER (PARTITION BY g, m, blk) AS DOUBLE) / CAST(m AS DOUBLE) AS mn FROM f2),
         |cum AS (SELECT *, CAST(sum(CAST(${r6("v - mn")} AS DECIMAL(38,6)))
         |    OVER (PARTITION BY g, m, blk ORDER BY ts, event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cumv FROM wm),
         |pb AS (SELECT g, m, blk, max(cumv) - min(cumv) AS r,
         |    sqrt(greatest(${dsum0(r6("(v - mn) * (v - mn)"))} / CAST(first(m) AS DOUBLE), 0.0)) AS sd
         |  FROM cum GROUP BY 1, 2, 3),
         |rs AS (SELECT g, m, r / sd AS rsv FROM pb WHERE sd > 0),
         |ps AS (SELECT g, m, ${dsum0(r6("rsv"))} / CAST(count(*) AS DOUBLE) AS mrs FROM rs GROUP BY 1, 2),
         |pts AS (SELECT g, ln(CAST(m AS DOUBLE)) AS x, ln(mrs) AS y FROM ps WHERE mrs > 0),
         |fit AS (SELECT g, CAST(count(*) AS BIGINT) AS k_sizes,
         |    ${dsum0(r6("x"))} AS sx, ${dsum0(r6("y"))} AS sy, ${dsum0(r6("x * x"))} AS qx, ${dsum0(r6("x * y"))} AS pxy
         |  FROM pts GROUP BY 1),
         |tot AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1)
         |SELECT tot.g AS event_type, n, k_sizes,
         |  CASE WHEN k_sizes >= 2 AND CAST(k_sizes AS DOUBLE) * qx - sx * sx > 0
         |    THEN ${r6("(CAST(k_sizes AS DOUBLE) * pxy - sx * sy) / (CAST(k_sizes AS DOUBLE) * qx - sx * sx)")} END AS hurst
         |FROM tot JOIN fit ON tot.g = fit.g""".stripMargin)
  )
}
