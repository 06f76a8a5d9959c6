package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.{rd, events}
import graft.functions.MathFunctions.roundToSql
import graft.queries.QuerySpec._

/** Event analytics (`evt_*`) over `events`: funnels, retention,
  * sessions, attribution and per-user statistics. */
object EventQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("evt_funnel", Headline, Scale10x,
      PlanDoc("chained slim per-user min-aggregations — no window over a user's event history"))((s, dir) =>
      // Strict-order conversion funnel view -> click -> purchase,
      // each step within 7 days of the previous step's completion.
      // Chained slim per-user min-aggregations — no windows, no
      // per-user event lists.
      graft.operators.EventAnalytics.funnel(events(s, dir),
        "user_id", "event_type", "ts_us",
        Seq("view", "click", "purchase"), horizonUs = 7L * 86400000000L))({
      val h = 7L * 86400000000L
      s"""WITH ev AS (SELECT user_id AS u, event_type AS et, epoch_us(ts) AS ts FROM events),
         s1 AS (SELECT u, min(ts) AS t1 FROM ev WHERE et = 'view' GROUP BY u),
         s2 AS (SELECT ev.u, min(ev.ts) AS t2 FROM ev JOIN s1 ON ev.u = s1.u
           WHERE ev.et = 'click' AND ev.ts > s1.t1 AND ev.ts <= s1.t1 + $h GROUP BY ev.u),
         s3 AS (SELECT ev.u, min(ev.ts) AS t3 FROM ev JOIN s2 ON ev.u = s2.u
           WHERE ev.et = 'purchase' AND ev.ts > s2.t2 AND ev.ts <= s2.t2 + $h GROUP BY ev.u),
         c AS (SELECT (SELECT count(*) FROM s1) AS c1,
                      (SELECT count(*) FROM s2) AS c2,
                      (SELECT count(*) FROM s3) AS c3)
         SELECT CAST(step AS INTEGER) AS step, event_type, users,
           CASE WHEN c1 > 0 THEN CAST(users AS DOUBLE) / CAST(c1 AS DOUBLE) END AS conv_from_first
         FROM (
           SELECT 1 AS step, 'view' AS event_type, c1 AS users, c1 FROM c
           UNION ALL SELECT 2, 'click', c2, c1 FROM c
           UNION ALL SELECT 3, 'purchase', c3, c1 FROM c)
         ORDER BY step"""
    }),
    QuerySpec("evt_retention",
      PlanDoc("per-user first-day agg + same-key rejoin; distinct-by-aggregation; cohort sizes broadcast"))((s, dir) =>
      // Weekly cohort retention from pure integer day/week indices
      // (micros div) — no calendar/timezone dependence.
      graft.operators.EventAnalytics.retention(events(s, dir), "user_id", "ts_us"))(
      """WITH ev AS (SELECT user_id AS u, epoch_us(ts) // 86400000000 AS day FROM events),
         fd AS (SELECT u, min(day) AS first_day FROM ev GROUP BY u),
         act AS (SELECT DISTINCT ev.u, fd.first_day // 7 AS cohort_week,
             (ev.day - fd.first_day) // 7 AS week_offset
           FROM ev JOIN fd ON ev.u = fd.u),
         agg AS (SELECT cohort_week, week_offset, count(*) AS active_users
           FROM act GROUP BY cohort_week, week_offset),
         sz AS (SELECT cohort_week, active_users AS cohort_size FROM agg WHERE week_offset = 0)
         SELECT agg.cohort_week, agg.week_offset, agg.active_users, sz.cohort_size,
           CAST(agg.active_users AS DOUBLE) / CAST(sz.cohort_size AS DOUBLE) AS retention
         FROM agg JOIN sz ON agg.cohort_week = sz.cohort_week
         ORDER BY agg.cohort_week, agg.week_offset"""),
    QuerySpec("evt_session_stats")((s, dir) => {
      // Per-session rollup over the q32 gap sessionization (300 s):
      // event count, wall duration, value sum per (user, session).
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      events(s, dir)
        .withColumn("gap_us", col("ts_us") - lag("ts_us", 1).over(w))
        .withColumn("new_session",
          when(col("gap_us").isNull || col("gap_us") > 300000000L, 1L).otherwise(0L))
        .withColumn("session_id", sum("new_session")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(count("*").as("n_events"),
          expr("(max(ts_us) - min(ts_us)) div 1000").as("duration_ms"),
          rd(sum(col("value")), 2).as("sum_value"))
        .orderBy("user_id", "session_id")
    })(
      s"""WITH g AS (SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
           epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (SELECT user_id, event_id, value, ts_us,
           CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 300000000 THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         FROM g)
         SELECT user_id, session_id, count(*) AS n_events,
           (max(ts_us) - min(ts_us)) // 1000 AS duration_ms,
           ${roundToSql("sum(value)", 2)} AS sum_value
         FROM sess GROUP BY user_id, session_id
         ORDER BY user_id, session_id"""),
    QuerySpec("evt_transitions")((s, dir) => {
      // Markov next-event transition matrix: per-user event
      // successor pairs → counts + row-normalized probabilities.
      // The only data window keys by user; the probability window
      // rolls up the ≤ |types|² matrix.
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      events(s, dir)
        .withColumn("to_event", lead("event_type", 1).over(w))
        .filter(col("to_event").isNotNull)
        .groupBy(col("event_type").as("from_event"), col("to_event"))
        .agg(count("*").as("n"))
        .withColumn("p", rd(col("n").cast("double") /
          sum("n").over(Window.partitionBy("from_event")).cast("double"), 6))
        .orderBy("from_event", "to_event")
    })(
      s"""WITH g AS (SELECT event_type,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_event
         FROM events),
         c AS (SELECT event_type AS from_event, to_event, count(*) AS n
           FROM g WHERE to_event IS NOT NULL GROUP BY event_type, to_event)
         SELECT from_event, to_event, CAST(n AS BIGINT) AS n,
           ${roundToSql(
             "CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_event) AS DOUBLE)", 6)} AS p
         FROM c ORDER BY from_event, to_event"""),
    QuerySpec("evt_markov_score", Scale10x)((s, dir) =>
      // Per-user surprisal under the corpus' Laplace-smoothed Markov
      // transition model: one event scan (user-keyed window), slim
      // persisted (user,from,to,n) frame, matrix joins back broadcast.
      graft.operators.EventAnalytics.markovSurprisal(events(s, dir),
          "user_id", "event_type", "ts_us", "event_id")
        .orderBy("user_id"))(
      s"""WITH mk_g AS (SELECT user_id, event_type AS from_event,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_event
         FROM events),
         mk_uft AS (SELECT user_id, from_event, to_event, count(*) AS n_uft
           FROM mk_g WHERE to_event IS NOT NULL
           GROUP BY user_id, from_event, to_event),
         mk_m AS (SELECT from_event, to_event, sum(n_uft) AS n_ft
           FROM mk_uft GROUP BY from_event, to_event),
         mk_f AS (SELECT from_event, sum(n_ft) AS n_f FROM mk_m GROUP BY from_event),
         mk_v AS (SELECT count(DISTINCT event_type) AS v FROM events),
         mk_t AS (SELECT m.from_event, m.to_event,
             CAST(floor(ln(CAST(n_f + v AS DOUBLE) / CAST(n_ft + 1 AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS term_q
           FROM mk_m m JOIN mk_f f USING (from_event) CROSS JOIN mk_v),
         mk_u AS (SELECT user_id, CAST(sum(n_uft) AS BIGINT) AS n_trans,
             sum(CAST(n_uft AS HUGEINT) * term_q) AS sum_q
           FROM mk_uft JOIN mk_t USING (from_event, to_event) GROUP BY user_id)
         SELECT user_id, n_trans,
           ${roundToSql("CAST(sum_q AS DOUBLE) / CAST(n_trans AS DOUBLE) / 1e6", 6)} AS surprisal
         FROM mk_u ORDER BY user_id"""),
    QuerySpec("evt_attribution", Scale10x,
      PlanDoc("one equi-join + min/max-struct hash agg — no window over a user's touch history"))((s, dir) =>
      // First/last-touch credit assignment: view/click touches within
      // a 3-day lookback of each purchase; min/max-struct aggregation
      // (window-free), event-id tie-break on both engines.
      graft.operators.EventAnalytics.attribution(events(s, dir),
          "user_id", "event_type", "ts_us", "event_id",
          touchTypes = Seq("view", "click"), conversionType = "purchase",
          lookbackUs = 3L * 86400000000L)
        .orderBy("conversion_id"))(
      s"""WITH at_c AS (SELECT user_id, event_id AS conversion_id, epoch_us(ts) AS conv_ts
           FROM events WHERE event_type = 'purchase'),
         at_t AS (SELECT user_id, event_id AS touch_id, event_type AS touch_type,
             epoch_us(ts) AS touch_ts
           FROM events WHERE event_type IN ('view', 'click')),
         at_j AS (SELECT c.conversion_id,
             min({'ts': t.touch_ts, 'id': t.touch_id, 'ty': t.touch_type}) AS ft,
             max({'ts': t.touch_ts, 'id': t.touch_id, 'ty': t.touch_type}) AS lt,
             CAST(count(*) AS BIGINT) AS n
           FROM at_c c JOIN at_t t ON t.user_id = c.user_id
             AND t.touch_ts <= c.conv_ts AND c.conv_ts - t.touch_ts <= 259200000000
           GROUP BY c.conversion_id)
         SELECT c.conversion_id, c.user_id, struct_extract(j.ft, 'ty') AS first_touch,
           struct_extract(j.lt, 'ty') AS last_touch,
           coalesce(j.n, CAST(0 AS BIGINT)) AS n_touches
         FROM at_c c LEFT JOIN at_j j USING (conversion_id)
         ORDER BY conversion_id"""),
    QuerySpec("evt_cooccurrence", Scale10x,
      PlanDoc("checkpointed result (one event scan via persisted distinct frame); shape audited on the checkpoint job's plan"))((s, dir) =>
      // Market-basket lift over the event log: distinct (user, type)
      // first, so the user-keyed self-join is |types|^2-bounded per
      // user regardless of event volume.
      graft.operators.EventAnalytics.cooccurrence(events(s, dir), "user_id", "event_type")
        .orderBy("et_a", "et_b"))(
      s"""WITH co_ut AS (SELECT DISTINCT user_id AS u, event_type AS et FROM events),
         co_m AS (SELECT et, CAST(count(*) AS BIGINT) AS n_users FROM co_ut GROUP BY et),
         co_t AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS n_total FROM co_ut),
         co_p AS (SELECT a.et AS et_a, b.et AS et_b, CAST(count(*) AS BIGINT) AS n_both
           FROM co_ut a JOIN co_ut b ON a.u = b.u AND a.et < b.et GROUP BY a.et, b.et)
         SELECT et_a, et_b, n_both, ma.n_users AS n_a, mb.n_users AS n_b,
           ${roundToSql("CAST(n_both AS DOUBLE) * CAST(n_total AS DOUBLE) / " +
             "(CAST(ma.n_users AS DOUBLE) * CAST(mb.n_users AS DOUBLE))", 6)} AS lift
         FROM co_p JOIN co_m ma ON co_p.et_a = ma.et
           JOIN co_m mb ON co_p.et_b = mb.et CROSS JOIN co_t
         ORDER BY et_a, et_b"""),
    QuerySpec("evt_paths", Scale10x,
      PlanDoc("one user-keyed lead window; share rolls up the tiny path table — events scanned exactly once"))((s, dir) =>
      // Ordered 3-step behavior paths: user-partitioned double-lead,
      // rolled up to the <=|types|^3 path table with shares.
      graft.operators.EventAnalytics.paths(events(s, dir),
          "user_id", "event_type", "ts_us", "event_id")
        .orderBy(desc("n"), col("e1"), col("e2"), col("e3")))(
      s"""WITH pg AS (SELECT event_type AS e1,
           lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
           lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
         FROM events),
         pc AS (SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n FROM pg
           WHERE e2 IS NOT NULL AND e3 IS NOT NULL GROUP BY e1, e2, e3),
         pt AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM pc)
         SELECT e1, e2, e3, n,
           ${roundToSql("CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)", 6)} AS share
         FROM pc CROSS JOIN pt ORDER BY n DESC, e1, e2, e3"""),
    QuerySpec("evt_rfm", Scale10x,
      PlanDoc("checkpointed result (one event scan via persisted per-user frame); shape audited on the checkpoint job's plan"))((s, dir) =>
      // RFM user-value segmentation: one per-user aggregation, mean
      // cutoffs compared as exact integers (r*n <= sum_r), monetary
      // reported but kept out of the verdict.
      graft.operators.EventAnalytics.rfm(events(s, dir), "user_id", "ts_us", "value")
        .orderBy("user_id"))(
      s"""WITH ru AS (SELECT user_id, max(epoch_us(ts)) AS last_ts,
           CAST(count(*) AS BIGINT) AS frequency, sum(value) AS m_raw
         FROM events GROUP BY user_id),
         rc AS (SELECT max(epoch_us(ts)) AS corpus_max FROM events),
         rr AS (SELECT user_id, (corpus_max - last_ts) // 86400000000 AS recency_days,
           frequency, m_raw FROM ru CROSS JOIN rc),
         rt AS (SELECT CAST(sum(recency_days) AS BIGINT) AS tot_r,
           CAST(sum(frequency) AS BIGINT) AS tot_f,
           CAST(count(*) AS BIGINT) AS n_users FROM rr)
         SELECT user_id, recency_days, frequency,
           ${roundToSql("m_raw", 4)} AS monetary,
           CASE WHEN recency_days * n_users <= tot_r THEN
             CASE WHEN frequency * n_users >= tot_f THEN 'core' ELSE 'casual' END
           ELSE
             CASE WHEN frequency * n_users >= tot_f THEN 'lapsed_heavy' ELSE 'dormant' END
           END AS segment
         FROM rr CROSS JOIN rt ORDER BY user_id"""),
    QuerySpec("evt_anomaly")((s, dir) =>
      // Daily-volume z-score anomalies per event type; window-free,
      // stats broadcast onto the tiny (type, day) count table.
      graft.operators.EventAnalytics.dailyAnomalies(
          events(s, dir), "event_type", "ts_us", zThreshold = 2.0)
        .orderBy("event_type", "day"))({
      // gate on VARIANCE (not sd): sqrt of a cancellation-negative
      // variance is NaN, and NaN > 0.0 diverges loud-vs-silent across
      // engines — mirrors EventAnalytics.dailyAnomalies
      val vr = "((s.q - CAST(s.s AS DOUBLE) * CAST(s.s AS DOUBLE) / CAST(s.nd AS DOUBLE)) / CAST(s.nd - 1 AS DOUBLE))"
      val sd = s"sqrt($vr)"
      s"""WITH an_c AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
           CAST(count(*) AS BIGINT) AS n_events FROM events GROUP BY 1, 2),
         an_s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
             CAST(sum(n_events) AS BIGINT) AS s,
             CAST(sum(CAST(n_events AS HUGEINT) * n_events) AS DOUBLE) AS q
           FROM an_c GROUP BY 1),
         an_z AS (SELECT c.event_type, c.day, c.n_events,
             CASE WHEN s.nd > 1 AND $vr > 0.0
               THEN ${roundToSql(s"(CAST(c.n_events AS DOUBLE) - CAST(s.s AS DOUBLE) / CAST(s.nd AS DOUBLE)) / $sd", 6)}
             END AS z
           FROM an_c c JOIN an_s s USING (event_type))
         SELECT event_type, day, n_events, z,
           CASE WHEN z IS NOT NULL THEN abs(z) >= 2.0 END AS is_anomaly
         FROM an_z ORDER BY event_type, day"""
    }),
    QuerySpec("evt_changepoint", Scale10x)((s, dir) =>
      // Two-sided CUSUM level-shift detection per event type: the
      // max(0, ·) recurrence as prefix-sum-minus-running-min windows
      // over the tiny (type, day) series — one event scan total.
      graft.operators.EventAnalytics.changepoint(
          events(s, dir), "event_type", "ts_us")
        .orderBy("event_type", "day"))({
      // variance gate, not sd — same NaN discipline as evt_anomaly:
      // here the divergence is loud (DuckDB errors on CAST(NaN AS
      // BIGINT)) vs silent (Spark floor(NaN) → zeroed CUSUM)
      val vr = "((s.q - CAST(s.s AS DOUBLE) * CAST(s.s AS DOUBLE) / CAST(s.nd AS DOUBLE)) / CAST(s.nd - 1 AS DOUBLE))"
      val sd = s"sqrt($vr)"
      s"""WITH cp_c AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
           CAST(count(*) AS BIGINT) AS n_events FROM events GROUP BY 1, 2),
         cp_s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd,
             CAST(sum(n_events) AS BIGINT) AS s,
             CAST(sum(CAST(n_events AS HUGEINT) * n_events) AS DOUBLE) AS q
           FROM cp_c GROUP BY 1),
         cp_d AS (SELECT c.event_type, c.day, c.n_events,
             (s.nd > 1 AND $vr > 0.0) AS healthy,
             CASE WHEN s.nd > 1 AND $vr > 0.0
               THEN CAST(floor((CAST(c.n_events AS DOUBLE) - CAST(s.s AS DOUBLE) / CAST(s.nd AS DOUBLE) - $sd * 0.5) * 1e6 + 0.5) AS BIGINT)
               ELSE 0 END AS dq,
             CASE WHEN s.nd > 1 AND $vr > 0.0
               THEN CAST(floor((CAST(c.n_events AS DOUBLE) - CAST(s.s AS DOUBLE) / CAST(s.nd AS DOUBLE) + $sd * 0.5) * 1e6 + 0.5) AS BIGINT)
               ELSE 0 END AS eq,
             CASE WHEN s.nd > 1 AND $vr > 0.0
               THEN CAST(floor($sd * 4.0 * 1e6 + 0.5) AS BIGINT)
               ELSE 0 END AS hq
           FROM cp_c c JOIN cp_s s USING (event_type)),
         cp_w1 AS (SELECT event_type, day, n_events, healthy, hq,
             sum(dq) OVER win AS p, sum(eq) OVER win AS e
           FROM cp_d
           WINDOW win AS (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         cp_w2 AS (SELECT event_type, day, n_events, healthy, hq,
             p - least(min(p) OVER win, 0) AS cusp,
             greatest(max(e) OVER win, 0) - e AS cusn
           FROM cp_w1
           WINDOW win AS (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_type, day, n_events,
           CASE WHEN healthy THEN ${roundToSql("CAST(cusp AS DOUBLE) / 1e6", 6)} END AS cusum_pos,
           CASE WHEN healthy THEN ${roundToSql("CAST(cusn AS DOUBLE) / 1e6", 6)} END AS cusum_neg,
           CASE WHEN healthy THEN cusp > hq END AS shift_up,
           CASE WHEN healthy THEN cusn > hq END AS shift_down
         FROM cp_w2 ORDER BY event_type, day"""
    }),
    QuerySpec("evt_gap_profile", Scale10x)((s, dir) =>
      // Sessionization-timeout advisor: inter-event gap distribution
      // over human-scale buckets with cumulative share — one event
      // scan (user-keyed lead window), ≤ 7-row rollup.
      graft.operators.EventAnalytics.gapProfile(events(s, dir),
        "user_id", "ts_us", "event_id"))(
      s"""WITH gp_g AS (SELECT epoch_us(ts) AS tu,
           lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
         FROM events),
         gp_s AS (SELECT (nxt - tu) // 1000000 AS gap_s FROM gp_g WHERE nxt IS NOT NULL),
         gp_b AS (SELECT CASE WHEN gap_s < 1 THEN 0 WHEN gap_s < 10 THEN 1
             WHEN gap_s < 60 THEN 2 WHEN gap_s < 300 THEN 3 WHEN gap_s < 1800 THEN 4
             WHEN gap_s < 14400 THEN 5 ELSE 6 END AS bucket FROM gp_s),
         gp_c AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_gaps
           FROM gp_b GROUP BY bucket)
         SELECT bucket,
           CASE bucket WHEN 0 THEN '<1s' WHEN 1 THEN '<10s' WHEN 2 THEN '<1m'
             WHEN 3 THEN '<5m' WHEN 4 THEN '<30m' WHEN 5 THEN '<4h'
             ELSE '>=4h' END AS label,
           n_gaps,
           ${roundToSql("CAST(n_gaps AS DOUBLE) / CAST(sum(n_gaps) OVER () AS DOUBLE)", 6)} AS share,
           ${roundToSql("CAST(sum(n_gaps) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / CAST(sum(n_gaps) OVER () AS DOUBLE)", 6)} AS cum_share
         FROM gp_c ORDER BY bucket"""),
    QuerySpec("evt_active_users", Scale10x,
      PlanDoc("checkpointed result (one event scan via persisted distinct (user,day) frame); shape audited on the checkpoint job's plan"))((s, dir) =>
      // DAU/WAU/stickiness board: events reduce once to the
      // persisted distinct (user, day) frame; the trailing window is
      // a broadcast interval join fanning <= 7 slim rows per
      // (user, day) — event-volume-independent.
      graft.operators.EventAnalytics.activeUsers(
          events(s, dir), "user_id", "ts_us", windowDays = 7)
        .orderBy("day"))(
      s"""WITH au AS (SELECT DISTINCT user_id AS u,
           epoch_us(ts) // 86400000000 AS day FROM events),
         ad AS (SELECT DISTINCT day AS anchor FROM au),
         dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM au GROUP BY day),
         wau AS (SELECT anchor, CAST(count(DISTINCT u) AS BIGINT) AS wau
           FROM au JOIN ad ON au.day <= ad.anchor AND au.day > ad.anchor - 7
           GROUP BY anchor)
         SELECT d.day, d.dau, w.wau,
           ${roundToSql("CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE)", 6)} AS stickiness
         FROM dau d JOIN wau w ON d.day = w.anchor ORDER BY d.day"""),
    QuerySpec("evt_conversion_lag",
      PlanDoc("type filters pushed to both scans; one user-keyed equi-join; window only over the bounded hour-bucket table"))((s, dir) =>
      // signup -> purchase time-to-convert histogram: two user-keyed
      // min-aggs + one equi-join on slim rows, exact-hour buckets,
      // windows only over the bounded bucket table.
      graft.operators.EventAnalytics.conversionLag(
          events(s, dir), "user_id", "event_type", "ts_us",
          fromType = "signup", toType = "purchase"))(
      s"""WITH cl_a AS (SELECT user_id AS u, min(epoch_us(ts)) AS ta
           FROM events WHERE event_type = 'signup' GROUP BY 1),
         cl_b AS (SELECT e.user_id AS u, min(epoch_us(e.ts) - a.ta) AS lag_us
           FROM events e JOIN cl_a a ON e.user_id = a.u
           WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= a.ta GROUP BY 1),
         cl_h AS (SELECT lag_us // 3600000000 AS lag_hours,
             CAST(count(*) AS BIGINT) AS n_users FROM cl_b GROUP BY 1)
         SELECT lag_hours, n_users,
           CAST(sum(n_users) OVER (ORDER BY lag_hours) AS BIGINT) AS cum_users,
           ${roundToSql("CAST(n_users AS DOUBLE) / CAST(sum(n_users) OVER () AS DOUBLE)", 6)} AS share
         FROM cl_h ORDER BY lag_hours"""),
    QuerySpec("evt_gini", Scale10x,
      PlanDoc("per-user counts map-side combined; global ranks via range-sort + zipWithIndex, never a single-partition window"))((s, dir) =>
      // Activity concentration: per-user counts + distributed
      // zipWithIndex ranks (no single-partition window); exact
      // decimal rank-weighted sums.
      graft.operators.EventAnalytics.activityConcentration(
        events(s, dir), "user_id"))(
      s"""WITH gc AS (SELECT user_id AS u, CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1),
         gr AS (SELECT c, CAST(row_number() OVER (ORDER BY c ASC, u ASC) AS BIGINT) AS r
           FROM gc),
         gm AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(c) AS tc,
             sum(r * c) AS src FROM gr),
         gk AS (SELECT n, tc, src, (n + 99) // 100 AS k FROM gm),
         gt AS (SELECT sum(c) AS topc FROM gr, gk WHERE gr.r > gk.n - gk.k)
         SELECT n AS n_users, CAST(tc AS BIGINT) AS n_events,
           ${roundToSql("(CAST(src AS DOUBLE) * 2.0 - (CAST(n AS DOUBLE) + 1.0) * CAST(tc AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(tc AS DOUBLE))", 6)} AS gini,
           CAST(k AS BIGINT) AS top1pct_users,
           ${roundToSql("CAST(topc AS DOUBLE) / CAST(tc AS DOUBLE)", 6)} AS top1pct_share
         FROM gk, gt"""),
    QuerySpec("evt_seasonality",
      PlanDoc("one 168-key map-side agg; broadcast grid + scalar cross join; chi terms vs uniform"))((s, dir) =>
      // 168-cell (dow, hour) temporal balance: one map-side agg,
      // broadcast grid, chi-square terms vs uniform.
      graft.operators.EventAnalytics.seasonality(events(s, dir), "ts_us"))(
      s"""WITH sc AS (SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
             (epoch_us(ts) // 3600000000) % 24 AS hour,
             CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         st AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM sc),
         sg AS (SELECT i // 24 AS dow, i % 24 AS hour FROM range(0, 168) t(i))
         SELECT sg.dow, sg.hour, CAST(coalesce(c, 0) AS BIGINT) AS n_events,
           ${roundToSql("CAST(coalesce(c, 0) AS DOUBLE) / CAST(tot AS DOUBLE)", 6)} AS share,
           ${roundToSql("(CAST(coalesce(c, 0) AS DOUBLE) - CAST(tot AS DOUBLE) / 168.0) * (CAST(coalesce(c, 0) AS DOUBLE) - CAST(tot AS DOUBLE) / 168.0) / (CAST(tot AS DOUBLE) / 168.0)", 6)} AS chi_term
         FROM sg LEFT JOIN sc ON sc.dow = sg.dow AND sc.hour = sg.hour
           CROSS JOIN st
         ORDER BY sg.dow, sg.hour"""),
    QuerySpec("evt_bots", Scale10x,
      PlanDoc("two stacked map-side aggs ((user,minute) then user); integer threshold compares; tag-don't-drop"))((s, dir) =>
      // Rate-based bot flags over exact per-minute buckets: two
      // map-side aggs, integer threshold compares, tag-don't-drop.
      graft.operators.EventAnalytics.botDetect(
        events(s, dir), "user_id", "ts_us",
        burstPerMinute = 30, sustainedPerMinute = 2, minEvents = 50))(
      s"""WITH bm AS (SELECT user_id, epoch_us(ts) // 60000000 AS minute,
             CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         bu AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
             CAST(count(*) AS BIGINT) AS active_minutes,
             CAST(max(c) AS BIGINT) AS max_per_minute
           FROM bm GROUP BY 1)
         SELECT user_id, n_events, active_minutes, max_per_minute,
           ${roundToSql("CAST(n_events AS DOUBLE) / CAST(active_minutes AS DOUBLE)", 6)} AS mean_rate,
           CASE WHEN max_per_minute >= 30 THEN 'burst'
             WHEN n_events >= 50 AND n_events >= active_minutes * 2 THEN 'sustained'
             ELSE 'ok' END AS verdict
         FROM bu ORDER BY user_id"""),
    QuerySpec("evt_lifecycle", Scale10x,
      PlanDoc("checkpointed result (one user-keyed window over persisted distinct active days); shape audited on the checkpoint job's plan"))((s, dir) =>
      // Daily growth accounting (new/retained/resurrected/churned):
      // one user-keyed window over distinct active days, persisted
      // against the two-branch re-scan, day-keyed rollups.
      graft.operators.EventAnalytics.lifecycle(events(s, dir), "user_id", "ts_us"))(
      s"""WITH lau AS (SELECT DISTINCT user_id AS u,
           epoch_us(ts) // 86400000000 AS day FROM events),
         lm AS (SELECT u, day,
             lag(day) OVER (PARTITION BY u ORDER BY day) AS prev,
             lead(day) OVER (PARTITION BY u ORDER BY day) AS next
           FROM lau),
         lc AS (SELECT day,
             CAST(count(*) FILTER (WHERE prev IS NULL) AS BIGINT) AS n_new,
             CAST(count(*) FILTER (WHERE day - prev = 1) AS BIGINT) AS n_retained,
             CAST(count(*) FILTER (WHERE prev IS NOT NULL AND day - prev > 1) AS BIGINT) AS n_resurrected
           FROM lm GROUP BY day),
         lch AS (SELECT day + 1 AS day, CAST(count(*) AS BIGINT) AS n_churned
           FROM lm WHERE next IS NULL OR next > day + 1 GROUP BY 1)
         SELECT lc.day, n_new, n_retained, n_resurrected,
           CAST(coalesce(n_churned, 0) AS BIGINT) AS n_churned
         FROM lc LEFT JOIN lch ON lch.day = lc.day ORDER BY lc.day"""),
    QuerySpec("evt_trend", Scale10x,
      PlanDoc("two stacked map-side aggs over (type, day) counts; exact decimal regression sums, no window, no join"))((s, dir) =>
      // Per-type daily-volume linear trend: exact decimal regression
      // sums over the bounded (type, day) count table; no windows.
      graft.operators.EventAnalytics.volumeTrend(
        events(s, dir), "event_type", "ts_us"))(
      s"""WITH trd AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
           CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
         trm AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(c) AS BIGINT) AS total_events,
             sum(day) AS sx, sum(c) AS sy, sum(day * c) AS sxy,
             sum(day * day) AS sxx
           FROM trd GROUP BY 1)
         SELECT event_type, n_days, total_events,
           CASE WHEN n_days >= 2 AND n_days * sxx - sx * sx <> 0 THEN
             ${roundToSql("CAST(n_days * sxy - sx * sy AS DOUBLE) / CAST(n_days * sxx - sx * sx AS DOUBLE)", 6)}
           END AS slope_per_day,
           ${roundToSql("CAST(total_events AS DOUBLE) / CAST(n_days AS DOUBLE)", 6)} AS mean_per_day
         FROM trm ORDER BY event_type"""),
    QuerySpec("evt_regularity", Scale10x,
      PlanDoc("one user-keyed lag window over slim (user, ts) rows; exact gap moments map-side combined"))((s, dir) =>
      // Inter-event gap CV (metronomic-bot signal): one user-keyed
      // lag window over slim rows, exact gap moments, quantized CV.
      graft.operators.EventAnalytics.regularity(
        events(s, dir), "user_id", "ts_us", minEvents = 5, cvThreshold = 0.1))({
      val mean = "CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)"
      val cv = roundToSql(
        s"sqrt(greatest(CAST(sgg AS DOUBLE) / CAST(n_gaps AS DOUBLE) - ($mean) * ($mean), 0.0)) / ($mean)", 6)
      s"""WITH rge AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
         rgg AS (SELECT user_id,
             ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS gap
           FROM rge),
         rgm AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
             CAST(sum(gap) AS BIGINT) AS sg,
             sum(CAST(gap AS HUGEINT) * gap) AS sgg
           FROM rgg WHERE gap IS NOT NULL GROUP BY user_id)
         SELECT user_id, n_gaps,
           ${roundToSql(mean, 6)} AS mean_gap_us,
           CASE WHEN sg > 0 THEN $cv ELSE 0.0 END AS gap_cv,
           CASE WHEN sg = 0 OR (CASE WHEN sg > 0 THEN $cv ELSE 0.0 END) < 0.1
             THEN 'metronomic' ELSE 'organic' END AS verdict
         FROM rgm WHERE n_gaps >= 4 ORDER BY user_id"""
    }),
    QuerySpec("evt_cohort_ltv", Scale10x,
      PlanDoc("checkpointed result (persisted per-user first day feeds the age join and cohort sizes); shape audited on the checkpoint job's plan"))((s, dir) =>
      // Cohort LTV curves: persisted per-user first day feeds the age
      // join and the cohort-size count; cumulative window over the
      // span-bounded (cohort, age) table only.
      graft.operators.EventAnalytics.cohortLtv(
        events(s, dir), "user_id", "ts_us", "value"))(
      s"""WITH cle AS (SELECT user_id AS u, epoch_us(ts) // 86400000000 AS day,
           value AS v FROM events),
         clf AS (SELECT u, min(day) AS cohort FROM cle GROUP BY u),
         cls AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_users
           FROM clf GROUP BY cohort),
         clc AS (SELECT f.cohort, e.day - f.cohort AS age,
             CAST(count(DISTINCT e.u) AS BIGINT) AS n_active_users,
             ${roundToSql("sum(v)", 4)} AS revenue
           FROM cle e JOIN clf f ON e.u = f.u GROUP BY f.cohort, e.day - f.cohort)
         SELECT c.cohort, c.age, s.cohort_users, c.n_active_users, c.revenue,
           ${roundToSql("sum(revenue) OVER (PARTITION BY c.cohort ORDER BY c.age)", 4)} AS cum_revenue,
           ${roundToSql("sum(revenue) OVER (PARTITION BY c.cohort ORDER BY c.age) / CAST(cohort_users AS DOUBLE)", 6)} AS ltv
         FROM clc c JOIN cls s ON s.cohort = c.cohort
         ORDER BY c.cohort, c.age""")
  )
}
