package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge

/** Batch event-analytics operators over an event log
  * (user, event_type, timestamp): ordered conversion funnels and
  * cohort retention — the two standard product-analytics rollups a
  * training-data/telemetry warehouse runs beside the curation
  * pipeline.
  *
  * Scale contract (both operators):
  *  - every shuffle is keyed by the user column and carries only
  *    slim (user, long) rows — event payloads/props never move;
  *  - per-step state is ONE min-timestamp per user (map-side
  *    combined hash aggregation), never a per-user sorted event
  *    list and never a window over a user's full history — a
  *    10^6-event power user costs the same as a 2-event one;
  *  - the final rollups are O(steps) / O(cohorts × offsets) rows.
  *
  * Determinism: all timestamp math is integer micros; counts are
  * longs; the only doubles are single IEEE divisions of two exact
  * longs (bit-identical across engines).
  */
object EventAnalytics {

  /** Strict-order conversion funnel: for the step sequence
    * `steps(0) → steps(1) → … → steps(n-1)`, a user reaches step i
    * iff they have an event of type `steps(i)` STRICTLY after their
    * step-(i-1) completion time and within `horizonUs` micros of it
    * (the per-step conversion window). Step completion time is the
    * EARLIEST qualifying event — the standard strict-funnel
    * semantics (each step re-anchors the window).
    *
    * Returns one row per step:
    * (step, event_type, users, conv_from_first) ordered by step,
    * where conv_from_first = users ÷ users(step 1) as one exact
    * IEEE division (1.0 for the first step; 0/0 → null when the
    * funnel is empty).
    *
    * Plan shape: one slim per-user min-aggregation per step, chained
    * by equi-joins on the user key (every exchange hashes the same
    * key), then a single O(steps)-row unpivot — no windows, no
    * per-user event lists.
    */
  def funnel(events: DataFrame, userCol: String, typeCol: String, tsUsCol: String,
             steps: Seq[String], horizonUs: Long): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size,
      s"funnel steps must be distinct, got $steps")
    require(horizonUs > 0, s"horizonUs must be positive, got $horizonUs")
    val ev = events.select(col(userCol).as("u"), col(typeCol).as("et"),
      col(tsUsCol).cast("long").as("ts"))

    // t1 per user: earliest step-0 event. Each later step LEFT-joins
    // onto the accumulating per-user frame so non-converting users
    // keep their earlier columns (counted at their deepest step).
    var perUser = ev.filter(col("et") === steps.head)
      .groupBy("u").agg(min(col("ts")).as("t1"))
    for (i <- 2 to steps.size) {
      val prev = s"t${i - 1}"
      // Only this step's event type shuffles, already halved to
      // (u, ts); the join key equals the aggregation key so AQE can
      // reuse the exchange.
      val stepEv = ev.filter(col("et") === steps(i - 1)).select(col("u"), col("ts"))
      val reached = stepEv.join(perUser.select(col("u"), col(prev)), Seq("u"))
        .filter(col("ts") > col(prev) && col("ts") <= col(prev) + lit(horizonUs))
        .groupBy("u").agg(min(col("ts")).as(s"t$i"))
      perUser = perUser.join(reached.select(col("u"), col(s"t$i")), Seq("u"), "left")
    }

    // One single-row global rollup: reached-counts per step, then an
    // inline unpivot to (step, event_type, users, conv) rows —
    // conv_from_first divides inside the one-row frame, so no window
    // and no second pass.
    val counts = perUser.agg(
      count(col("t1")).as("c1"),
      (2 to steps.size).map(i => count(col(s"t$i")).as(s"c$i")): _*)
    val rows = steps.zipWithIndex.map { case (name, idx) =>
      struct(lit(idx + 1).as("step"), lit(name).as("event_type"),
        col(s"c${idx + 1}").as("users"),
        when(col("c1") > 0,
          col(s"c${idx + 1}").cast("double") / col("c1").cast("double"))
          .otherwise(lit(null).cast("double")).as("conv_from_first"))
    }
    counts.select(explode(array(rows: _*)).as("r"))
      .select(col("r.step"), col("r.event_type"), col("r.users"), col("r.conv_from_first"))
      .orderBy("step")
  }

  /** Weekly cohort retention: cohort = the calendar-free week index
    * (days-since-epoch ÷ 7, integer) of the user's FIRST event;
    * week_offset = whole weeks between an event's day and the user's
    * first day. Returns (cohort_week, week_offset, active_users,
    * cohort_size, retention) ordered by (cohort_week, week_offset),
    * where retention = active_users ÷ cohort_size as one exact IEEE
    * division (offset 0 is 1.0 by construction).
    *
    * Plan shape: per-user min-day aggregation (slim), re-join on the
    * user key, distinct on (cohort, offset, user) — an aggregation,
    * not a window — then an O(cohorts)-row self-join for cohort
    * sizes. Day/week indices are pure integer division of micros —
    * no timezone/calendar dependence to drift between engines.
    */
  def retention(events: DataFrame, userCol: String, tsUsCol: String): DataFrame = {
    // Integer `div`, not double `/`: micros-since-epoch (~1.7e15)
    // sits close enough to 2^53 that double round-trips are a trap.
    val ev = events.select(col(userCol).as("u"),
      col(tsUsCol).cast("long").as("ts_us"))
      .select(col("u"), expr("ts_us div 86400000000").as("day"))
    val firstDay = ev.groupBy("u").agg(min(col("day")).as("first_day"))
    val active = ev.join(firstDay, Seq("u"))
      .select(col("u"), expr("first_day div 7").as("cohort_week"),
        expr("(day - first_day) div 7").as("week_offset"))
      .distinct()
      .groupBy("cohort_week", "week_offset")
      .agg(count(col("u")).as("active_users"))
    val sizes = active.filter(col("week_offset") === 0L)
      .select(col("cohort_week"), col("active_users").as("cohort_size"))
    active.join(broadcast(sizes), Seq("cohort_week"))
      .withColumn("retention",
        col("active_users").cast("double") / col("cohort_size").cast("double"))
      .select("cohort_week", "week_offset", "active_users", "cohort_size", "retention")
      .orderBy("cohort_week", "week_offset")
  }

  /** Daily-volume anomaly detection per event type: z-score each
    * (type, day) count against the type's own mean/stddev over days,
    * flagging |z| ≥ `zThreshold` — the monitoring primitive that
    * catches a collapsed ingest, a bot burst, or a broken tracker in
    * a 100 TB event stream.
    *
    * Determinism: days are pure integer micros TRUNCATING division
    * (Spark `div` ≡ DuckDB `//` — both truncate toward zero, the
    * house day-bucket convention; identical to floor for the
    * non-negative epoch timestamps real event logs carry, and
    * pre-epoch timestamps bucket identically on both engines by
    * construction); the per-type moments (n, Σc, Σc²)
    * are exact integer aggregates of exact integer counts — Σc² in
    * DECIMAL(38,0), summation-order-immune and exact far beyond the
    * 2^53 double mantissa — and mean/variance/z are ONE fixed-shape
    * IEEE expression over them, bit-replicated by the oracle; z is
    * quantized to 1e-6 before the flag compare.
    *
    * Plan shape: ONE map-side-combined (type, day) count — the only
    * data-sized aggregation; per-type moments roll up the tiny count
    * table; stats broadcast back onto it. Window-free; a type with
    * one observed day (sd undefined) or zero variance yields NULL z
    * and never flags.
    */
  def dailyAnomalies(events: DataFrame, typeCol: String, tsUsCol: String,
                     zThreshold: Double = 2.0): DataFrame = {
    require(zThreshold > 0, s"zThreshold must be positive, got $zThreshold")
    val counts = events.select(col(typeCol).as("event_type"),
        expr(s"cast($tsUsCol as long) div 86400000000").as("day"))
      .groupBy("event_type", "day").agg(count("*").as("n_events"))
    val stats = counts.groupBy("event_type").agg(
      count("*").as("__nd"), sum("n_events").as("__s"),
      sum(col("n_events").cast("decimal(19,0)") * col("n_events").cast("decimal(19,0)"))
        .as("__q"))
    val m = col("__s").cast("double") / col("__nd").cast("double")
    val variance = (col("__q").cast("double") -
      col("__s").cast("double") * col("__s").cast("double") /
      col("__nd").cast("double")) / (col("__nd") - lit(1L)).cast("double")
    val sd = sqrt(variance)
    val z = graft.functions.MathFunctions.roundTo(
      (col("n_events").cast("double") - m) / sd, 6)
    counts.join(broadcast(stats), Seq("event_type"))
      // variance, not sd: a cancellation-negative variance makes sd
      // NaN, and NaN > 0.0 is TRUE under Spark's nan-safe ordering —
      // see the changepoint gate note below
      .withColumn("z", when(col("__nd") > 1L && variance > 0.0, z))
      .withColumn("is_anomaly", when(col("z").isNotNull, abs(col("z")) >= zThreshold))
      .select("event_type", "day", "n_events", "z", "is_anomaly")
  }

  /** Sessionization-timeout advisor: the distribution of per-user
    * inter-event gaps over human-scale buckets (<1s, <10s, <1m, <5m,
    * <30m, <4h, ≥4h) with per-bucket share and cumulative share — the
    * measurement behind the "30-minute session" constant every
    * sessionizer hardcodes. The right timeout is the valley after the
    * in-session mass; this reads it off the corpus instead of assuming
    * it (and the <1s bucket doubles as a bot signal, cf. [[botDetect]]).
    *
    * Determinism: gaps and bucket edges are exact integer micros
    * (truncating `div` to seconds, integer compares only); shares are
    * fixed-shape divisions of exact longs, 1e-6-quantized.
    *
    * Scale shape: one event scan through the user-keyed lead window
    * (the transitions/markov seam), rolled up map-side to ≤ 7 rows;
    * the share and cumulative windows run on that constant-size table.
    */
  def gapProfile(events: DataFrame, userCol: String, tsUsCol: String,
                 eventIdCol: String): DataFrame = {
    val rd = graft.functions.MathFunctions.roundTo _
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(tsUsCol, eventIdCol)
    val gaps = events
      .select(col(userCol).as("user_id"), col(tsUsCol), col(eventIdCol))
      .withColumn("__next", lead(col(tsUsCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .select((col("__next") - col(tsUsCol)).as("gap_us"))
    val gapS = expr("gap_us div 1000000")
    val bucket = when(gapS < 1L, 0).when(gapS < 10L, 1).when(gapS < 60L, 2)
      .when(gapS < 300L, 3).when(gapS < 1800L, 4).when(gapS < 14400L, 5)
      .otherwise(6)
    val labels = Seq("<1s", "<10s", "<1m", "<5m", "<30m", "<4h", ">=4h")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val wCum = org.apache.spark.sql.expressions.Window.partitionBy()
      .orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    gaps.select(bucket.as("bucket"))
      .groupBy("bucket").agg(count("*").as("n_gaps"))
      .select(col("bucket"),
        element_at(array(labels.map(lit): _*), col("bucket") + 1).as("label"),
        col("n_gaps"),
        rd(col("n_gaps").cast("double") /
          sum("n_gaps").over(wAll).cast("double"), 6).as("share"),
        rd(sum("n_gaps").over(wCum).cast("double") /
          sum("n_gaps").over(wAll).cast("double"), 6).as("cum_share"))
      .orderBy("bucket")
  }

  /** CUSUM change-point detection on the per-type daily count series —
    * the sequential complement to [[dailyAnomalies]]: a z-score flags
    * one outlier DAY, while the cumulative-sum statistic accumulates
    * small persistent shifts (a crawler source silently halving its
    * volume never trips a 2σ day test but walks the CUSUM straight
    * through the threshold). Standard two-sided form with drift
    * allowance `k·σ` and decision threshold `h·σ` (Page 1954 defaults
    * k=0.5, h=4).
    *
    * The recurrence `S⁺_t = max(0, S⁺_{t−1} + d_t)` is not a window
    * aggregate, but its closed form is: with P the prefix sum of d,
    * `S⁺_t = P_t − min(min_{j≤t} P_j, 0)` (and the downward statistic
    * mirrors via a running max) — so both sides are two stacked
    * windows over the SAME (type, day) ordering, one sort, no
    * recursion, no driver loop.
    *
    * Determinism: per-day deviations quantize to 1e-6 longs BEFORE
    * the prefix sums (the entropy pattern), so every running
    * sum/min/max and the threshold compare are exact integer
    * arithmetic; μ, σ, and the two quantized constants come from one
    * fixed-shape IEEE expression per type. Types with one day or zero
    * variance emit NULL statistics and flags.
    *
    * Scale shape: the event log reduces ONCE to the (type, day) count
    * table — map-side combined — and every window runs on that tiny
    * series partitioned by type; stats join back as a broadcast.
    */
  def changepoint(events: DataFrame, typeCol: String, tsUsCol: String,
                  driftK: Double = 0.5, thresholdH: Double = 4.0): DataFrame = {
    require(driftK >= 0, s"driftK must be non-negative, got $driftK")
    require(thresholdH > 0, s"thresholdH must be positive, got $thresholdH")
    val rd = graft.functions.MathFunctions.roundTo _
    val counts = events.select(col(typeCol).as("event_type"),
        expr(s"cast($tsUsCol as long) div 86400000000").as("day"))
      .groupBy("event_type", "day").agg(count("*").as("n_events"))
    val stats = counts.groupBy("event_type").agg(
      count("*").as("__nd"), sum("n_events").as("__s"),
      sum(col("n_events").cast("decimal(19,0)") * col("n_events").cast("decimal(19,0)"))
        .as("__q"))
    val m = col("__s").cast("double") / col("__nd").cast("double")
    val variance = (col("__q").cast("double") -
      col("__s").cast("double") * col("__s").cast("double") /
      col("__nd").cast("double")) / (col("__nd") - lit(1L)).cast("double")
    val sd = sqrt(variance)
    // gate on VARIANCE, not sd: q − s²/nd can round slightly negative
    // for large stable counts, sqrt then gives NaN, and NaN > 0.0 is
    // TRUE under Spark's nan-safe ordering (silently zeroed CUSUM)
    // while DuckDB would error on CAST(NaN AS BIGINT) — a loud-vs-
    // silent engine divergence; a negative variance must land in the
    // unhealthy NULL branch on both engines
    val healthy = col("__nd") > 1L && variance > lit(0.0)
    val x = col("n_events").cast("double")
    // quantized per-day deviations (up: x−μ−kσ; down side sums x−μ+kσ)
    val dq = floor((x - m - sd * lit(driftK)) * lit(1e6) + lit(0.5)).cast("long")
    val eq = floor((x - m + sd * lit(driftK)) * lit(1e6) + lit(0.5)).cast("long")
    val hq = floor(sd * lit(thresholdH) * lit(1e6) + lit(0.5)).cast("long")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
      .orderBy("day")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val series = counts.join(broadcast(stats), Seq("event_type"))
      .withColumn("__dq", when(healthy, dq).otherwise(lit(0L)))
      .withColumn("__eq", when(healthy, eq).otherwise(lit(0L)))
      .withColumn("__hq", when(healthy, hq).otherwise(lit(0L)))
      .withColumn("__p", sum("__dq").over(w))
      .withColumn("__e", sum("__eq").over(w))
      .withColumn("__cusp", col("__p") - least(min("__p").over(w), lit(0L)))
      .withColumn("__cusn", greatest(max("__e").over(w), lit(0L)) - col("__e"))
    series.select(col("event_type"), col("day"), col("n_events"),
      when(healthy, rd(col("__cusp").cast("double") / lit(1e6), 6)).as("cusum_pos"),
      when(healthy, rd(col("__cusn").cast("double") / lit(1e6), 6)).as("cusum_neg"),
      when(healthy, col("__cusp") > col("__hq")).as("shift_up"),
      when(healthy, col("__cusn") > col("__hq")).as("shift_down"))
  }

  /** First/last-touch attribution: for every `conversionType` event,
    * find the user's touch events (`touchTypes`) at-or-before the
    * conversion and within `lookbackUs` micros of it, and report the
    * EARLIEST (first-touch) and LATEST (last-touch) touch type plus
    * the touch count — the standard credit-assignment rollup over a
    * telemetry/event warehouse.
    *
    * Determinism: first/last are min/max over (ts, event_id, type)
    * STRUCTS — lexicographic, so simultaneous touches tie-break on
    * the unique event id and both engines agree bit-for-bit; all
    * window math is integer micros. Conversions with no qualifying
    * touch keep a row with NULL touch types and n_touches = 0.
    *
    * Plan shape: conversions and touches are two slim projections of
    * the same scan; ONE equi-join on the user key (the time predicate
    * rides the join) feeds a per-conversion min/max-struct hash
    * aggregation — map-side combined, no windows, no per-user sorted
    * event lists. The join's per-user fan-out is touches × conversions
    * for that user inside the lookback — bounded by the lookback for
    * any realistic activity rate; a pathological single-user firehose
    * is the `saltedJoin` case, not this operator's default.
    */
  def attribution(events: DataFrame, userCol: String, typeCol: String,
                  tsUsCol: String, idCol: String,
                  touchTypes: Seq[String], conversionType: String,
                  lookbackUs: Long): DataFrame = {
    require(touchTypes.nonEmpty, "attribution needs at least one touch type")
    require(!touchTypes.contains(conversionType),
      s"conversion type $conversionType cannot also be a touch type")
    require(lookbackUs > 0, s"lookbackUs must be positive, got $lookbackUs")
    val conv = events.filter(col(typeCol) === conversionType)
      .select(col(userCol).as("user_id"), col(idCol).as("conversion_id"),
        col(tsUsCol).cast("long").as("conv_ts"))
    val touch = events.filter(col(typeCol).isin(touchTypes: _*))
      .select(col(userCol).as("__tu"), col(idCol).as("touch_id"),
        col(typeCol).as("touch_type"), col(tsUsCol).cast("long").as("touch_ts"))
    val attributed = conv.join(touch,
        col("user_id") === col("__tu") &&
          col("touch_ts") <= col("conv_ts") &&
          col("conv_ts") - col("touch_ts") <= lit(lookbackUs))
      .groupBy("conversion_id")
      .agg(
        min(struct(col("touch_ts"), col("touch_id"), col("touch_type"))).as("__ft"),
        max(struct(col("touch_ts"), col("touch_id"), col("touch_type"))).as("__lt"),
        count("*").as("__n"))
    conv.join(attributed, Seq("conversion_id"), "left")
      .select(col("conversion_id"), col("user_id"),
        col("__ft.touch_type").as("first_touch"),
        col("__lt.touch_type").as("last_touch"),
        coalesce(col("__n"), lit(0L)).as("n_touches"))
  }

  /** Per-user event-type co-occurrence with lift (market-basket over
    * the event log): for every unordered type pair (a < b), the number
    * of users exhibiting BOTH, each type's user count, and
    * lift = P(a,b) / (P(a)·P(b)) over users — lift > 1 means the
    * behaviors attract, < 1 means they repel. The companion signal to
    * [[funnel]]/`transitions` when no step order is hypothesized.
    *
    * Scale shape: events reduce to DISTINCT (user, type) rows first —
    * ONE map-side-combined aggregation — so the self-join on the user
    * key fans out to at most |types|² rows per user regardless of how
    * many events the user has (a 10^6-event power user costs the same
    * as a 2-event one; the type DOMAIN is small by nature, it is the
    * event VOLUME that scales). Marginals and the user total are
    * type-cardinality / scalar frames broadcast onto the ≤ |types|²
    * pair rows. Lift is computed on exact longs with single IEEE
    * casts, quantized at 1e-6 — engine-portable.
    */
  def cooccurrence(events: DataFrame, userCol: String, typeCol: String): DataFrame = {
    val rd = graft.functions.MathFunctions.roundTo _
    // persisted: the distinct frame feeds four branches (marginals,
    // total, both self-join sides) which column-prune it differently —
    // without the cache their exchanges stop being identical,
    // ReuseExchange misses, and the event log is re-scanned up to 4×
    // (measured). Checkpoint the ≤ |types|² result, free the cache.
    val ut = events.select(col(userCol).as("u"), col(typeCol).as("et"))
      .distinct()
    CheckpointBridge.localCheckpointOver(ut) { ut =>
      val marg = ut.groupBy("et").agg(count("*").as("n_users"))
      val total = ut.agg(countDistinct("u").as("n_total"))
      val pairs = ut.as("a")
        .join(ut.as("b"),
          col("a.u") === col("b.u") && col("a.et") < col("b.et"))
        .groupBy(col("a.et").as("et_a"), col("b.et").as("et_b"))
        .agg(count("*").as("n_both"))
      pairs
        .join(broadcast(marg.select(col("et").as("et_a"), col("n_users").as("n_a"))), Seq("et_a"))
        .join(broadcast(marg.select(col("et").as("et_b"), col("n_users").as("n_b"))), Seq("et_b"))
        .crossJoin(broadcast(total)) // one scalar row
        .select(col("et_a"), col("et_b"), col("n_both"), col("n_a"), col("n_b"),
          rd(col("n_both").cast("double") * col("n_total").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")), 6).as("lift"))
    }
  }

  /** Ordered 3-step behavior paths (the length-3 extension of the
    * Markov `transitions` matrix): every consecutive event triple per
    * user, counted corpus-wide with its share of all triples — the
    * "what do users actually DO in sequence" mining step run before a
    * funnel hypothesis exists.
    *
    * Scale shape: the only data-sized operation is the user-keyed
    * sort window producing the two leads — partitioned by user, never
    * global — after which everything rolls up to the ≤ |types|³ path
    * table, and the share denominator is a window over THAT table (the
    * `transitions` precedent), so the events subtree executes exactly
    * once — a scalar cross-join denominator would re-run the scan +
    * window a second time. A path's existence needs its three events
    * to sit consecutively in ONE user's timeline, so the window state
    * per user is two lookahead rows.
    */
  def paths(events: DataFrame, userCol: String, typeCol: String,
      tsUsCol: String, eventIdCol: String): DataFrame = {
    val rd = graft.functions.MathFunctions.roundTo _
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(userCol).orderBy(tsUsCol, eventIdCol)
    val triples = events
      .select(col(userCol), col(tsUsCol), col(eventIdCol),
        col(typeCol).as("e1"))
      .withColumn("e2", lead("e1", 1).over(w))
      .withColumn("e3", lead("e1", 2).over(w))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy("e1", "e2", "e3")
      .agg(count("*").as("n"))
    // single-partition window over <= |types|^3 aggregated rows only
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    triples.select(col("e1"), col("e2"), col("e3"), col("n"),
      rd(col("n").cast("double") / sum("n").over(wAll).cast("double"), 6).as("share"))
  }

  /** Per-user behavioral surprisal under the corpus' own first-order
    * Markov model: train the Laplace-smoothed transition matrix
    * `p(to|from) = (n_ft + 1) / (n_f + V)` on every consecutive event
    * pair, then score each user by the mean negative log-likelihood of
    * THEIR transitions — the sequence-model twin of [[botDetect]]'s
    * rate heuristics: scripted users walk high-probability loops
    * (low surprisal), while compromised / adversarial sessions take
    * transitions the corpus rarely takes (high surprisal). Users with
    * fewer than two events have no transitions and are absent.
    *
    * Determinism (the entropy pattern): each distinct transition's
    * `ln((n_f + V) / (n_ft + 1))` is quantized to a 1e-6 long on the
    * ≤ |types|² matrix rows BEFORE any weighted sum, so the per-user
    * accumulation is exact integer arithmetic on any engine and the
    * one IEEE division happens per OUTPUT row in a fixed shape.
    *
    * Scale shape: the event log is scanned ONCE — the user-keyed lead
    * window (never global) feeds a map-side-combined rollup to the
    * slim (user, from, to, n) frame, ≤ users·|types|² rows, which is
    * persisted because both the matrix branch and the scoring branch
    * consume it (the rfm ReuseExchange lesson). The matrix itself is
    * ≤ |types|² rows and joins back as a broadcast; the vocabulary
    * size V is a one-row cross join. Output is user-sized,
    * checkpointed so the cache frees before returning.
    */
  def markovSurprisal(events: DataFrame, userCol: String, typeCol: String,
      tsUsCol: String, eventIdCol: String): DataFrame = {
    val rd = graft.functions.MathFunctions.roundTo _
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(tsUsCol, eventIdCol)
    val uft = events
      .select(col(userCol).as("user_id"), col(tsUsCol), col(eventIdCol),
        col(typeCol).as("from_event"))
      .withColumn("to_event", lead("from_event", 1).over(w))
      .filter(col("to_event").isNotNull)
      .groupBy("user_id", "from_event", "to_event")
      .agg(count("*").as("n_uft"))
    CheckpointBridge.localCheckpointOver(uft) { uft =>
      val matrix = uft.groupBy("from_event", "to_event").agg(sum("n_uft").as("n_ft"))
      val fromTotals = matrix.groupBy("from_event").agg(sum("n_ft").as("n_f"))
      // count_distinct ignores NULL types, matching SQL COUNT(DISTINCT)
      val vocab = events.agg(count_distinct(col(typeCol)).as("v"))
      // per-transition quantized surprisal on the tiny matrix: one ln of
      // a ratio of exact integers, floored to 1e-6 — identical on any
      // engine up to a boundary-straddling ulp (the entropy precedent)
      val termed = matrix.join(fromTotals, "from_event").crossJoin(broadcast(vocab))
        .withColumn("term_q",
          floor(log((col("n_f") + col("v")).cast("double") /
            (col("n_ft") + lit(1L)).cast("double")) * lit(1e6) + lit(0.5)).cast("long"))
        .select("from_event", "to_event", "term_q")
      uft.join(broadcast(termed), Seq("from_event", "to_event"))
        .groupBy("user_id")
        // decimal BEFORE the multiply (mirrors the oracle's HUGEINT cast):
        // a long×long product can wrap past 2⁶³ for extreme per-user
        // transition counts; widening an operand first keeps the per-row
        // product AND the per-user total exact at 100 TB volumes
        .agg(sum(col("n_uft")).as("n_trans"),
          sum(col("n_uft").cast("decimal(38,0)") * col("term_q")).as("sum_q"))
        .select(col("user_id"), col("n_trans"),
          rd(col("sum_q").cast("double") / col("n_trans").cast("double") / lit(1e6), 6)
            .as("surprisal"))
    }
  }

  /** RFM segmentation (recency / frequency / monetary) — the
    * classic user-value rollup: per user, whole days since their last
    * event (relative to the corpus' newest event), event count, and
    * value sum, plus a four-way segment verdict against the corpus
    * MEANS. The verdict compares INTEGERS only — `r · n_users ≤ Σr`
    * is exactly `r ≤ mean(r)` without ever forming the IEEE quotient,
    * so the boundary users land identically on any engine and any
    * partitioning (the `monetary` double is reported, quantized, but
    * deliberately kept OUT of the verdict).
    *
    * Scale shape: events are scanned ONCE — the map-side-combined
    * per-user aggregation is persisted and every corpus scalar
    * (max ts + Σf + user count, then Σr which needs the max first)
    * is an aggregate over that cached user-sized frame, broadcast
    * back as one-row cross-joins. Without the persist the three uses
    * column-prune the per-user aggregate differently, the exchanges
    * stop being identical, ReuseExchange no longer fires, and the
    * plan re-scans the event log up to 4× (measured). The result is
    * checkpointed so the cache can be freed before returning. No
    * windows, no quantiles — mean cutoffs keep everything one pass.
    */
  def rfm(events: DataFrame, userCol: String, tsUsCol: String,
      valueCol: String): DataFrame = {
    val rd = graft.functions.MathFunctions.roundTo _
    val perUser = events.groupBy(col(userCol).as("user_id"))
      .agg(max(col(tsUsCol)).as("last_ts"),
        count("*").as("frequency"),
        sum(col(valueCol)).as("m_raw"))
    CheckpointBridge.localCheckpointOver(perUser) { perUser =>
      val scal = perUser.agg(max(col("last_ts")).as("corpus_max"),
        sum("frequency").as("tot_f"), count("*").as("n_users"))
      val withR = perUser.crossJoin(broadcast(scal)) // one scalar row
        .select(col("user_id"),
          // integer `div`, not `/`: the IEEE quotient of two ~1e15
          // micros values can land one ulp under an exact day multiple
          // and truncate to k−1 — the oracle's integer division never does
          expr("(corpus_max - last_ts) div 86400000000").as("recency_days"),
          col("frequency"), col("m_raw"), col("tot_f"), col("n_users"))
      val totR = withR.agg(sum("recency_days").as("tot_r"))
      withR.crossJoin(broadcast(totR)) // one scalar row
        .select(col("user_id"), col("recency_days"), col("frequency"),
          // 4 dp like every sum-of-double oracle column here: the wider
          // quantum absorbs partition-order FP drift
          rd(col("m_raw"), 4).as("monetary"),
          when(col("recency_days") * col("n_users") <= col("tot_r"),
            when(col("frequency") * col("n_users") >= col("tot_f"), "core")
              .otherwise("casual"))
            .otherwise(
              when(col("frequency") * col("n_users") >= col("tot_f"), "lapsed_heavy")
                .otherwise("dormant")).as("segment"))
    }
  }

  /** Daily + rolling-window active users (the DAU/WAU board): for
    * every day observed in the log, the count of distinct users
    * active that day and the count of distinct users active in the
    * trailing `windowDays`-day window ending that day, plus the
    * stickiness ratio dau ÷ wau — the engagement rollup every event
    * warehouse runs daily, and the one naive windowed
    * `count_distinct` cannot express (distinct does not slide).
    *
    * Plan shape: events reduce ONCE to the distinct slim
    * (user, day) frame — the only data-sized aggregation — which is
    * persisted + checkpointed because it feeds two branches (the
    * per-day count and the window fan-out) that would otherwise
    * each re-scan the event log (the ReuseExchange differently-
    * pruned-subtree miss, measured on `evt_rfm`). The trailing
    * window is a bounded EXPLODE of that slim frame — each
    * (user, day) row fans out to exactly `windowDays` candidate
    * anchors, independent of event volume (anchors on days with no
    * events drop out at the dau join) — then one distinct-count
    * keyed by anchor day. A 10^6-event power user costs exactly
    * `active_days × windowDays` slim rows.
    *
    * Determinism: days are exact integer micros truncating division
    * (Spark `div` ≡ DuckDB `//`, the house day-bucket convention);
    * counts are longs; stickiness is one IEEE division of two exact
    * longs, 1e-6-quantized. Days with zero events are absent by
    * construction (no calendar densification — the wau of an
    * observed day still looks back across unobserved gap days
    * because the anchor list, not the activity list, defines the
    * window).
    */
  def activeUsers(events: DataFrame, userCol: String, tsUsCol: String,
      windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"windowDays=$windowDays must be >= 1")
    val rd = graft.functions.MathFunctions.roundTo _
    val au = events.select(col(userCol).as("u"),
        expr(s"cast($tsUsCol as long) div 86400000000").as("day"))
      .distinct()
    CheckpointBridge.localCheckpointOver(au) { au =>
      val dau = au.groupBy("day").agg(count("*").as("dau"))
      // Trailing window via a BOUNDED EXPLODE of the ≤ windowDays anchor
      // days each (user, day) row can contribute to — r15 rewrite of the
      // former `au ⨯ broadcast(days)` interval join, whose
      // BroadcastNestedLoopJoin compared every slim row against every
      // observed day (|au|·|days| struct comparisons, measured ~14 CPU-s
      // at sf0.1 vs the explode's |au|·windowDays rows). Equivalence:
      // the NLJ produced exactly the pairs {(row, anchor) : anchor ∈
      // observed days, day ≤ anchor < day+windowDays}; the explode
      // produces the superset over ALL integer anchors in
      // [day, day+windowDays) — the extra (non-observed-day) anchors
      // form wau groups with no dau partner and are dropped by the
      // inner join below, so the surviving rows and their distinct-user
      // counts are identical. Strictly better at any scale: the explode
      // fan-out is volume-independent (the docstring's ≤ windowDays slim
      // rows, now literally the plan) and no broadcast is built.
      val wau = au
        .select(col("u"), explode(sequence(col("day"),
          col("day") + lit(windowDays.toLong - 1L))).as("anchor"))
        .groupBy("anchor").agg(countDistinct("u").as("wau"))
      dau.join(wau, col("day") === col("anchor"))
        .select(col("day"), col("dau"), col("wau"),
          rd(col("dau").cast("double") / col("wau").cast("double"), 6).as("stickiness"))
    }
  }

  /** Time-to-convert distribution: for every user whose FIRST
    * `fromType` event is followed (at or after it) by a `toType`
    * event, the lag from that first `fromType` to the EARLIEST
    * qualifying `toType`, bucketed to whole hours — the
    * "how long does signup → purchase take" histogram that sizes a
    * funnel's conversion window (`horizonUs` in [[funnel]]) from
    * data instead of guesswork. Returns one row per non-empty hour
    * bucket: (lag_hours, n_users, cum_users, share) ordered by
    * lag_hours, where share = n_users ÷ total converters.
    *
    * Plan shape: one map-side-combined min per user over the
    * `fromType` slice; one user-keyed equi-join of THAT slim
    * (user, ts) frame against only the `toType` slice (both type
    * filters sit in the scan); one min per user; one count per
    * bucket. No windows over event history — the only window is the
    * running sum over the AGGREGATED bucket table, whose row count
    * is bounded by the corpus time span in hours, not by volume.
    *
    * Determinism: lag is exact integer micros; the bucket is integer
    * truncating division (≡ floor here — lags are non-negative by
    * the `>=` filter);
    * share is one IEEE division of exact longs, 1e-6-quantized.
    */
  def conversionLag(events: DataFrame, userCol: String, typeCol: String,
      tsUsCol: String, fromType: String, toType: String): DataFrame = {
    val rd = graft.functions.MathFunctions.roundTo _
    val ev = events.select(col(userCol).as("u"), col(typeCol).as("et"),
      col(tsUsCol).cast("long").as("ts_us"))
    val firstFrom = ev.filter(col("et") === fromType)
      .groupBy("u").agg(min("ts_us").as("ta"))
    val lags = ev.filter(col("et") === toType)
      .join(firstFrom, Seq("u"))
      .filter(col("ts_us") >= col("ta"))
      .groupBy("u").agg(min(col("ts_us") - col("ta")).as("lag_us"))
    val buckets = lags
      .select(expr("lag_us div 3600000000").as("lag_hours"))
      .groupBy("lag_hours").agg(count("*").as("n_users"))
    // single-partition window over the bounded bucket table only
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("lag_hours")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    buckets
      .select(col("lag_hours"), col("n_users"),
        sum("n_users").over(w).as("cum_users"),
        rd(col("n_users").cast("double") /
          sum("n_users").over(wAll).cast("double"), 6).as("share"))
      .orderBy("lag_hours")
  }

  /** Activity-concentration rollup: the Gini coefficient of per-user
    * event counts plus the share of all events produced by the top 1%
    * most active users — the "is this log a few bots talking to
    * themselves" health scalar. A corpus whose gini drifts toward 1
    * (or whose top-1% share explodes) is dominated by a handful of
    * accounts and every downstream per-event statistic silently
    * becomes a statistic about those accounts. Returns ONE row:
    * (n_users, n_events, gini, top1pct_users, top1pct_share).
    *
    * Gini = (2·Σ rᵢcᵢ − (n+1)·Σc) / (n·Σc) with counts sorted
    * ascending and ranked 1..n. Ties: within a block of equal counts
    * Σ rᵢcᵢ = c·Σrᵢ and the rank-sum of a block is fixed regardless
    * of intra-block order, so the coefficient is tie-order-invariant;
    * the (count, user) total order exists only to make the ranked
    * frame itself deterministic. All-equal counts ⇒ 0; one user owns
    * everything ⇒ (n−1)/n.
    *
    * Scale shape: events reduce to per-user counts (ONE map-side
    * combined aggregation — the only data-sized shuffle). Global
    * ranks over the users-sized frame come from
    * `orderBy + RDD.zipWithIndex` — the house R1 sharding pattern:
    * a range-partitioned sort plus one count pass, NO single-partition
    * window, so it holds at any user cardinality. The rank-weighted
    * sums are exact decimal(38,0) (Σ rᵢcᵢ ≤ n²·max c overflows a
    * long at ~10⁹ users; DuckDB's HUGEINT sums mirror it exactly);
    * the two output ratios are fixed-shape IEEE over those exact
    * integers, 1e-6-quantized.
    */
  def activityConcentration(events: DataFrame, userCol: String): DataFrame = {
    val spark = events.sparkSession
    val rd = graft.functions.MathFunctions.roundTo _
    val uc = events.groupBy(col(userCol).as("u")).agg(count("*").as("c"))
      .orderBy(col("c").asc, col("u").asc)
    // distributed global ranks: range-partitioned sort + zipWithIndex
    // (per-partition offsets) — never a single-partition window
    val schema = org.apache.spark.sql.types.StructType(uc.schema.fields :+
      org.apache.spark.sql.types.StructField("r",
        org.apache.spark.sql.types.LongType, nullable = false))
    val ranked = spark.createDataFrame(
      uc.rdd.zipWithIndex().map { case (row, i) =>
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (i + 1L))
      }, schema)
    val dec = "decimal(38,0)"
    val m = ranked.agg(count("*").as("n"), sum("c").as("tc"),
      sum(col("r").cast(dec) * col("c").cast(dec)).as("src"))
    // top 1% = ceil(n/100) users = ascending ranks above n - k
    val scal = m.select(col("n"), col("tc"), col("src"),
      expr("(n + 99) div 100").as("k"))
    val topc = ranked.crossJoin(broadcast(scal)) // one scalar row
      .filter(col("r") > col("n") - col("k"))
      .agg(sum("c").as("topc"))
    scal.crossJoin(broadcast(topc)) // two one-row frames
      .select(col("n").as("n_users"), col("tc").as("n_events"),
        rd((col("src").cast("double") * 2.0 -
            (col("n").cast("double") + 1.0) * col("tc").cast("double")) /
          (col("n").cast("double") * col("tc").cast("double")), 6).as("gini"),
        col("k").as("top1pct_users"),
        rd(col("topc").cast("double") / col("tc").cast("double"), 6)
          .as("top1pct_share"))
  }

  /** Temporal-balance profile: event counts per (day-of-week,
    * hour-of-day) UTC cell — all 168 cells, zeros included — with each
    * cell's corpus share and its chi-square term against the uniform
    * expectation total/168. A training-data event log whose chi terms
    * spike on one cell was collected through a scheduler artifact
    * (cron bursts, backfill replays), not organic traffic, and
    * time-based splits of it will leak. Returns 168 rows:
    * (dow, hour, n_events, share, chi_term) — Σ chi_term is the
    * uniformity statistic, left to the reader so the per-cell
    * attribution stays visible.
    *
    * Epoch day 0 (1970-01-01) is a Thursday: dow = (day + 4) mod 7
    * with 0 = Sunday.
    *
    * Scale shape: ONE map-side combined aggregation keyed by the
    * 168-valued (dow, hour) pair — partials collapse to ≤ 168 rows
    * per task before the shuffle regardless of event volume — then a
    * broadcast join onto the static 168-row grid (empty cells keep
    * their smoothed-free exact 0) and scalar total via a one-row
    * cross join. Counts are exact longs; share and chi_term are
    * fixed-shape IEEE over exact longs, 1e-6-quantized.
    */
  def seasonality(events: DataFrame, tsUsCol: String): DataFrame = {
    val spark = events.sparkSession
    val rd = graft.functions.MathFunctions.roundTo _
    val cells = events
      .select(pmod(expr(s"cast($tsUsCol as long) div 86400000000") + 4L,
          lit(7L)).as("dow"),
        pmod(expr(s"cast($tsUsCol as long) div 3600000000"), lit(24L)).as("hour"))
      .groupBy("dow", "hour").agg(count("*").as("c"))
    val grid = spark.range(168).select(expr("id div 24").as("dow"),
      pmod(col("id"), lit(24L)).as("hour"))
    val tot = cells.agg(sum("c").as("tot"))
    grid.join(broadcast(cells), Seq("dow", "hour"), "left")
      .crossJoin(broadcast(tot)) // one scalar row
      .select(col("dow"), col("hour"),
        coalesce(col("c"), lit(0L)).as("n_events"),
        rd(coalesce(col("c"), lit(0L)).cast("double") /
          col("tot").cast("double"), 6).as("share"),
        rd({
          val obs = coalesce(col("c"), lit(0L)).cast("double")
          val exp = col("tot").cast("double") / 168.0
          (obs - exp) * (obs - exp) / exp
        }, 6).as("chi_term"))
      .orderBy("dow", "hour")
  }

  /** Per-type volume trend — the least-squares slope of daily event
    * counts over the calendar, per event type: the growth/decay
    * scalar [[dailyAnomalies]]' z-scores can't give (a type can be
    * anomaly-free while quietly decaying 3% a day — exactly the drift
    * a collection pipeline wants paged on). Returns one row per type:
    * (event_type, n_days, total_events, slope_per_day, mean_per_day)
    * with slope null when fewer than 2 active days.
    *
    * Determinism/portability: days are exact integer micros
    * truncating division (Spark `div` ≡ DuckDB `//`, the house
    * day-bucket convention); the regression runs on (day, count) pairs with
    * both coordinates exact longs, accumulated as decimal(38,0)
    * (Σxy at 10⁹-scale day indices squares past 2⁵³; DuckDB HUGEINT
    * mirrors); the slope is one fixed-shape IEEE expression over the
    * exact sums, 1e-6-quantized — the [[TextAnalysis.zipfStats]]
    * regression convention without the log transform.
    *
    * Scale shape: ONE map-side combined (type, day) count — partials
    * collapse to ≤ types·days rows per task — then a second
    * aggregation per type over the bounded count table. No windows,
    * no joins.
    */
  def volumeTrend(events: DataFrame, typeCol: String, tsUsCol: String): DataFrame = {
    val rd = graft.functions.MathFunctions.roundTo _
    val dec = "decimal(38,0)"
    val daily = events.select(col(typeCol).as("event_type"),
        expr(s"cast($tsUsCol as long) div 86400000000").as("day"))
      .groupBy("event_type", "day").agg(count("*").as("c"))
    val m = daily.groupBy("event_type").agg(
      count("*").as("n_days"), sum("c").as("total_events"),
      sum(col("day").cast(dec)).as("__sx"),
      sum(col("c").cast(dec)).as("__sy"),
      sum(col("day").cast(dec) * col("c").cast(dec)).as("__sxy"),
      sum(col("day").cast(dec) * col("day").cast(dec)).as("__sxx"))
    val n = col("n_days").cast(dec)
    val den = n * col("__sxx") - col("__sx") * col("__sx")
    m.select(col("event_type"), col("n_days"), col("total_events"),
        when(col("n_days") >= 2L && den =!= 0,
          rd((n * col("__sxy") - col("__sx") * col("__sy")).cast("double") /
            den.cast("double"), 6)).as("slope_per_day"),
        rd(col("total_events").cast("double") / col("n_days").cast("double"), 6)
          .as("mean_per_day"))
      .orderBy("event_type")
  }

  /** Per-user inter-event regularity — the metronomic-bot signal
    * [[botDetect]]'s rate rules can't see: a scripted account firing
    * every 60.0 s has a gap coefficient-of-variation near 0, while a
    * human's gaps are wildly dispersed (CV ≳ 1). Returns one row per
    * user with ≥ `minEvents` events:
    * (user_id, n_gaps, mean_gap_us, gap_cv, verdict) where verdict is
    * `metronomic` when the 1e-6-quantized CV < `cvThreshold`, else
    * `organic`. Tag-don't-drop; the caller filters.
    *
    * Plan shape: ONE user-keyed lag window over the event times (the
    * [[paths]] precedent — the shuffle carries slim (user, ts) rows,
    * payload columns pruned), then one map-side combined per-user
    * moment aggregation. Gap moments are exact integers — Σgap fits
    * a long, Σgap² rides decimal(38,0) — and CV is one fixed-shape
    * IEEE expression over them (population variance), 1e-6-quantized,
    * so the threshold compares the same value on every engine.
    * Simultaneous events (gap 0) are real data and kept: a burst
    * dump reads CV 0 and flags, which is the point.
    */
  def regularity(events: DataFrame, userCol: String, tsUsCol: String,
      minEvents: Int = 5, cvThreshold: Double = 0.1): DataFrame = {
    require(minEvents >= 3, s"minEvents=$minEvents must be >= 3 (CV needs >= 2 gaps)")
    import org.apache.spark.sql.expressions.Window
    val rd = graft.functions.MathFunctions.roundTo _
    val dec = "decimal(38,0)"
    // ties in ts need no tie-breaker: consecutive diffs of a sorted
    // MULTISET are invariant under tie permutation (equal values
    // contribute gap 0 wherever they land), so the gap moments are
    // engine- and partitioning-immune
    val w = Window.partitionBy("user_id").orderBy("ts_us")
    val gaps = events.select(col(userCol).as("user_id"),
        col(tsUsCol).cast("long").as("ts_us"))
      .select(col("user_id"),
        (col("ts_us") - lag("ts_us", 1).over(w)).as("gap"))
      .filter(col("gap").isNotNull)
    val m = gaps.groupBy("user_id").agg(
      count("*").as("n_gaps"), sum("gap").as("__sg"),
      sum(col("gap").cast(dec) * col("gap").cast(dec)).as("__sgg"))
    val nD = col("n_gaps").cast("double")
    // population variance over exact sums; CV = sd / mean. greatest(,0)
    // guards the near-zero-variance case where the two IEEE paths to
    // the same exact value differ by one ulp and sqrt would read NaN
    val mean = col("__sg").cast("double") / nD
    val cv = rd(sqrt(greatest(col("__sgg").cast("double") / nD - mean * mean,
      lit(0.0))) / mean, 6)
    m.filter(col("n_gaps") >= (minEvents - 1).toLong)
      .select(col("user_id"), col("n_gaps"),
        rd(mean, 6).as("mean_gap_us"),
        when(col("__sg") > 0L, cv).otherwise(lit(0.0)).as("gap_cv"),
        when(col("__sg") === 0L ||
            (when(col("__sg") > 0L, cv).otherwise(lit(0.0)) < cvThreshold),
          "metronomic").otherwise("organic").as("verdict"))
      .orderBy("user_id")
  }

  /** Cohort LTV curves — revenue by (signup cohort × age): for every
    * acquisition-day cohort, the per-age active-user count, the day's
    * revenue, the running cumulative revenue, and LTV = cumulative
    * revenue ÷ cohort size. The companion to [[retention]]'s
    * user-count triangle when the question is "when does a cohort
    * pay back", and the standard way to compare acquisition batches
    * without waiting for them to finish maturing.
    *
    * Plan shape: per-user first day is ONE map-side-combined min,
    * persisted because it feeds two branches (the age join and the
    * cohort-size count — the ReuseExchange miss class); the event
    * join carries slim (user, day, value) rows keyed by user; the
    * (cohort, age) rollup is map-side combined; the cumulative
    * window runs over the span-bounded (cohort, age) table only,
    * never event history.
    *
    * Determinism: days and ages are exact integer micros truncating
    * division (Spark `div` ≡ DuckDB `//`); counts are longs; revenue is the house
    * sum-of-double convention (1e-4-quantized — the wider quantum
    * absorbs partition-order FP drift); the cumulative sum folds the
    * ALREADY-quantized per-age revenues in age order (same sequence
    * on any engine) and LTV is one IEEE division, 1e-6-quantized.
    */
  def cohortLtv(events: DataFrame, userCol: String, tsUsCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rd = graft.functions.MathFunctions.roundTo _
    val ev = events.select(col(userCol).as("u"),
      expr(s"cast($tsUsCol as long) div 86400000000").as("day"),
      col(valueCol).cast("double").as("v"))
    val first = ev.groupBy("u").agg(min("day").as("cohort"))
    CheckpointBridge.localCheckpointOver(first) { first =>
      val sizes = first.groupBy("cohort").agg(count("*").as("cohort_users"))
      val cells = ev.join(first, Seq("u"))
        .select(col("cohort"), (col("day") - col("cohort")).as("age"), col("u"), col("v"))
        .groupBy("cohort", "age")
        .agg(countDistinct("u").as("n_active_users"),
          rd(sum("v"), 4).as("revenue"))
      val w = Window.partitionBy("cohort").orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
      cells.join(broadcast(sizes), Seq("cohort"))
        .select(col("cohort"), col("age"), col("cohort_users"),
          col("n_active_users"), col("revenue"),
          rd(sum("revenue").over(w), 4).as("cum_revenue"),
          rd(sum("revenue").over(w) / col("cohort_users").cast("double"), 6).as("ltv"))
        .orderBy("cohort", "age")
    }
  }

  /** Daily growth accounting — the new / retained / resurrected /
    * churned user rollup every engagement dashboard leads with, and
    * the decomposition DAU alone can't give (flat DAU can be healthy
    * retention or a churn-for-new treadmill; only this split tells
    * them apart). Per observed activity day:
    *  - n_new: users whose FIRST active day is this day;
    *  - n_retained: users also active the previous calendar day;
    *  - n_resurrected: users returning after a gap of 2+ days;
    *  - n_churned: users active the previous day but not this day
    *    (credited to the first inactive day; churn landing on a day
    *    with no corpus activity at all has no output row to land on
    *    and is dropped with it — documented, deterministic).
    *
    * Plan shape: events reduce ONCE to the distinct slim (user, day)
    * frame; ONE user-keyed window computes lag/lead over each user's
    * ACTIVE DAYS (bounded by the corpus day span, event-volume
    * independent — a 10⁶-event day is one row). The windowed frame is
    * persisted because the classification and churn branches prune it
    * differently (the ReuseExchange miss class), then two day-keyed
    * counts join on the observed-day grid. All day arithmetic is
    * exact integer micros truncating division (Spark `div` ≡ DuckDB
    * `//`, the house day-bucket convention); counts are longs.
    */
  def lifecycle(events: DataFrame, userCol: String, tsUsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val au = events.select(col(userCol).as("u"),
        expr(s"cast($tsUsCol as long) div 86400000000").as("day"))
      .distinct()
    val w = Window.partitionBy("u").orderBy("day")
    val marked = au.select(col("u"), col("day"),
      lag("day", 1).over(w).as("prev"),
      lead("day", 1).over(w).as("next"))
    CheckpointBridge.localCheckpointOver(marked) { marked =>
      val classes = marked.groupBy("day").agg(
        count(when(col("prev").isNull, 1)).as("n_new"),
        count(when(col("day") - col("prev") === 1L, 1)).as("n_retained"),
        count(when(col("prev").isNotNull && col("day") - col("prev") > 1L, 1))
          .as("n_resurrected"))
      val churn = marked
        .filter(col("next").isNull || col("next") > col("day") + 1L)
        .select((col("day") + 1L).as("day"))
        .groupBy("day").agg(count("*").as("n_churned"))
      classes.join(churn, Seq("day"), "left")
        .select(col("day"), col("n_new"), col("n_retained"), col("n_resurrected"),
          coalesce(col("n_churned"), lit(0L)).as("n_churned"))
        .orderBy("day")
    }
  }

  /** Rate-based bot detection: per-user activity-rate fingerprint
    * over exact per-minute buckets, with a two-rule verdict —
    * `burst` (any single minute at or above `burstPerMinute` events:
    * superhuman instantaneous rate) and `sustained` (at least
    * `minEvents` total AND a mean rate of `sustainedPerMinute`+
    * events per ACTIVE minute: scripted steady traffic) — the
    * account-level spam filter that per-event dedup can't express,
    * run before any engagement statistic is trusted. Tag-don't-drop:
    * every user is returned with
    * (user_id, n_events, active_minutes, max_per_minute, mean_rate,
    * verdict); the caller filters.
    *
    * Scale shape: two map-side combined aggregations — events reduce
    * to slim (user, minute, count) rows keyed by the (long, long)
    * pair, then to one row per user. A 10⁶-event burst in one minute
    * collapses to a single bucket row in the partial aggregation;
    * per-user state is four longs. No windows, no event-history
    * sorting. Thresholds compare exact integers
    * (`n ≥ rate·minutes` ⟺ `mean ≥ rate` without forming the IEEE
    * quotient); the reported mean_rate is one IEEE division of exact
    * longs, 1e-6-quantized.
    */
  def botDetect(events: DataFrame, userCol: String, tsUsCol: String,
      burstPerMinute: Int = 30, sustainedPerMinute: Int = 2,
      minEvents: Int = 50): DataFrame = {
    require(burstPerMinute >= 1 && sustainedPerMinute >= 1 && minEvents >= 1,
      s"thresholds must be >= 1: $burstPerMinute/$sustainedPerMinute/$minEvents")
    val rd = graft.functions.MathFunctions.roundTo _
    val perMinute = events
      .select(col(userCol).as("user_id"),
        expr(s"cast($tsUsCol as long) div 60000000").as("minute"))
      .groupBy("user_id", "minute").agg(count("*").as("c"))
    perMinute.groupBy("user_id")
      .agg(sum("c").as("n_events"), count("*").as("active_minutes"),
        max("c").as("max_per_minute"))
      .select(col("user_id"), col("n_events"), col("active_minutes"),
        col("max_per_minute"),
        rd(col("n_events").cast("double") /
          col("active_minutes").cast("double"), 6).as("mean_rate"),
        when(col("max_per_minute") >= burstPerMinute.toLong, "burst")
          .when(col("n_events") >= minEvents.toLong &&
            col("n_events") >= col("active_minutes") * sustainedPerMinute.toLong,
            "sustained")
          .otherwise("ok").as("verdict"))
      .orderBy("user_id")
  }
}
