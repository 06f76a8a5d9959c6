package graft

import org.apache.spark.sql.Row
import graft.operators.EventAnalytics

/** Hand-computed cases for the batch event-analytics operators
  * (funnel, retention). Timestamps are raw micros-since-epoch longs
  * so every expectation is arithmetic you can check by eye.
  */
class EventAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private val H = 1000L // 1 ms horizon keeps the numbers tiny

  private def funnelOn(rows: Seq[(Long, String, Long)]) =
    EventAnalytics.funnel(rows.toDF("u", "et", "ts"), "u", "et", "ts",
      Seq("a", "b", "c"), horizonUs = H).collect()

  test("funnel: strict ordering — a step event BEFORE the anchor does not count") {
    // user 1: b fires before its a → never reaches step 2.
    // user 2: clean a < b < c inside the horizon → reaches all 3.
    val out = funnelOn(Seq(
      (1L, "b", 50L), (1L, "a", 100L),
      (2L, "a", 100L), (2L, "b", 200L), (2L, "c", 300L)))
    assert(out.map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq ===
      Seq((1, "a", 2L), (2, "b", 1L), (3, "c", 1L)))
    // conv_from_first = users / users(step 1), one IEEE division
    assert(out.map(_.getDouble(3)).toSeq === Seq(1.0, 0.5, 0.5))
  }

  test("funnel: horizon boundary — ts = anchor + H converts, anchor + H + 1 does not") {
    val out = funnelOn(Seq(
      (1L, "a", 0L), (1L, "b", H),          // exactly on the boundary: in
      (2L, "a", 0L), (2L, "b", H + 1L)))    // one past: out
    assert(out.map(r => (r.getString(1), r.getLong(2))).toSeq ===
      Seq(("a", 2L), ("b", 1L), ("c", 0L)))
  }

  test("funnel: earliest qualifying event anchors the next step") {
    // user 1's first b is at 200; c at 200+H+1 relative to that b is
    // too late even though a LATER b (at 900) would have caught it —
    // strict funnels anchor on the earliest completion.
    val out = funnelOn(Seq(
      (1L, "a", 100L), (1L, "b", 200L), (1L, "b", 900L), (1L, "c", 200L + H + 1L)))
    assert(out.map(r => (r.getString(1), r.getLong(2))).toSeq ===
      Seq(("a", 1L), ("b", 1L), ("c", 0L)))
  }

  test("funnel: same-timestamp step event does NOT convert (strictly after)") {
    val out = funnelOn(Seq((1L, "a", 100L), (1L, "b", 100L)))
    assert(out.map(r => (r.getString(1), r.getLong(2))).toSeq ===
      Seq(("a", 1L), ("b", 0L), ("c", 0L)))
  }

  test("funnel: empty first step yields zero rows with null conversions") {
    val out = funnelOn(Seq((1L, "b", 100L)))
    assert(out.map(_.getLong(2)).toSeq === Seq(0L, 0L, 0L))
    assert(out.forall(_.isNullAt(3)))
  }

  test("funnel rejects duplicate steps and non-positive horizons") {
    val df = Seq((1L, "a", 1L)).toDF("u", "et", "ts")
    intercept[IllegalArgumentException] {
      EventAnalytics.funnel(df, "u", "et", "ts", Seq("a", "a"), 10L)
    }
    intercept[IllegalArgumentException] {
      EventAnalytics.funnel(df, "u", "et", "ts", Seq("a"), 0L)
    }
  }

  private val DayUs = 86400000000L

  test("retention: cohort week and offsets from integer day math") {
    // Users 1 and 2 first appear in week 0 (days 0 and 6), user 3 in
    // week 1 (day 7). User 1 returns on day 13 (offset (13-0)/7 = 1);
    // user 2 returns day 8 (offset (8-6)/7 = 0 — same retention week
    // RELATIVE to their own first day, not the calendar week).
    val ev = Seq(
      (1L, 0L * DayUs), (1L, 13L * DayUs),
      (2L, 6L * DayUs), (2L, 8L * DayUs),
      (3L, 7L * DayUs)).toDF("u", "ts")
    val out = EventAnalytics.retention(ev, "u", "ts").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ===
      Seq((0L, 0L, 2L, 2L), (0L, 1L, 1L, 2L), (1L, 0L, 1L, 1L)))
    assert(out.map(_.getDouble(4)).toSeq === Seq(1.0, 0.5, 1.0))
  }

  test("retention: a user active twice in one offset week counts once") {
    val ev = Seq((1L, 0L), (1L, 1000L), (1L, 2000L)).toDF("u", "ts")
    val out = EventAnalytics.retention(ev, "u", "ts").collect()
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq === Seq((0L, 1L)))
  }

  test("dailyAnomalies: hand-computed z-scores; only the spike day flags") {
    val DayUs = 86400000000L
    // type "a": 9 days of 10 events + one day of 100 → the spike's
    // z = (100-19)/sqrt(810) ≈ 2.846 flags; the 10s sit at -0.316
    val ev = (0 until 10).flatMap { d =>
      val n = if (d == 9) 100 else 10
      (0 until n).map(i => ("a", d * DayUs + i))
    }.toDF("et", "ts")
    val out = EventAnalytics.dailyAnomalies(ev, "et", "ts", zThreshold = 2.0)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toSeq
    val s = 190.0; val n = 10.0; val q = 9 * 100.0 + 10000.0
    val sd = math.sqrt((q - s * s / n) / (n - 1))
    def zq(c: Long): Double = math.floor((c - s / n) / sd * 1e6 + 0.5) / 1e6
    for ((day, c, z, flag) <- out) {
      assert(z === zq(c), s"day $day z")
      assert(flag === (math.abs(zq(c)) >= 2.0), s"day $day flag")
    }
    assert(out.count(_._4) === 1, "exactly the spike day flags")
  }

  test("day bucketing: pre-epoch timestamps truncate toward zero (DuckDB // parity)") {
    val DayUs = 86400000000L
    // The house convention: Spark `div` ≡ DuckDB `//`, both truncate
    // toward zero. Discriminating cases: ts = −1 µs → day 0 (floor
    // would give −1); ts = −DayUs−1 → day −1 (floor would give −2).
    val ev = Seq(("a", -1L), ("a", 0L), ("a", -DayUs - 1L)).toDF("et", "ts")
    val days = EventAnalytics.dailyAnomalies(ev, "et", "ts")
      .select("day").as[Long].collect().sorted
    assert(days.toSeq === Seq(-1L, 0L),
      "truncation must merge −1 µs into day 0 and put −DayUs−1 in day −1")
    val au = EventAnalytics.activeUsers(
        Seq((1L, -1L), (1L, -DayUs - 1L)).toDF("u", "ts"), "u", "ts")
      .select("day").as[Long].collect().sorted
    assert(au.toSeq === Seq(-1L, 0L), "activeUsers shares the convention")
  }

  test("dailyAnomalies: single-day and zero-variance types yield NULL z, never flag") {
    val DayUs = 86400000000L
    val ev = (Seq(("single", 0L)) ++
      (0 until 3).flatMap(d => Seq(("flat", d * DayUs), ("flat", d * DayUs + 1))))
      .toDF("et", "ts")
    val out = EventAnalytics.dailyAnomalies(ev, "et", "ts").collect()
    assert(out.forall(r => r.isNullAt(3) && r.isNullAt(4)),
      s"undefined/zero sd → NULL z and NULL flag: ${out.mkString(",")}")
  }

  test("attribution: first/last touch, lookback boundary, ties, zero-touch conversions") {
    // (user, type, ts, id); lookback 100 us
    val ev = Seq(
      // user 1: view@0, click@50, purchase@100 — view is EXACTLY
      // lookback away (in), click is last
      (1L, "view", 0L, 10L), (1L, "click", 50L, 11L), (1L, "purchase", 100L, 12L),
      // user 2: view@0 is one PAST the lookback of purchase@101 → only
      // the click@60 attributes (first = last = click)
      (2L, "view", 0L, 20L), (2L, "click", 60L, 21L), (2L, "purchase", 101L, 22L),
      // user 3: no touches → NULL attribution row with n_touches 0
      (3L, "purchase", 500L, 30L),
      // user 4: SIMULTANEOUS view/click at ts 40 — unique event id
      // breaks the tie (first = id 40 view, last = id 41 click); a
      // touch AFTER the conversion never counts
      (4L, "view", 40L, 40L), (4L, "click", 40L, 41L), (4L, "purchase", 90L, 42L),
      (4L, "click", 95L, 43L),
      // user 5: two conversions share the same touch history
      (5L, "click", 10L, 50L), (5L, "purchase", 20L, 51L), (5L, "view", 30L, 52L),
      (5L, "purchase", 40L, 53L)
    ).toDF("u", "et", "ts", "eid")
    val out = EventAnalytics.attribution(ev, "u", "et", "ts", "eid",
        touchTypes = Seq("view", "click"), conversionType = "purchase",
        lookbackUs = 100L)
      .orderBy("conversion_id").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2),
        if (r.isNullAt(3)) null else r.getString(3), r.getLong(4)))
    assert(out.toSeq === Seq(
      (12L, 1L, "view", "click", 2L),
      (22L, 2L, "click", "click", 1L),
      (30L, 3L, null, null, 0L),
      (42L, 4L, "view", "click", 2L),
      (51L, 5L, "click", "click", 1L),
      (53L, 5L, "click", "view", 2L)))
  }

  test("cooccurrence: lift over users, volume-independent") {
    // users by type set: u1 {view,click}, u2 {view,click}, u3 {view},
    // u4 {click,purchase}, u5 {view,purchase}. u1's view fires 3 times
    // — event VOLUME must not move any count (distinct user-type
    // first). Marginals: view 4, click 3, purchase 2; total users 5.
    val ev = Seq(
      (1L, "view"), (1L, "view"), (1L, "view"), (1L, "click"),
      (2L, "view"), (2L, "click"),
      (3L, "view"),
      (4L, "click"), (4L, "purchase"),
      (5L, "view"), (5L, "purchase")).toDF("u", "et")
    val out = EventAnalytics.cooccurrence(ev, "u", "et")
      .orderBy("et_a", "et_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(out.toSeq === Seq(
      // lift = n_both * n_total / (n_a * n_b), quantized 1e-6
      ("click", "purchase", 1L, 3L, 2L, 0.833333), // 1*5/6
      ("click", "view", 2L, 3L, 4L, 0.833333),     // 2*5/12
      ("purchase", "view", 1L, 2L, 4L, 0.625)))    // 1*5/8
  }

  // ---- paths ------------------------------------------------------------

  private def pathsOn(rows: Seq[(Long, String, Long, Long)]) =
    EventAnalytics.paths(rows.toDF("u", "et", "ts", "eid"), "u", "et", "ts", "eid")
      .orderBy(org.apache.spark.sql.functions.desc("n"),
        org.apache.spark.sql.functions.col("e1"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getDouble(4)))

  test("paths: consecutive triples per user, counted with shares") {
    // u1: a b c d -> (a,b,c),(b,c,d);  u2: a b c -> (a,b,c)
    val out = pathsOn(Seq(
      (1L, "a", 10L, 1L), (1L, "b", 20L, 2L), (1L, "c", 30L, 3L), (1L, "d", 40L, 4L),
      (2L, "a", 10L, 5L), (2L, "b", 20L, 6L), (2L, "c", 30L, 7L)))
    assert(out.toSeq === Seq(
      ("a", "b", "c", 2L, 0.666667),
      ("b", "c", "d", 1L, 0.333333)))
  }

  test("paths: same-timestamp events break ties by event id") {
    val out = pathsOn(Seq(
      (1L, "x", 10L, 3L), (1L, "y", 10L, 1L), (1L, "z", 10L, 2L)))
    assert(out.toSeq === Seq(("y", "z", "x", 1L, 1.0)))
  }

  test("paths: a two-event user contributes nothing; triples never cross users") {
    val out = pathsOn(Seq(
      (1L, "a", 10L, 1L), (1L, "b", 20L, 2L),
      (2L, "c", 30L, 3L), (2L, "d", 40L, 4L)))
    assert(out.isEmpty)
  }

  // ---- rfm --------------------------------------------------------------

  private val Day = 86400000000L

  private def rfmOn(rows: Seq[(Long, Long, Double)]) =
    EventAnalytics.rfm(rows.toDF("u", "ts", "value"), "u", "ts", "value")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getString(4)))).toMap

  test("rfm: recency in whole days from the corpus max, exact counts and sums") {
    // corpus max ts = 10*Day (user 3). r: u1 = 3 days (floor of 3.5),
    // u2 = 0 (same-day fraction), u3 = 0.
    val out = rfmOn(Seq(
      (1L, 6 * Day + Day / 2, 1.5), (1L, 5 * Day, 2.0),
      (2L, 10 * Day - 1L, 4.0),
      (3L, 10 * Day, 0.25)))
    // cutoffs: tot_r 3, tot_f 4, n 3. u1: r·3 = 9 > 3 (stale),
    // f·3 = 6 ≥ 4 (frequent) → lapsed_heavy; u2/u3: recent, f·3 = 3 < 4 → casual.
    assert(out(1L) === ((3L, 2L, 3.5, "lapsed_heavy")))
    assert(out(2L) === ((0L, 1L, 4.0, "casual")))
    assert(out(3L) === ((0L, 1L, 0.25, "casual")))
  }

  test("rfm: segment cutoffs are the exact means, boundary lands recent/frequent") {
    // 2 users: r = {0, 2} → tot_r 2, n 2; mean 1. f = {1, 3} → tot 4.
    // u1: r 2 > mean → not recent; f 1*2=2 < 4 → not frequent → dormant.
    // u2: r 0 ≤ mean, f 3*2=6 ≥ 4 → core.
    val out = rfmOn(Seq(
      (1L, 8 * Day, 1.0),
      (2L, 10 * Day, 1.0), (2L, 9 * Day, 1.0), (2L, 8 * Day, 1.0)))
    assert(out(1L) === ((2L, 1L, 1.0, "dormant")))
    assert(out(2L) === ((0L, 3L, 3.0, "core")))
  }

  // ---- activeUsers ------------------------------------------------------

  private def activeOn(rows: Seq[(Long, Long)], windowDays: Int = 7) =
    EventAnalytics.activeUsers(rows.toDF("u", "ts"), "u", "ts", windowDays)
      .orderBy("day").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))

  test("activeUsers: trailing window boundary — day anchor-6 is in, anchor-7 is out") {
    // u1 active day 0 only, u2 day 6, u3 day 7 (windowDays = 7).
    // anchor 6 window is (−1, 6] → sees days 0..6 → users {1,2};
    // anchor 7 window is (0, 7]  → day 0 ages out → users {2,3}.
    val out = activeOn(Seq(
      (1L, 0L * Day + 5L), (2L, 6L * Day + 1L), (3L, 7L * Day)))
    assert(out.toSeq === Seq(
      (0L, 1L, 1L, 1.0),
      (6L, 1L, 2L, 0.5),
      (7L, 1L, 2L, 0.5)))
  }

  test("activeUsers: event volume never moves a count; rows only for observed days") {
    // u1 fires 5 events on day 2 (several hours apart) — dau/wau count
    // the USER once; days 0,1,3.. with no events produce no rows.
    val out = activeOn(Seq(
      (1L, 2L * Day), (1L, 2L * Day + 3600000000L), (1L, 2L * Day + 2L),
      (1L, 2L * Day + 7200000000L), (1L, 2L * Day + 9L),
      (2L, 2L * Day + 100L)))
    assert(out.toSeq === Seq((2L, 2L, 2L, 1.0)))
  }

  test("activeUsers: windowDays=1 degenerates to dau == wau, stickiness 1") {
    val out = activeOn(Seq((1L, 0L), (2L, 0L), (1L, 3L * Day)), windowDays = 1)
    assert(out.toSeq === Seq((0L, 2L, 2L, 1.0), (3L, 1L, 1L, 1.0)))
    intercept[IllegalArgumentException] {
      EventAnalytics.activeUsers(Seq((1L, 0L)).toDF("u", "ts"), "u", "ts", 0)
    }
  }

  // ---- conversionLag ----------------------------------------------------

  private val HourUs = 3600000000L

  private def lagOn(rows: Seq[(Long, String, Long)]) =
    EventAnalytics.conversionLag(rows.toDF("u", "et", "ts"), "u", "et", "ts",
        fromType = "signup", toType = "purchase")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))

  test("conversionLag: hour buckets, boundaries, cumulative counts and shares") {
    // u1 converts at exactly 1 h → bucket 1; u2 one µs short → bucket 0;
    // u3 never purchases → excluded; u4's pre-signup purchase is ignored
    // but the later one counts (lag 10 µs); u5 converts at lag 0 (>= is
    // inclusive). Buckets: h0 = {u2,u4,u5} = 3, h1 = {u1} = 1.
    val out = lagOn(Seq(
      (1L, "signup", 0L), (1L, "purchase", HourUs),
      (2L, "signup", 0L), (2L, "purchase", HourUs - 1L),
      (3L, "signup", 0L),
      (4L, "purchase", -5L), (4L, "signup", 0L), (4L, "purchase", 10L),
      (5L, "signup", 100L), (5L, "purchase", 100L)))
    assert(out.toSeq === Seq(
      (0L, 3L, 3L, 0.75),
      (1L, 1L, 4L, 0.25)))
  }

  test("conversionLag: FIRST signup anchors; EARLIEST qualifying purchase counts") {
    // u1 signs up twice (first at 0); its earliest purchase ≥ 0 is at
    // 50 even though a later one lands at 2 h → lag 50 µs, bucket 0.
    val out = lagOn(Seq(
      (1L, "signup", 100L), (1L, "signup", 0L),
      (1L, "purchase", 50L), (1L, "purchase", 2L * HourUs)))
    assert(out.toSeq === Seq((0L, 1L, 1L, 1.0)))
  }

  test("rfm: a user exactly ON both mean cutoffs is core (<= and >= are inclusive)") {
    // 3 users with r = {0, 1, 2} and f = {1, 2, 3}: means r̄ = 1, f̄ = 2.
    // u2 sits exactly on both: r·n = 3 = tot_r, f·n = 6 = tot_f → core.
    val out = rfmOn(Seq(
      (1L, 10 * Day, 1.0),
      (2L, 9 * Day, 1.0), (2L, 8 * Day, 1.0),
      (3L, 8 * Day, 1.0), (3L, 7 * Day, 1.0), (3L, 6 * Day, 1.0)))
    assert(out(2L)._4 === "core")
    assert(out(1L)._4 === "casual")      // r 0 recent, f 1·3 < 6
    assert(out(3L)._4 === "lapsed_heavy") // r 2·3 > 3, f 3·3 ≥ 6
  }

  // ---- activityConcentration (gini) --------------------------------------

  private def giniOn(rows: Seq[(Long, Long)]) = {
    val r = EventAnalytics.activityConcentration(rows.toDF("u", "ts"), "u")
      .collect().head
    (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4))
  }

  test("gini: all-equal counts score exactly 0; one owner scores (n-1)/n") {
    // 4 users × 2 events each: perfectly equal → gini ≡ 0; the top 1%
    // is ceil(4/100) = 1 user owning exactly its 1/4 share.
    val eq = giniOn((1L to 4L).flatMap(u => Seq((u, 0L), (u, 1L))))
    assert(eq === ((4L, 8L, 0.0, 1L, 0.25)))
    // 5 users; u5 owns 96 of 100 events. Ranked ascending (c, u):
    // r=1..4 → c=1, r=5 → c=96. Σrc = 1+2+3+4+480 = 490.
    // gini = (2·490 − 6·100) / (5·100) = 380/500 = 0.76.
    val sk = giniOn((1L to 4L).map(u => (u, 0L)) ++
      (1L to 96L).map(i => (5L, i)))
    assert(sk === ((5L, 100L, 0.76, 1L, 0.96)))
  }

  test("gini: tie-order invariance — permuting equal-count users moves nothing") {
    // 3 users with counts {2, 2, 1}: the two tied users may rank in
    // either order; Σrc over the tied block is fixed (c·Σr).
    // Ascending: r1→c1, r2,r3→c2 each. Σrc = 1 + 4 + 6 = 11.
    // gini = (22 − 4·5) / (3·5) = 2/15.
    val out = giniOn(Seq((7L, 0L), (7L, 1L), (3L, 0L), (3L, 1L), (9L, 0L)))
    assert(out._3 === math.floor(2.0 / 15.0 * 1e6 + 0.5) / 1e6)
    assert(out === ((3L, 5L, out._3, 1L, 0.4)))
  }

  // ---- seasonality --------------------------------------------------------

  test("seasonality: planted UTC cells, full 168-row grid, chi terms vs uniform") {
    // 3 events at hour 5 of epoch day 0 (a Thursday → dow 4) and 1 at
    // hour 0 of day 3 (Sunday → dow 0). Grid stays 168 rows.
    val rows = Seq(
      (1L, 5L * HourUs), (2L, 5L * HourUs + 7L), (3L, 5L * HourUs + 99L),
      (4L, 3L * Day))
    val out = EventAnalytics.seasonality(rows.toDF("u", "ts"), "ts").collect()
    assert(out.length === 168)
    val byCell = out.map(r => ((r.getLong(0), r.getLong(1)),
      (r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(byCell((4L, 5L))._1 === 3L)
    assert(byCell((0L, 0L))._1 === 1L)
    assert(out.map(_.getLong(2)).sum === 4L, "counts conserve")
    assert(byCell((4L, 5L))._2 === 0.75)
    // empty cell: obs 0, exp = 4/168 → chi term = exp exactly
    val exp = 4.0 / 168.0
    assert(byCell((1L, 1L))._3 === math.floor((0.0 - exp) * (0.0 - exp) / exp * 1e6 + 0.5) / 1e6)
    assert(byCell((4L, 5L))._3 === math.floor((3.0 - exp) * (3.0 - exp) / exp * 1e6 + 0.5) / 1e6)
  }

  // ---- volumeTrend --------------------------------------------------------

  test("volumeTrend: exact slope on a linear ramp; flat type reads 0; single day null") {
    // type a: counts 2,4,6 on days 0,1,2 → slope exactly 2/day.
    // type b: 3,3 on days 5,6 → slope 0. type c: one day → null.
    val rows =
      (0 until 2).map(i => ("a", 0L * Day + i)) ++
      (0 until 4).map(i => ("a", 1L * Day + i)) ++
      (0 until 6).map(i => ("a", 2L * Day + i)) ++
      (0 until 3).map(i => ("b", 5L * Day + i)) ++
      (0 until 3).map(i => ("b", 6L * Day + i)) ++
      Seq(("c", 9L * Day))
    val out = EventAnalytics.volumeTrend(rows.toDF("et", "ts"), "et", "ts")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getDouble(4)))).toMap
    assert(out("a") === ((3L, 12L, Some(2.0), 4.0)))
    assert(out("b") === ((2L, 6L, Some(0.0), 3.0)))
    assert(out("c") === ((1L, 1L, None, 1.0)))
  }

  // ---- regularity ---------------------------------------------------------

  test("regularity: a metronome reads CV 0; dispersed gaps read organic; minEvents gates") {
    val MinGap = 60000000L
    // u1: 6 events exactly 60 s apart → gaps all equal → CV 0 → metronomic.
    // u2: gaps {1s, 1s, 1s, 100s} → CV >> 0.1 → organic.
    // u3: 3 events (2 gaps) → under minEvents 5 → absent.
    val rows =
      (0 until 6).map(i => (1L, i * MinGap)) ++
      Seq((2L, 0L), (2L, 1000000L), (2L, 2000000L), (2L, 3000000L), (2L, 103000000L)) ++
      (0 until 3).map(i => (3L, i * MinGap))
    val out = EventAnalytics.regularity(rows.toDF("u", "ts"), "u", "ts",
        minEvents = 5, cvThreshold = 0.1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getString(4)))).toMap
    assert(out.keySet === Set(1L, 2L))
    assert(out(1L) === ((5L, 60000000.0, 0.0, "metronomic")))
    val (n2, mean2, cv2, v2) = out(2L)
    assert(n2 === 4L && mean2 === 25750000.0 && v2 === "organic")
    // hand CV: gaps {1,1,1,100}s → mean 25.75, var = Σg²/4 − mean²
    val g = Seq(1.0, 1.0, 1.0, 100.0).map(_ * 1e6)
    val m = g.sum / 4; val varP = g.map(x => x * x).sum / 4 - m * m
    assert(cv2 === math.floor(math.sqrt(varP) / m * 1e6 + 0.5) / 1e6)
  }

  test("regularity: simultaneous-event burst (all gaps 0) flags metronomic, never NaN") {
    val rows = (0 until 6).map(_ => (1L, 42L))
    val out = EventAnalytics.regularity(rows.toDF("u", "ts"), "u", "ts",
      minEvents = 5).collect()
    assert(out.length === 1)
    assert(out(0).getDouble(3) === 0.0 && out(0).getString(4) === "metronomic")
  }

  // ---- cohortLtv ----------------------------------------------------------

  test("cohortLtv: hand-computed cohort curves — ages, actives, cumulative revenue, LTV") {
    // cohort 0 = {u1, u2} (size 2): age 0 revenue 10+2, age 1 revenue 5
    // cohort 1 = {u3} (size 1): age 0 revenue 1.5, age 2 revenue 0.5
    val out = EventAnalytics.cohortLtv(Seq(
        (1L, 0L * Day, 10.0), (1L, 1L * Day + 7L, 5.0),
        (2L, 0L * Day + 3L, 2.0),
        (3L, 1L * Day, 1.5), (3L, 3L * Day, 0.5))
      .toDF("u", "ts", "v"), "u", "ts", "v")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(out.toSeq === Seq(
      (0L, 0L, 2L, 2L, 12.0, 12.0, 6.0),
      (0L, 1L, 2L, 1L, 5.0, 17.0, 8.5),
      (1L, 0L, 1L, 1L, 1.5, 1.5, 1.5),
      (1L, 2L, 1L, 1L, 0.5, 2.0, 2.0)))
  }

  test("cohortLtv: a user's repeat events in one day collapse to one cell; actives are distinct") {
    // u1: 3 events age 0 → n_active_users 1, revenue summed
    val out = EventAnalytics.cohortLtv(Seq(
        (1L, 0L, 1.0), (1L, 5L, 2.0), (1L, 9L, 4.0))
      .toDF("u", "ts", "v"), "u", "ts", "v")
      .collect().map(r => (r.getLong(1), r.getLong(3), r.getDouble(4), r.getDouble(6)))
    assert(out.toSeq === Seq((0L, 1L, 7.0, 7.0)))
  }

  // ---- lifecycle ----------------------------------------------------------

  private def lifecycleOn(rows: Seq[(Long, Long)]) =
    EventAnalytics.lifecycle(rows.toDF("u", "ts"), "u", "ts")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))

  test("lifecycle: new / retained / resurrected / churned decompose each day exactly") {
    // u1 active days 0,1,3 — new@0, retained@1, churn lands on day 2,
    //   resurrected@3, final churn lands on day 4 (no corpus activity → dropped).
    // u2 active days 1,2 — new@1, retained@2, churn on day 3.
    // u3 active day 3 only — new@3, churn on day 4 (dropped with u1's).
    val out = lifecycleOn(Seq(
      (1L, 0L * Day), (1L, 1L * Day + 5L), (1L, 3L * Day),
      (2L, 1L * Day), (2L, 2L * Day + 9L),
      (3L, 3L * Day + 1L)))
    assert(out.toSeq === Seq(
      (0L, 1L, 0L, 0L, 0L),  // u1 new
      (1L, 1L, 1L, 0L, 0L),  // u2 new, u1 retained
      (2L, 0L, 1L, 0L, 1L),  // u2 retained, u1 churned (gap day)
      (3L, 1L, 0L, 1L, 1L))) // u3 new, u1 resurrected, u2 churned
  }

  test("lifecycle: event volume inside a day never moves a count; single-day corpus") {
    // u1 fires 6 events on day 5: one 'new', nothing else; no churn
    // row (day 6 unobserved).
    val out = lifecycleOn((0L until 6L).map(i => (1L, 5L * Day + i)))
    assert(out.toSeq === Seq((5L, 1L, 0L, 0L, 0L)))
  }

  // ---- botDetect ----------------------------------------------------------

  private val MinUs = 60000000L

  private def botsOn(rows: Seq[(Long, Long)], burst: Int = 30,
      sustained: Int = 2, minEvents: Int = 50) =
    EventAnalytics.botDetect(rows.toDF("u", "ts"), "u", "ts",
        burstPerMinute = burst, sustainedPerMinute = sustained,
        minEvents = minEvents)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getString(5)))).toMap

  test("botDetect: burst boundary — exactly the threshold in one minute flags") {
    // u1: 3 events in one minute (threshold 3) → burst, even with
    // tiny totals; u2: 2 in a minute → under threshold → ok.
    val out = botsOn(
      (1L to 3L).map(i => (1L, i)) ++ Seq((2L, 0L), (2L, 5L)),
      burst = 3, minEvents = 100)
    assert(out(1L) === ((3L, 1L, 3L, 3.0, "burst")))
    assert(out(2L) === ((2L, 1L, 2L, 2.0, "ok")))
  }

  test("botDetect: sustained needs BOTH the floor and the exact mean-rate compare") {
    // threshold: minEvents 4, sustained 2/minute.
    // u1: 4 events over 2 minutes → mean exactly 2.0 → sustained
    //     (n ≥ minutes·rate compares integers: 4 ≥ 4).
    // u2: 4 events over 3 minutes → 4 < 6 → ok.
    // u3: 3 events in 1 minute → under minEvents → ok (burst is 30).
    val out = botsOn(Seq(
      (1L, 0L), (1L, 1L), (1L, MinUs), (1L, MinUs + 1L),
      (2L, 0L), (2L, MinUs), (2L, 2L * MinUs), (2L, 2L * MinUs + 9L),
      (3L, 0L), (3L, 1L), (3L, 2L)),
      sustained = 2, minEvents = 4)
    assert(out(1L)._5 === "sustained")
    assert(out(2L) === ((4L, 3L, 2L, math.floor(4.0 / 3.0 * 1e6 + 0.5) / 1e6, "ok")))
    assert(out(3L)._5 === "ok")
  }

  test("gapProfile: hand-placed gaps land in their buckets; cumulative share reaches 1") {
    // one user, events at +0.5s, +30s, +120s, +2h: gaps of 0s (div),
    // 30s, 120s, 7200s → buckets 0 (<1s), 2 (<1m), 3 (<5m), 5 (<4h).
    val s = 1000000L
    val ts = Seq(0L, s / 2, s / 2 + 30 * s, s / 2 + 150 * s, s / 2 + 150 * s + 7200 * s)
    val rows = ts.zipWithIndex.map { case (t, i) => (1L, t, i.toLong) }
    val out = EventAnalytics.gapProfile(rows.toDF("u", "ts", "eid"), "u", "ts", "eid")
      .collect().map(r => r.getInt(0) ->
        ((r.getString(1), r.getLong(2), r.getDouble(4)))).toMap
    assert(out.keySet == Set(0, 2, 3, 5), s"buckets: $out")
    assert(out(0) === (("<1s", 1L, 0.25)), s"sub-second gap: $out")
    assert(out(5)._3 === 1.0, "cumulative share ends at 1.0")
    assert(out(2)._1 == "<1m" && out(3)._1 == "<5m", s"labels track buckets: $out")
  }

  test("changepoint: a persistent level shift walks the CUSUM over 4σ; alternation never flags") {
    // type a: 10 days at 5 events, then 10 days at 12 — a +3.5 step
    // that never trips a pointwise 2σ day test (z ≈ 0.97) but
    // accumulates ~1.7σ per day after the shift.
    // type b: alternating 8/9 — CUSUM stays bounded under k=0.5σ drift.
    val day = 86400000000L
    val a = (0 until 20).flatMap { d =>
      val n = if (d < 10) 5 else 12
      (0 until n).map(i => ("a", d * day + i * 1000L))
    }
    val b = (0 until 20).flatMap { d =>
      (0 until (if (d % 2 == 0) 8 else 9)).map(i => ("b", d * day + i * 1000L))
    }
    val out = EventAnalytics.changepoint((a ++ b).toDF("et", "ts"), "et", "ts")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(3), r.getBoolean(5), r.getBoolean(6)))).toMap
    // hand numbers: μ=8.5, σ²=245/19, σ≈3.591, k≈1.795, h=4σ≈14.36;
    // post-shift drift ≈ 1.705/day → S⁺(day19) ≈ 17.05 > h
    val sd = math.sqrt(245.0 / 19.0)
    val last = out(("a", 19L))
    assert(math.abs(last._1 - 10 * (12 - 8.5 - 0.5 * sd)) < 0.01,
      s"S+ at the last day ≈ accumulated post-shift drift: $last")
    assert(last._2, s"shift_up flags once CUSUM > 4σ: $last")
    assert(!out(("a", 9L))._2, "pre-shift days stay under threshold")
    assert(out.filter(_._1._1 == "b").values.forall(v => !v._2 && !v._3),
      "bounded alternation never flags either side")
  }

  test("markovSurprisal: hand-computed Laplace-smoothed log-likelihoods") {
    // Corpus: u1 walks a→b, b→a, a→b; u2 walks a→b. V = 2 types.
    // matrix: a→b n=3 (from-total 3), b→a n=1 (from-total 1).
    // term(a→b) = ln((3+2)/(3+1)) = ln(1.25) → q 223144
    // term(b→a) = ln((1+2)/(1+1)) = ln(1.5)  → q 405465
    // u1: (2·223144 + 405465)/3/1e6 → 0.283918 (floor-round 6dp)
    // u2: 223144/1e6 = 0.223144
    val rows = Seq(
      (1L, "a", 100L, 1L), (1L, "b", 200L, 2L), (1L, "a", 300L, 3L), (1L, "b", 400L, 4L),
      (2L, "a", 100L, 5L), (2L, "b", 200L, 6L))
    val out = EventAnalytics.markovSurprisal(
        rows.toDF("u", "et", "ts", "eid"), "u", "et", "ts", "eid")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L) === ((3L, 0.283918)))
    assert(out(2L) === ((1L, 0.223144)))
  }

  test("markovSurprisal: the user taking rare transitions scores highest") {
    // Ten users loop a→b→a…; one user walks c→d→c… — transitions the
    // corpus almost never takes → highest mean surprisal. A single-
    // event user produces no transitions and is absent.
    val common = (1L to 10L).flatMap { u =>
      (0 until 6).map(i => (u, if (i % 2 == 0) "a" else "b", 100L * (i + 1), u * 100 + i))
    }
    val rare = (0 until 6).map(i => (99L, if (i % 2 == 0) "c" else "d", 100L * (i + 1), 9900L + i))
    val lonely = Seq((50L, "a", 100L, 5000L))
    val out = EventAnalytics.markovSurprisal(
        (common ++ rare ++ lonely).toDF("u", "et", "ts", "eid"),
        "u", "et", "ts", "eid")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(!out.contains(50L), "single-event user has no transitions")
    val maxCommon = (out - 99L).values.max
    assert(out(99L) > maxCommon, s"rare walker ${out(99L)} vs common max $maxCommon")
  }
}
