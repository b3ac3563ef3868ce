package graft

import graft.ext.EventsExt
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.sql.Timestamp

class EventsExtSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(minute: Int) = new Timestamp(1704067200000L + minute * 60000L)

  test("sessionize: 30-minute gap starts a new session") {
    val events = Seq(
      (1L, 10L, ts(0)),   // session 1
      (2L, 10L, ts(10)),  // +10min  → same session
      (3L, 10L, ts(41)),  // +31min  → session 2
      (4L, 10L, ts(50)),  // +9min   → same
      (5L, 20L, ts(0))    // other user → own session 1
    ).toDF("event_id", "user_id", "ts")
    val out = EventsExt.sessionize(events, gapMinutes = 30)
      .orderBy("user_id", "session_idx").collect()
    out.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_idx"),
      r.getAs[Long]("n_events"))) shouldBe
      Array((10L, 1L, 2L), (10L, 2L, 2L), (20L, 1L, 1L))
    val s2 = out(1)
    s2.getAs[Long]("session_start_ms") shouldBe 1704067200000L + 41 * 60000L
    s2.getAs[Long]("session_end_ms") shouldBe 1704067200000L + 50 * 60000L
  }

  test("counterRate: a drop between samples is a reset — the new value " +
    "IS the increase; equal-timestamp pairs and first samples drop") {
    val events = Seq(
      (1L, 10L, ts(0), 100.0),  // first sample: no predecessor
      (2L, 10L, ts(1), 160.0),  // +60 over 60s → 1.0/s
      (3L, 10L, ts(2), 40.0),   // DROP → reset: increase = 40, 40/60s
      (4L, 10L, ts(2), 45.0),   // same ms as (3) → Δt = 0, dropped
      (5L, 20L, ts(0), 7.0)     // other user's only sample
    ).toDF("event_id", "user_id", "ts", "value")
    val out = EventsExt.counterRate(events).orderBy("event_id").collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("increase"),
        r.getAs[Double]("rate_per_sec")))
    out shouldBe Array((2L, 60.0, 1.0), (3L, 40.0, 40.0 / 60.0))
  }

  test("stateDurations: LOCF intervals close at the next sample, attribute " +
    "to their start day, and open last samples are excluded") {
    val events = Seq(
      (1L, 10L, ts(0), "on"),      // closes at +10min → on for 600000ms
      (2L, 10L, ts(10), "off"),    // closes at +30min → off for 1200000ms
      (3L, 10L, ts(30), "on"),     // user 10's LAST sample: open → excluded
      (4L, 20L, ts(0), "on"),      // user 20's ONLY sample: open → excluded
      (5L, 30L, ts(23 * 60), "on"),  // 23:00 day1 → closes 01:00 day2:
      (6L, 30L, ts(25 * 60), "off"), // whole 2h attributes to day1; open off
      (7L, 40L, ts(5), "x"),       // equal-timestamp pair: zero-length
      (8L, 40L, ts(5), "x")        // interval under the (ms,event_id) order
    ).toDF("event_id", "user_id", "ts", "event_type")
    val out = EventsExt.stateDurations(events)
      .orderBy("day_ms", "event_type").collect()
      .map(r => (r.getAs[Long]("day_ms"), r.getAs[String]("event_type"),
        r.getAs[Long]("n_intervals"), r.getAs[Long]("dur_ms"),
        r.getAs[Long]("max_dur_ms")))
    val day1 = 1704067200000L
    out shouldBe Array(
      (day1, "off", 1L, 1200000L, 1200000L),
      (day1, "on", 2L, 600000L + 7200000L, 7200000L),
      (day1, "x", 1L, 0L, 0L))
  }

  test("bandExcursions: an outlier in an otherwise-stable window breaches " +
    "'above'; singleton windows (NULL bands) never alert; the band table " +
    "BROADCASTS") {
    // 9 stable readings + one spike in hour 0 (|v−mean| ≈ 0.9·spike vs
    // 2σ ≈ 0.63·spike → breach); hour 30 holds a lone reading whose
    // window has n=1 → NULL bands → no alert however extreme
    val events = ((1L to 9L).map(i => (i, 10L, ts(i.toInt), "temp", 10.0)) :+
      (10L, 10L, ts(50), "temp", 100.0) :+
      (11L, 10L, ts(30 * 60), "temp", 99999.0))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val out = EventsExt.bandExcursions(events, lookback = 1)
    val rows = out.collect()
    rows.map(r => (r.getAs[Long]("event_id"),
      r.getAs[String]("breach"))) shouldBe Array((10L, "above"))
    val plan = out.queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
  }

  test("sessionize: exactly-30-minute gap does NOT split (strict >)") {
    val events = Seq((1L, 10L, ts(0)), (2L, 10L, ts(30)))
      .toDF("event_id", "user_id", "ts")
    EventsExt.sessionize(events, gapMinutes = 30).count() shouldBe 1
  }

  test("sessionize: ONE shuffle — both window frames and the final " +
    "groupBy reuse the user_id partitioning") {
    // skew/scale guard: a regression that re-partitions between the lag
    // window, the cumulative sum, and the session aggregate would triple
    // the exchanged bytes of the steepest-scaling query in the suite
    val events = Seq((1L, 10L, ts(0)), (2L, 10L, ts(10)), (3L, 20L, ts(0)))
      .toDF("event_id", "user_id", "ts")
    val df = EventsExt.sessionize(events)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    "Exchange".r.findAllIn(plan).length shouldBe 1
  }

  test("userTrend: partial aggregation runs BEFORE the exchange, so a " +
    "dominant user collapses map-side to constant state") {
    val events = Seq((1L, 10L, 1.0, ts(0)), (2L, 10L, 2.0, ts(1)),
      (3L, 10L, 3.0, ts(2)))
      .toDF("event_id", "user_id", "value", "ts")
    val df = EventsExt.userTrend(events)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    // partial_sum in the pre-shuffle HashAggregate = map-side combine: the
    // exchange carries 5 sufficient statistics per (task, user), never the
    // raw event stream — per-user skew cannot concentrate rows
    plan should include("partial_sum")
    "Exchange".r.findAllIn(plan).length shouldBe 1
  }

  test("integralHourly: same-bucket trapezoids only (Flux windowed-" +
    "integral parity), single-sample buckets emit 0, per-ms dedup") {
    val events = Seq(
      // type a: 10@00:00, 20@00:30 (pair in h0), 30@01:30 — the
      // (20, 30) pair crosses the hour line and contributes NOTHING
      (1L, 1L, "a", ts(0), 10.0), (2L, 1L, "a", ts(30), 20.0),
      (3L, 1L, "a", ts(90), 30.0),
      // type b: a single sample — occupied bucket, zero area
      (4L, 1L, "b", ts(15), 5.0),
      // type c: duplicate ms — max wins the dedup, pairs with the later
      // sample: (8, 6) over 30 min → (8000+6000)*1800000/2e6 = 12600
      (5L, 1L, "c", ts(0), 8.0), (6L, 1L, "c", ts(0), 3.0),
      (7L, 1L, "c", ts(30), 6.0)
    ).toDF("event_id", "user_id", "event_type", "ts", "value")
    val out = EventsExt.integralHourly(events).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val t0 = 1704067200000L
    out shouldBe Map(
      ("a", t0) -> 27000.0, ("a", t0 + 3600000L) -> 0.0,
      ("b", t0) -> 0.0, ("c", t0) -> 12600.0)
  }

  test("twaHourly: LOCF holds split across buckets, gaps carry the " +
    "value, the last sample holds nothing, single samples emit no row") {
    val events = Seq(
      // type a: 10 holds [00:00,00:30), 20 holds [00:30,01:30), 30 ends
      // the signal → h0 = (10·30 + 20·30)/60 = 15, h1 = 20 over its
      // covered half-hour
      (1L, 1L, "a", ts(0), 10.0), (2L, 1L, "a", ts(30), 20.0),
      (3L, 1L, "a", ts(90), 30.0),
      // type b: single sample → no hold interval, no rows
      (4L, 1L, "b", ts(15), 5.0),
      // type c: 10 holds [00:10, 03:40) across four buckets — the gap
      // buckets h1/h2 are fully covered at 10
      (5L, 1L, "c", ts(10), 10.0), (6L, 1L, "c", ts(220), 40.0)
    ).toDF("event_id", "user_id", "event_type", "ts", "value")
    val out = EventsExt.twaHourly(events).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val t0 = 1704067200000L
    val h = 3600000L
    out shouldBe Map(
      ("a", t0) -> 15.0, ("a", t0 + h) -> 20.0,
      ("c", t0) -> 10.0, ("c", t0 + h) -> 10.0,
      ("c", t0 + 2 * h) -> 10.0, ("c", t0 + 3 * h) -> 10.0)
  }

  test("statisticsCompact: hourly partials re-bucketed to a coarse grid " +
    "are BIT-identical to computing at the coarse step directly, " +
    "including both asymmetries") {
    val events = Seq(
      // type a: values crossing several hours — holds split at the fine
      // grid must re-merge exactly
      (1L, 1L, "a", ts(0), 10.0), (2L, 1L, "a", ts(30), 20.0),
      (3L, 1L, "a", ts(90), 30.0), (4L, 1L, "a", ts(250), 7.5),
      // type b: single sample — min/max-only bucket (NULL mean) must
      // survive compaction as the coarse min/max
      (5L, 1L, "b", ts(15), 5.0),
      // type c: a long hold spanning fully-empty fine buckets
      (6L, 1L, "c", ts(10), 10.0), (7L, 1L, "c", ts(400), 40.0)
    ).toDF("event_id", "user_id", "event_type", "ts", "value")
    val step = 3600000L
    val compacted = EventsExt.statisticsCompact(
      EventsExt.statisticsPartialsHourly(events, step), factor = 4, step)
    val direct = EventsExt.statisticsHourly(events, step * 4)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((Option(r.get(2)), Option(r.get(3)), Option(r.get(4))))).toMap
    val c = canon(compacted)
    c shouldBe canon(direct)
    // the single-sample type keeps min/max with a NULL mean
    c(("b", 1704067200000L))._1 shouldBe None
    c(("b", 1704067200000L))._2 shouldBe Some(5.0)
  }

  test("statisticsCompact: offsetMs shifts the coarse grid (local-midnight " +
    "days) — compacting onto the shifted grid equals computing on " +
    "time-shifted events; off-grid offsets are refused") {
    val events = Seq(
      (1L, 1L, "a", ts(0), 10.0), (2L, 1L, "a", ts(30), 20.0),
      (3L, 1L, "a", ts(90), 30.0), (4L, 1L, "a", ts(250), 7.5),
      (5L, 1L, "b", ts(15), 5.0)
    ).toDF("event_id", "user_id", "event_type", "ts", "value")
    val step = 3600000L
    val off = 2 * step
    val compacted = EventsExt.statisticsCompact(
      EventsExt.statisticsPartialsHourly(events, step), factor = 4, step, off)
    // twin: bucket_off(t) = bucket_epoch(t − off) + off, and twa/min/max
    // are shift-invariant — so shift events, compute, shift buckets back
    val shifted = EventsExt.statisticsHourly(
      events.withColumn("ts",
        timestamp_millis(unix_millis(col("ts")) - off)), step * 4)
      .withColumn("bucket_ms", col("bucket_ms") + off)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((Option(r.get(2)), Option(r.get(3)), Option(r.get(4))))).toMap
    canon(compacted) shouldBe canon(shifted)
    intercept[IllegalArgumentException] {
      EventsExt.statisticsCompact(
        EventsExt.statisticsPartialsHourly(events, step), 4, step, 1800000L)
    }.getMessage should include("multiple of the fine step")
  }

  test("counterStatsCompact: hourly counter partials re-bucketed to a " +
    "coarse grid equal the direct coarse computation — deltas are per " +
    "sample pair, state takes the latest fine bucket, sum_total recomputes") {
    val events = Seq(
      (1L, 10L, ts(0), 100.0), (2L, 10L, ts(1), 160.0),
      (3L, 10L, ts(61), 40.0), (4L, 10L, ts(62), 50.0),   // reset in h1
      (5L, 10L, ts(250), 55.0),                            // h4 → 2nd 4h-day
      (6L, 20L, ts(0), 7.0)
    ).toDF("event_id", "user_id", "ts", "value")
    val step = 3600000L
    val compacted = EventsExt.counterStatsCompact(
      EventsExt.counterStatsPartialsHourly(events, step), factor = 4, step)
    val direct = EventsExt.counterStatsHourly(events, step * 4)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("bucket_start_ms")) ->
        ((r.getAs[Double]("state"), r.getAs[Double]("increase"),
          r.getAs[Double]("sum_total")))).toMap
    val c = canon(compacted)
    c shouldBe canon(direct)
    val t0 = 1704067200000L
    // coarse bucket 0: 60 + reset(40) + 10 = 110, state 50 (latest fine
    // bucket h1); coarse bucket 1: 55-50 = 5, cum 115
    c((10L, t0)) shouldBe ((50.0, 110.0, 110.0))
    c((10L, t0 + 4 * step)) shouldBe ((55.0, 5.0, 115.0))
  }

  test("counterStatsHourly: reset-aware increase per bucket, last-reading " +
    "state, cumulative sum_total; per-ms dedup; empty buckets emit no row") {
    val events = Seq(
      // user 10, hour 0: 100 (first sample → delta 0) then 160 (+60)
      (1L, 10L, ts(0), 100.0), (2L, 10L, ts(1), 160.0),
      // hour 1: duplicate ms — max wins the dedup (45, not 40); the drop
      // 160→45 is a reset, so the increase IS 45; then +5
      (3L, 10L, ts(61), 40.0), (4L, 10L, ts(61), 45.0),
      (5L, 10L, ts(62), 50.0),
      // user 20: a single sample — occupied bucket, zero increase
      (6L, 20L, ts(0), 7.0),
      // user 30: hour 0 then hour 2 — the skipped hour emits NOTHING and
      // the cross-gap delta (+2) lands in the LATER sample's bucket
      (7L, 30L, ts(0), 10.0), (8L, 30L, ts(130), 12.0)
    ).toDF("event_id", "user_id", "ts", "value")
    val out = EventsExt.counterStatsHourly(events).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("bucket_start_ms")) ->
        ((r.getAs[Double]("state"), r.getAs[Double]("increase"),
          r.getAs[Double]("sum_total")))).toMap
    val t0 = 1704067200000L
    val h = 3600000L
    out shouldBe Map(
      (10L, t0) -> ((160.0, 60.0, 60.0)),
      (10L, t0 + h) -> ((50.0, 50.0, 110.0)),
      (20L, t0) -> ((7.0, 0.0, 0.0)),
      (30L, t0) -> ((10.0, 0.0, 0.0)),
      (30L, t0 + 2 * h) -> ((12.0, 2.0, 2.0)))
  }

  test("energyRange: sum_total differenced at the range endpoints — a " +
    "reset inside the range is absorbed, a series starting inside " +
    "baselines at 0, series with no in-range bucket emit nothing") {
    val t0 = 1704067200000L
    val h = 3600000L
    val events = Seq(
      // user 10: history before AND inside [h2, h4), with a RESET at h2 —
      // endpoint readings difference to 90-160 = -70, but the reset-aware
      // sum differences to (0+60+40+30+20) - (0+60) = 90
      (1L, 10L, ts(0), 100.0), (2L, 10L, ts(61), 160.0),
      (3L, 10L, ts(121), 40.0), (4L, 10L, ts(130), 70.0),
      (5L, 10L, ts(181), 90.0), (6L, 10L, ts(301), 200.0), // h5: post-range
      // user 20: first sample INSIDE the range — no pre-range endpoint,
      // baseline 0, energy = its own in-range growth
      (7L, 20L, ts(121), 5.0), (8L, 20L, ts(181), 8.0),
      // user 30: history only BEFORE the range — no in-range bucket row
      (9L, 30L, ts(0), 10.0), (10L, 30L, ts(61), 12.0),
      // user 40: history only AFTER the range — filtered entirely
      (11L, 40L, ts(301), 3.0)
    ).toDF("event_id", "user_id", "ts", "value")
    val out = EventsExt.energyRange(events,
        startMs = t0 + 2 * h, endMs = t0 + 4 * h).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Double]("energy"), r.getAs[Long]("n_buckets")))).toMap
    out shouldBe Map(10L -> ((90.0, 2L)), 20L -> ((3.0, 2L)))

    // the BAR series over the same whole-bar range (grid = 1h → 2 bars):
    // grid-anchored compaction + range filter, and the bars sum to the
    // range total per series — the dashboard's two halves agree
    val bars = EventsExt.energyBars(events,
        startMs = t0 + 2 * h, endMs = t0 + 4 * h, gridMs = h).collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("bucket_start_ms")) -> r.getAs[Double]("energy")).toMap
    bars shouldBe Map(
      (10L, t0 + 2 * h) -> 70.0, (10L, t0 + 3 * h) -> 20.0, // reset bar: 40+30
      (20L, t0 + 2 * h) -> 0.0, (20L, t0 + 3 * h) -> 3.0)   // first sample: 0
    bars.groupBy(_._1._1).view.mapValues(_.values.sum).toMap shouldBe
      out.map { case (u, (e, _)) => u -> e }
  }

  test("funnel: steps must strictly advance in event time per user") {
    val events = Seq(
      // user 1: view → click → purchase, in order: reaches all 3 steps
      (1L, 1L, "view", ts(0)), (2L, 1L, "click", ts(5)),
      (3L, 1L, "purchase", ts(9)),
      // user 2: purchase BEFORE the view/click: stops at view>click
      (4L, 2L, "purchase", ts(0)), (5L, 2L, "view", ts(1)),
      (6L, 2L, "click", ts(2)),
      // user 3: click before its only view: stops at view
      (7L, 3L, "click", ts(0)), (8L, 3L, "view", ts(1)),
      // user 4: never views: not in the funnel at all
      (9L, 4L, "click", ts(0)), (10L, 4L, "purchase", ts(1)),
      // user 5: click at the SAME ms as the view: strict > excludes it
      (11L, 5L, "view", ts(3)), (12L, 5L, "click", ts(3))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventsExt.funnel(events).as[(String, Long)].collect().toMap
    out shouldBe Map("view" -> 4L, "view>click" -> 2L,
      "view>click>purchase" -> 1L)
  }

  test("cohortOverlap: distinct users per unordered type pair") {
    val events = Seq(
      (1L, 1L, "click", ts(0)), (2L, 1L, "view", ts(1)),
      (3L, 1L, "click", ts(2)),   // duplicate type: still one user
      (4L, 2L, "click", ts(0)), (5L, 2L, "view", ts(1)),
      (6L, 3L, "view", ts(0)), (7L, 3L, "error", ts(1))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventsExt.cohortOverlap(events)
      .as[(String, String, Long)].collect().toSet
    out shouldBe Set(("click", "view", 2L), ("error", "view", 1L))
  }

  test("lastEventPerUser: deterministic tie-break on event_id") {
    val events = Seq(
      (1L, 10L, "a", ts(5)), (2L, 10L, "b", ts(5)), // same ts → higher id wins
      (3L, 20L, "c", ts(1))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventsExt.lastEventPerUser(events)
      .orderBy("user_id").collect()
    out.map(_.getAs[Long]("event_id")) shouldBe Array(2L, 3L)
  }

  test("hourlyWindows: hour_ms buckets and exact decimal sums") {
    val events = Seq(
      (1L, "click", 0.1, ts(0)), (2L, "click", 0.2, ts(59)), // hour 0
      (3L, "click", 0.3, ts(60))                              // hour 1
    ).toDF("event_id", "event_type", "value", "ts")
    val out = EventsExt.hourlyWindows(events).orderBy("hour_ms").collect()
    out.length shouldBe 2
    out(0).getAs[Double]("sum_value") shouldBe 0.3 // exact via DECIMAL, not 0.30000000000000004
    out(0).getAs[Long]("n") shouldBe 2L
    out(1).getAs[Long]("hour_ms") shouldBe 1704067200000L + 3600000L
  }

  test("jsonProps: extracts typed k from the JSON props string") {
    val events = Seq((1L, """{"k": 87}"""), (2L, """{"k": 3}"""))
      .toDF("event_id", "props")
    EventsExt.jsonProps(events).orderBy("event_id")
      .collect().map(_.getAs[Int]("k")) shouldBe Array(87, 3)
  }

  test("movingAvg: trailing 3-row frame, exact decimal sums, per user") {
    val events = Seq(
      (1L, 10L, 1.0, ts(0)), (2L, 10L, 2.0, ts(1)), (3L, 10L, 6.0, ts(2)),
      (4L, 10L, 1.0, ts(3)), (5L, 20L, 9.0, ts(0))
    ).toDF("event_id", "user_id", "value", "ts")
    val out = EventsExt.movingAvg(events).orderBy("user_id", "event_id")
      .collect().map(_.getAs[Double]("mov_avg"))
    out shouldBe Array(1.0, 1.5, 3.0, 3.0, 9.0)
  }

  test("lagDelta: NULL first gap, then ms differences per user") {
    val events = Seq((1L, 10L, ts(0)), (2L, 10L, ts(5)), (3L, 20L, ts(7)))
      .toDF("event_id", "user_id", "ts")
    val out = EventsExt.lagDelta(events).orderBy("user_id", "event_id").collect()
    out(0).isNullAt(out(0).fieldIndex("delta_ms")) shouldBe true
    out(1).getAs[Long]("delta_ms") shouldBe 300000L
    out(2).isNullAt(out(2).fieldIndex("delta_ms")) shouldBe true
  }

  test("pivotTypeCounts: absent event types pivot to 0, not NULL") {
    val events = Seq((1L, 10L, "click"), (2L, 10L, "click"), (3L, 20L, "error"))
      .toDF("event_id", "user_id", "event_type")
    val out = EventsExt.pivotTypeCounts(events).orderBy("user_id").collect()
    out(0).getAs[Long]("n_click") shouldBe 2L
    out(0).getAs[Long]("n_error") shouldBe 0L
    out(1).getAs[Long]("n_error") shouldBe 1L
    out(1).getAs[Long]("n_view") shouldBe 0L
  }

  test("cubeTypeDay: emits all four grouping sets") {
    val events = Seq(
      (1L, "click", 1.0, ts(0)), (2L, "view", 2.0, ts(0)),
      (3L, "click", 3.0, ts(24 * 60))
    ).toDF("event_id", "event_type", "value", "ts")
    val out = EventsExt.cubeTypeDay(events).collect()
    // 3 (type, day) + 2 type subtotals + 2 day subtotals + 1 grand total
    out.length shouldBe 8
    val total = out.find(r =>
      r.isNullAt(r.fieldIndex("event_type")) && r.isNullAt(r.fieldIndex("day_ms"))).get
    total.getAs[Long]("n") shouldBe 3L
    total.getAs[Double]("sum_value") shouldBe 6.0
  }

  test("retention: first-seen-day cohorts counted at each day offset") {
    val day = 86400000L
    val events = Seq(
      (1L, 10L, new Timestamp(1704067200000L)),           // u10 day0
      (2L, 10L, new Timestamp(1704067200000L + 2 * day)), // u10 day2
      (3L, 20L, new Timestamp(1704067200000L + 3600000)), // u20 day0
      (4L, 30L, new Timestamp(1704067200000L + 2 * day))  // u30 day2 cohort
    ).toDF("event_id", "user_id", "ts")
    val out = EventsExt.retention(events)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val d0 = 1704067200000L
    out shouldBe Map((d0, 0L) -> 2L, (d0, 2L) -> 1L, (d0 + 2 * day, 0L) -> 1L)
  }

  test("valueAnomalies: flags the spike, skips in-range rows and " +
    "zero-variance users") {
    val events = (
      // user 1: four zeros and a 10 → mean 2, sd 4, z(10) = 2
      Seq((1L, 0.0), (2L, 0.0), (3L, 0.0), (4L, 0.0), (5L, 10.0)).map {
        case (id, v) => (id, 1L, "click", v, new Timestamp(1704067200000L + id))
      } ++
      // user 2: constant → sd 0 → excluded entirely, no division by zero
      Seq((6L, 2L, "click", 7.0, new Timestamp(1704067200000L)),
        (7L, 2L, "click", 7.0, new Timestamp(1704067201000L)))
    ).toDF("event_id", "user_id", "event_type", "value", "ts")
    val out = EventsExt.valueAnomalies(events, sigmas = 1.6)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    out.keySet shouldBe Set(5L)
    out(5L) shouldBe 2.0 +- 1e-12
  }

  test("resampleLocf: hourly grid carries the last click forward, " +
    "pre-first-click ticks stay NULL, same-ms clicks pick max") {
    val hour = 3600000L
    val events = Seq(
      // user 1: clicks just after the hour marks 1 and 3
      (1L, "click", 5.0, new Timestamp(hour + 100)),
      (1L, "click", 9.0, new Timestamp(hour + 100)), // same ms → max wins
      (1L, "click", 7.0, new Timestamp(3 * hour + 50)),
      (1L, "view", 99.0, new Timestamp(2 * hour)) // non-click: ignored
    ).toDF("user_id", "event_type", "value", "ts")
      .withColumn("event_id", col("user_id"))
    val out = EventsExt.resampleLocf(events)
      .collect()
      .map(r => r.getLong(1) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    // grid = hours 1..3; tick 1h precedes the first click (1h+100ms)
    out shouldBe Map(hour -> None, 2 * hour -> Some(9.0), 3 * hour -> Some(9.0))
  }

  test("userTrend: recovers an exact line, drops zero-variance users") {
    val origin = 1704067200000L // x is centered on 2024-01-01
    val events = Seq(
      // user 1 on value = 2·x + 3 (x in seconds since the 2024 origin)
      (1L, "click", 2003.0, new Timestamp(origin + 1000000L)),
      (1L, "click", 4003.0, new Timestamp(origin + 2000000L)),
      (1L, "click", 6003.0, new Timestamp(origin + 3000000L)),
      // user 2: single event → zero x-variance → filtered
      (2L, "click", 1.0, new Timestamp(origin + 1000000L))
    ).toDF("user_id", "event_type", "value", "ts")
      .withColumn("event_id", col("user_id"))
    val rows = EventsExt.userTrend(events).collect()
    rows.length shouldBe 1
    val r = rows.head
    r.getLong(0) shouldBe 1L
    r.getLong(1) shouldBe 3L
    r.getDouble(2) shouldBe 2.0 +- 1e-9
    r.getDouble(3) shouldBe 3.0 +- 1e-6
  }

  test("sessionizeNative ≡ custom sessionize, INCLUDING at exactly-gap " +
    "(the builtin's window end is inclusive — measured, not assumed)") {
    val away = Seq(
      (1L, 10L, ts(0)), (2L, 10L, ts(10)), (3L, 10L, ts(41)),
      (4L, 10L, ts(50)), (5L, 20L, ts(0))
    ).toDF("event_id", "user_id", "ts")
    val native = EventsExt.sessionizeNative(away)
      .orderBy("user_id", "session_start_ms").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val custom = EventsExt.sessionize(away)
      .orderBy("user_id", "session_start_ms").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[Long]("session_start_ms"), r.getAs[Long]("session_end_ms")))
    native shouldBe custom

    // exactly 30 minutes apart: BOTH merge (inclusive builtin window end
    // ≡ the custom strict->); 30 minutes + 1ms: both split
    val boundary = Seq((1L, 10L, ts(0)), (2L, 10L, ts(30)))
      .toDF("event_id", "user_id", "ts")
    EventsExt.sessionize(boundary).count() shouldBe 1
    EventsExt.sessionizeNative(boundary).count() shouldBe 1
    val past = Seq((1L, 10L, ts(0)),
      (2L, 10L, new java.sql.Timestamp(ts(30).getTime + 1L)))
      .toDF("event_id", "user_id", "ts")
    EventsExt.sessionize(past).count() shouldBe 2
    EventsExt.sessionizeNative(past).count() shouldBe 2
  }

  test("ewmaLevel: exact integer fold in (ms, event_id) order") {
    val events = Seq(
      // user 1: values 1.0, 2.0, 3.0 in time order →
      // s = 1000; (1000+2000) div 2 = 1500; (1500+3000) div 2 = 2250
      (1L, 10L, 1.0, ts(0)),
      (2L, 10L, 2.0, ts(1)),
      (3L, 10L, 3.0, ts(2)),
      // user 2: single event → level = the value itself
      (4L, 20L, 7.25, ts(0)),
      // user 3: same-ms tie broken by event_id: 4.0 then 8.0 → 6000;
      // the other order would give (8000+4000) div 2 = 6000 too — use
      // values where order matters: 1.0 then 0.0 → 500, vs 0.0→1.0 → ...
      (5L, 30L, 1.0, ts(0)),
      (6L, 30L, 0.0, ts(0))
    ).toDF("event_id", "user_id", "value", "ts")
      .withColumn("event_type", lit("click"))
    val out = EventsExt.ewmaLevel(events).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("ewma_milli"))).toMap
    out(10L) shouldBe ((3L, 2250L))
    out(20L) shouldBe ((1L, 7250L))
    // event 5 (v=1.0) seeds, event 6 (v=0.0) folds: (1000+0) div 2 = 500
    out(30L) shouldBe ((2L, 500L))
  }

  test("ewmaLevel: partition-invariant") {
    val events = (0 until 40).map(i =>
      (i.toLong, (i % 4).toLong, (i * 0.37 + 0.01), ts(i)))
      .toDF("event_id", "user_id", "value", "ts")
      .withColumn("event_type", lit("click"))
    val a = EventsExt.ewmaLevel(events).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val b = EventsExt.ewmaLevel(events.repartition(13)).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    a shouldBe b
  }

  test("topPaths: per-user trigrams ordered by time, tie-broken by path") {
    val events = Seq(
      // user 10: a,b,c,b,c → paths a>b>c, b>c>b, c>b>c
      (1L, 10L, "a", ts(0)), (2L, 10L, "b", ts(1)), (3L, 10L, "c", ts(2)),
      (4L, 10L, "b", ts(3)), (5L, 10L, "c", ts(4)),
      // user 20: a,b,c → a>b>c again (count 2)
      (6L, 20L, "a", ts(0)), (7L, 20L, "b", ts(1)), (8L, 20L, "c", ts(2)),
      // user 30: only two events → no trigram
      (9L, 30L, "a", ts(0)), (10L, 30L, "b", ts(1))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val out = EventsExt.topPaths(events, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    out shouldBe Array(("a>b>c", 2L), ("b>c>b", 1L), ("c>b>c", 1L))
  }

  test("topPaths: same-ms events order by event_id; k truncates " +
    "deterministically on the path tie-break") {
    val events = Seq(
      (2L, 10L, "b", ts(0)), (1L, 10L, "a", ts(0)), (3L, 10L, "c", ts(0)),
      (4L, 20L, "x", ts(0)), (5L, 20L, "y", ts(0)), (6L, 20L, "z", ts(0))
    ).toDF("event_id", "user_id", "event_type", "ts")
    // both paths have n=1 → lexicographic path order decides the cut
    EventsExt.topPaths(events, k = 1).collect()
      .map(r => (r.getString(0), r.getLong(1))) shouldBe Array(("a>b>c", 1L))
  }

  test("seasonalProfile: integer hour-of-week buckets, floor-quantized " +
    "exact means") {
    val hour = 3600000L
    def atHour(h: Long) = new Timestamp(h * hour)
    val events = Seq(
      (1L, 10L, 1.25, atHour(5)),    // how 5
      (2L, 10L, 2.5, atHour(5)),     // how 5 → mean (1250+2500)/2000
      (3L, 10L, -0.4, atHour(173)),  // 173 % 168 = how 5? no: 173-168=5 → same bucket, next week
      (4L, 20L, 7.0, atHour(10))     // how 10
    ).toDF("event_id", "user_id", "value", "ts")
    val out = EventsExt.seasonalProfile(events).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // floor(-0.4*1000) = -400 (floor, not truncation toward zero)
    out(5L) shouldBe ((3L, (1250L + 2500L - 400L) / 3000.0))
    out(10L) shouldBe ((1L, 7.0))
    out.keySet shouldBe Set(5L, 10L)
  }

  test("lerpPanel: hand-computed lerp, exact hit, edge back-fill") {
    val h = 3600000L
    // user 10: samples at 00:30 (v=1.0) and 02:30 (v=5.0).
    // grid t0=00:00 .. t1=02:00 →
    //   00:00: before first sample → back-fill 1.0
    //   01:00: between — lerp 1000 + 4000·(30/120) = 2000 → 2.0
    //   02:00: lerp 1000 + 4000·(90/120) = 4000 → 4.0
    // user 20: one sample exactly ON the grid at 01:00 (v=7.0) → 7.0
    val events = Seq(
      (1L, 10L, "click", 1.0, new Timestamp(1800000L)),
      (2L, 10L, "click", 5.0, new Timestamp(2 * h + 1800000L)),
      (3L, 20L, "click", 7.0, new Timestamp(h)),
      (4L, 10L, "view", 99.0, new Timestamp(0L)) // non-click ignored
    ).toDF("event_id", "user_id", "event_type", "value", "ts")
    val out = EventsExt.lerpPanel(events).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    out((10L, 0L)) shouldBe 1.0
    out((10L, h)) shouldBe 2.0
    out((10L, 2 * h)) shouldBe 4.0
    out((20L, h)) shouldBe 7.0
    out.keySet should have size 4
  }

  test("lerpPanel: a NULL-valued click is no sample — it neither " +
    "brackets a tick nor widens the grid, first or last in its bucket") {
    // user 1: NULL at 00:10 heads the first bucket; user 2: NULL at 00:40
    // ends it. Both reduce to the numeric samples 00:20 = 2.0 and
    // 01:30 = 4.0: 00:00 back-fills 2.0, 01:00 lerps
    // (2000·30 + 4000·40) / (70·1000)
    val h = 3600000L
    val events = Seq(
      (1L, 1L, "click", None, ts(10)),
      (2L, 1L, "click", Some(2.0), ts(20)),
      (3L, 1L, "click", Some(4.0), ts(90)),
      (4L, 2L, "click", Some(2.0), ts(20)),
      (5L, 2L, "click", None, ts(40)),
      (6L, 2L, "click", Some(4.0), ts(90))
    ).toDF("event_id", "user_id", "event_type", "value", "ts")
    val out = EventsExt.lerpPanel(events).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val t0 = ts(0).getTime
    out shouldBe Seq(1L, 2L).flatMap(u => Seq(
      (u, t0) -> 2.0, (u, t0 + h) -> 220000.0 / 70000.0)).toMap
  }

  test("lerpPanel: ONE user-keyed exchange feeds both aggregates and the " +
    "fill window; no samples∪grid union") {
    val events = Seq((1L, 10L, "click", 1.0, ts(0)),
      (2L, 10L, "click", 3.0, ts(150)), (3L, 20L, "click", 2.0, ts(30)))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
    val df = EventsExt.lerpPanel(events)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    "Exchange".r.findAllIn(plan).length shouldBe 1
    plan should not include "Union"
  }

  test("downsampleLast: last point per bucket, equal-ms ties collapse to " +
    "max value first (deterministic in both engines)") {
    val h = 3600000L
    val events = Seq(
      (1L, "click", 1.0, new Timestamp(1000L)),
      (2L, "click", 9.0, new Timestamp(500L)),   // earlier, larger — loses
      (3L, "click", 2.0, new Timestamp(h + 1L)), // next bucket
      (4L, "click", 7.0, new Timestamp(h + 1L)), // SAME ms: max wins
      (5L, "view", 3.5, new Timestamp(42L))
    ).toDF("event_id", "event_type", "value", "ts")
    val out = EventsExt.downsampleLast(events).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    out(("click", 0L)) shouldBe ((2L, 1.0, 1000L))
    out(("click", 1L)) shouldBe ((1L, 7.0, h + 1L)) // tie → max value
    out(("view", 0L)) shouldBe ((1L, 3.5, 42L))
    out.keySet should have size 3
  }

  test("histQuantiles: cumulative-histogram upper bounds, hand-computed") {
    // type a: values 0.05,0.15,0.25,...,0.95 → bins 0..9, one count each.
    // ceil(0.5*10)=5 → smallest bin with cum>=5 is bin 4 → est 0.5;
    // ceil(0.9*10)=9 → bin 8 → 0.9; ceil(0.99*10)=10 → bin 9 → 1.0.
    val a = (0 until 10).map(i => (i.toLong, "a", i / 10.0 + 0.05))
    // type b: 3 equal values in one bin — every quantile = that bin's top
    val b = Seq((20L, "b", 2.31), (21L, "b", 2.33), (22L, "b", 2.39))
    val events = (a ++ b).toDF("event_id", "event_type", "value")
    val out = EventsExt.histQuantiles(events).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    out("a") shouldBe ((10L, 0.5, 0.9, 1.0))
    out("b") shouldBe ((3L, 2.4, 2.4, 2.4))
  }

  test("histQuantiles: shard-built histograms merge to the whole-corpus " +
    "answer (mergeability)") {
    val events = (0 until 200)
      .map(i => (i.toLong, if (i % 2 == 0) "x" else "y", (i % 37) * 0.17))
      .toDF("event_id", "event_type", "value")
    val whole = EventsExt.histQuantiles(events).collect()
      .map(r => r.getString(0) -> r.toSeq).toMap
    // simulate independent shards: same computation over 4 disjoint splits
    // unioned BEFORE the aggregate — Spark's partial aggregation IS the
    // shard merge; re-partitioning must not change a single bit
    val sharded = EventsExt.histQuantiles(events.repartition(4)).collect()
      .map(r => r.getString(0) -> r.toSeq).toMap
    sharded shouldBe whole
  }
}
