package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The TIER-STITCHED retention reads: a panel spanning the boundary
  * between fine partials (recent) and a coarse compacted tier (old) must
  * (a) plan TWO partials-parquet scans and never touch raw events — the
  * read a retention ladder serves once fine partials age out — and
  * (b) behave as if compaction never happened: daily rows before the
  * seam, hourly after, cumulative counter state running straight across
  * it. The DuckDB oracle gates the same queries against a direct
  * mixed-granularity computation from raw events. */
class TieredReadSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  private val d = "/root/testdata/sf0.001"
  private val CutoffMs = 1705276800000L // 2024-01-15T00:00:00Z
  private val DayMs = 86400000L

  private def planOf(name: String): (org.apache.spark.sql.DataFrame, String) = {
    val df = SparkEntry.queries(name)(spark, d)
    (df, df.queryExecution.executedPlan.toString)
  }

  test("events_statistics_range_tiered: two partials scans, no raw " +
    "events; daily keys before the seam, hourly after") {
    val (df, plan) = planOf("events_statistics_range_tiered")
    plan should include("graft_partials_")
    (plan should not).include("events.parquet")
    "FileScan parquet".r.findAllIn(plan).size shouldBe 2
    val keys = df.select(col("bucket_ms")).collect().map(_.getLong(0))
    keys should not be empty
    keys.filter(_ < CutoffMs).foreach(_ % DayMs shouldBe 0L)
    // the fine tier is genuinely hourly: some post-seam key is intra-day
    keys.filter(_ >= CutoffMs).exists(_ % DayMs != 0L) shouldBe true
  }

  test("events_counter_stats_tiered: the cumulative sum_total crosses " +
    "the seam — final per-user totals equal the untiered hourly panel's") {
    val s = spark
    import s.implicits._
    val (df, plan) = planOf("events_counter_stats_tiered")
    plan should include("graft_partials_")
    (plan should not).include("events.parquet")
    "FileScan parquet".r.findAllIn(plan).size shouldBe 2
    def lastTotals(frame: org.apache.spark.sql.DataFrame) = frame
      .groupBy(col("user_id"))
      .agg(max_by(col("sum_total"), col("bucket_start_ms")).as("t"))
      .as[(Long, Double)].collect().toMap
    lastTotals(df) shouldBe
      lastTotals(SparkEntry.queries("events_counter_stats_hourly")(spark, d))
  }

  test("events_energy_range_tiered: the dashboard range read across the " +
    "seam returns the untiered energy (compaction is invisible)") {
    val s = spark
    import s.implicits._
    val (df, plan) = planOf("events_energy_range_tiered")
    plan should include("graft_partials_")
    (plan should not).include("events.parquet")
    def energies(frame: org.apache.spark.sql.DataFrame) = frame
      .select(col("user_id"), col("energy"))
      .as[(Long, Double)].collect().toMap
    energies(df) shouldBe
      energies(SparkEntry.queries("events_energy_range")(spark, d))
  }

  // the tiered calendar-zone reads: (title, query, its untiered sibling,
  // zone, UTC phase of a local month start within the hour — the :30 and
  // :15 instants no hourly grid contains)
  private val zoneTiered = Seq(
    ("events_energy_bars_monthly_tiered: two partials scans (hourly " +
      "recency + calendar-day history), no raw events; keys are true NY " +
      "month starts and the bars equal the untiered monthly view",
      "events_energy_bars_monthly_tiered", "events_energy_bars_monthly",
      "America/New_York", 0L),
    ("events_statistics_monthly_tiered: the mean-family sibling — two " +
      "partials scans, no raw events, bit-equal to the untiered monthly " +
      "statistics view",
      "events_statistics_monthly_tiered", "events_statistics_monthly_local",
      "America/New_York", 0L),
    ("events_energy_bars_monthly_kolkata_tiered: the half-hour zone " +
      "THROUGH the tier stitch — two partials scans, no raw events, keys " +
      "are true IST month starts (:30 UTC instants), bars equal the " +
      "untiered Kolkata view",
      "events_energy_bars_monthly_kolkata_tiered",
      "events_energy_bars_monthly_kolkata", "Asia/Kolkata", 1800000L),
    ("events_statistics_monthly_kolkata_tiered: the mean-family " +
      "composed gate — two partials scans, no raw events, bit-equal to " +
      "the untiered Kolkata monthly statistics",
      "events_statistics_monthly_kolkata_tiered",
      "events_statistics_monthly_kolkata", "Asia/Kolkata", 1800000L),
    ("events_energy_bars_monthly_santiago_tiered: the midnight-gap zone " +
      "with the seam AT the gap day — two partials scans, no raw events, " +
      "keys are true Santiago month starts, bars equal the untiered view",
      "events_energy_bars_monthly_santiago_tiered",
      "events_energy_bars_monthly_santiago", "America/Santiago", 0L),
    ("events_energy_bars_monthly_lordhowe_tiered: the half-hour DST zone " +
      "whose seam alignment changes across the transition — two partials " +
      "scans, no raw events, keys are true Lord Howe month starts (:30 " +
      "UTC instants), bars equal the untiered view",
      "events_energy_bars_monthly_lordhowe_tiered",
      "events_energy_bars_monthly_lordhowe", "Australia/Lord_Howe",
      1800000L),
    ("events_statistics_monthly_lordhowe_tiered: the mean-family sibling " +
      "in the half-hour DST zone — two partials scans, no raw events, " +
      "bit-equal to the untiered Lord Howe monthly statistics",
      "events_statistics_monthly_lordhowe_tiered",
      "events_statistics_monthly_lordhowe", "Australia/Lord_Howe", 1800000L),
    ("events_energy_bars_monthly_havana_tiered: the ambiguous-midnight " +
      "zone with the seam AT the 25-hour day — two partials scans, no raw " +
      "events, keys are true Havana month starts, bars equal the untiered " +
      "view",
      "events_energy_bars_monthly_havana_tiered",
      "events_energy_bars_monthly_havana", "America/Havana", 0L),
    ("events_energy_bars_monthly_chatham_tiered: the quarter-hour zone " +
      "with a :15-UTC seam — two partials scans, no raw events, keys are " +
      "true Chatham month starts (:15 UTC instants), bars equal the " +
      "untiered view",
      "events_energy_bars_monthly_chatham_tiered",
      "events_energy_bars_monthly_chatham", "Pacific/Chatham", 900000L))

  zoneTiered.foreach { case (title, name, untiered, tz, phaseMs) =>
    test(title) {
      val (df, plan) = planOf(name)
      plan should include("graft_partials_")
      (plan should not).include("events.parquet")
      "FileScan parquet".r.findAllIn(plan).size shouldBe 2
      val tiered = df.collect()
      tiered should not be empty
      val key = df.columns.indexWhere(Set("bucket_ms", "bucket_start_ms"))
      val zone = java.time.ZoneId.of(tz)
      tiered.map(_.getLong(key)).foreach { k =>
        val local = java.time.Instant.ofEpochMilli(k).atZone(zone)
        local.toLocalTime shouldBe java.time.LocalTime.MIDNIGHT
        local.getDayOfMonth shouldBe 1
        k % 3600000L shouldBe phaseMs
      }
      tiered.map(_.toSeq).toSet shouldBe
        SparkEntry.queries(untiered)(spark, d).collect().map(_.toSeq).toSet
    }
  }
}
