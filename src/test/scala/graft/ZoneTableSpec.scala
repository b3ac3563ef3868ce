package graft

import java.time.{Instant, LocalDate, ZoneId}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The calendar-zone table behind the zone-gated queries. The oracle
  * emulates each named zone with hand-written offsets around a
  * hand-written transition instant; this spec holds those literals to
  * the real zone rules over the span the shifted fixture covers, and pins
  * the generated query names so a generator change cannot silently
  * rename (and so drop) a gated query. */
class ZoneTableSpec extends AnyFunSuite with Matchers {
  // the fixtures' events span 2024-01-01 .. 2024-01-30 at every scale
  private val SpanStartMs =
    Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
  private val SpanEndMs = Instant.parse("2024-01-31T00:00:00Z").toEpochMilli

  test("each row's oracle literals match java.time over the shifted " +
    "fixture span: one transition at tMs from the before to the after " +
    "offset, or none and the fixed offset; every local midnight and the " +
    "tier seam sit on the derived fine grid") {
    SparkEntry.calendarZones should have size 6
    SparkEntry.calendarZones.foreach { z =>
      withClue(s"${z.tz}: ") {
        val rules = ZoneId.of(z.tz).getRules
        val (lo, hi) = (SpanStartMs + z.shiftMs, SpanEndMs + z.shiftMs)
        def offsetMs(ms: Long) =
          rules.getOffset(Instant.ofEpochMilli(ms)).getTotalSeconds * 1000L
        def nextTransitionMs(ms: Long): Option[Long] =
          Option(rules.nextTransition(Instant.ofEpochMilli(ms)))
            .map(_.getInstant.toEpochMilli).filter(_ < hi)
        offsetMs(lo) shouldBe z.offBeforeMs
        z.tMs match {
          case None =>
            z.offAfterMs shouldBe z.offBeforeMs
            nextTransitionMs(lo) shouldBe None
          case Some(t) =>
            nextTransitionMs(lo) shouldBe Some(t)
            offsetMs(t - 1) shouldBe z.offBeforeMs
            offsetMs(t) shouldBe z.offAfterMs
            nextTransitionMs(t) shouldBe None
        }
        val zone = ZoneId.of(z.tz)
        val first = Instant.ofEpochMilli(lo).atZone(zone).toLocalDate
        val last = Instant.ofEpochMilli(hi).atZone(zone).toLocalDate
        Iterator.iterate(first)(_.plusDays(1)).takeWhile(!_.isAfter(last))
          .foreach { day =>
            day.atStartOfDay(zone).toInstant.toEpochMilli % z.gridMs shouldBe
              0L
          }
        val cutoff = LocalDate.parse(z.cutoffDate)
        z.cutoffMs shouldBe cutoff.atStartOfDay(zone).toInstant.toEpochMilli
        z.cutoffMs % z.gridMs shouldBe 0L
        z.cutoffMs should (be > lo and be < hi)
      }
    }
    // the grid is the coarsest that holds every row's midnights
    SparkEntry.calendarZones.map(z => z.tz -> z.gridMs).toMap shouldBe Map(
      "America/New_York" -> 3600000L, "Asia/Kolkata" -> 1800000L,
      "America/Santiago" -> 3600000L, "Australia/Lord_Howe" -> 1800000L,
      "America/Havana" -> 3600000L, "Pacific/Chatham" -> 900000L)
  }

  test("the 30 zone-family names are registered with an oracle text, " +
    "and the table generates exactly the 29 of them that are not the " +
    "persisted read") {
    val names = Seq(
      "events_energy_bars_monthly",
      "events_energy_bars_monthly_persisted",
      "events_statistics_monthly_local",
      "events_energy_bars_monthly_tiered",
      "events_statistics_monthly_tiered",
      "events_energy_bars_monthly_kolkata",
      "events_statistics_monthly_kolkata",
      "events_energy_bars_monthly_kolkata_tiered",
      "events_statistics_monthly_kolkata_tiered",
      "events_energy_bars_monthly_santiago",
      "events_energy_bars_daily_santiago",
      "events_statistics_monthly_santiago",
      "events_statistics_daily_santiago",
      "events_energy_bars_monthly_santiago_tiered",
      "events_energy_bars_monthly_lordhowe",
      "events_energy_bars_daily_lordhowe",
      "events_statistics_monthly_lordhowe",
      "events_statistics_daily_lordhowe",
      "events_energy_bars_monthly_lordhowe_tiered",
      "events_statistics_monthly_lordhowe_tiered",
      "events_energy_bars_monthly_havana",
      "events_energy_bars_daily_havana",
      "events_statistics_monthly_havana",
      "events_statistics_daily_havana",
      "events_energy_bars_monthly_havana_tiered",
      "events_energy_bars_monthly_chatham",
      "events_energy_bars_daily_chatham",
      "events_statistics_monthly_chatham",
      "events_statistics_daily_chatham",
      "events_energy_bars_monthly_chatham_tiered")
    names.distinct should have size 30
    val queries = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    names.filterNot(queries.contains) shouldBe empty
    names.filterNot(oracle.contains) shouldBe empty
    SparkEntry.zoneQueries.map(_.name).toSet shouldBe
      (names.toSet - "events_energy_bars_monthly_persisted")
    oracle("events_energy_bars_monthly_persisted") shouldBe
      oracle("events_energy_bars_monthly")
  }
}
