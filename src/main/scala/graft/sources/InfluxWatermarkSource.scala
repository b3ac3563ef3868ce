package graft.sources

import graft.etl.{InfluxHttp, InfluxSink}

import java.nio.charset.StandardCharsets
import java.time.Instant

/** S2: the InfluxDB watermark *read* path — the reference POSTs a Flux
  * pipeline (`from |> range |> filter |> sort |> limit 1`; here with
  * `keep |> group` before the sort, so the limit picks the bucket's oldest
  * point rather than each series' oldest) to
  * `/api/v2/query` and takes the first record's `_time`
  * (sqllite2influxdb.py:54-69). A 1-row result needs no Spark connector:
  * this is a driver-side scalar folded into the main plan as a literal
  * (SURVEY §3.1).
  *
  * Quirk Q1: the reference filters `_measurement == "units"`, which never
  * matches anything the pipeline writes — kept behind `bugCompatUnitsFilter`;
  * the default filters on the `source == "HA"` tag (intended semantics).
  */
object InfluxWatermarkSource {

  /** `sort` and `limit` act per table and `range` yields one table per
    * series, so the tables are merged first. `group()` errors when it
    * merges tables whose `_value` types differ, and a bucket holds both
    * float and string fields (InfluxSink writes both): `keep` drops every
    * column but `_time` before the merge. */
  private val oldestOfBucket = Seq(
    """keep(columns: ["_time"])""", "group()",
    """sort(columns: ["_time"], desc: false)""", "limit(n: 1)"
  ).map("  |> " + _).mkString("\n")

  /** The states half's watermark query. `r["source"] == "HA"` alone would
    * ALSO match the statistics half's points (statisticsPoints writes the
    * same constant source tag), so a statistics backfill would poison the
    * states watermark — the states query additionally excludes any point
    * carrying the statistics marker tag (`not exists r["ha_type"]`), which
    * is a no-op on buckets the reference script populated (it never writes
    * that tag). */
  def fluxQuery(bucket: String, bugCompatUnitsFilter: Boolean = false): String = {
    val filter =
      if (bugCompatUnitsFilter) """filter(fn: (r) => r["_measurement"] == "units")"""
      else """filter(fn: (r) => r["source"] == "HA" and not exists r["ha_type"])"""
    s"""from(bucket: "$bucket")
       |  |> range(start: 0)
       |  |> $filter
       |""".stripMargin + oldestOfBucket
  }

  /** The STATISTICS half's watermark query: statistics-sourced points ONLY
    * (`ha_type == "statistics"`, the marker tag
    * [[graft.etl.Transform.statisticsPoints]] writes). Without the marker
    * the two halves would share one watermark, and a states backfill — or
    * any live states data older than the newest statistics row — would
    * make the statistics half silently skip every row at or newer than
    * the oldest states point, forever (the reverse-incremental contract
    * only exports strictly-older rows). */
  def statisticsFluxQuery(bucket: String): String =
    s"""from(bucket: "$bucket")
       |  |> range(start: 0)
       |  |> filter(fn: (r) => r["source"] == "HA" and r["ha_type"] == "statistics")
       |""".stripMargin + oldestOfBucket

  /** The watermark is the minimum `_time` over every data row of every
    * table of the annotated-CSV reply (each table read with its own
    * header by [[FluxCsv]]), so a reply with one table per series still
    * yields the bucket's oldest. Returns None on an empty result
    * (≡ reference's IndexError path → full re-export); an error table in
    * the reply throws (quirk Q8: the reference exit(1)s on a failed
    * watermark fetch) rather than read as an empty bucket. */
  private[sources] def parseOldestTime(annotatedCsv: String): Option[Instant] =
    FluxCsv(annotatedCsv).iterator.flatMap(r => Option(r.cell(r.table.time))
      .flatMap(c => scala.util.Try(Instant.parse(c)).toOption)).minOption

  /** POST a Flux program to /api/v2/query through the one Influx client
    * ([[InfluxHttp]]) and return the annotated-CSV response. A 429, 5xx or
    * IO error is retried with the client's bounded backoff; any other
    * error status fails at once (quirk Q8 — the reference exit(1)s on
    * watermark-fetch failure). Shared by the watermark scalar and every
    * DSv2 read. */
  private[graft] def postFlux(cfg: InfluxSink.Config, flux: String): String =
    InfluxHttp.query(cfg, "application/vnd.flux", flux.getBytes(StandardCharsets.UTF_8))

  /** POST the Flux query; fail fast on transport/auth errors, None on
    * empty. */
  def oldestTimestamp(cfg: InfluxSink.Config,
                      bugCompatUnitsFilter: Boolean = false): Option[Instant] =
    parseOldestTime(postFlux(cfg, fluxQuery(cfg.bucket, bugCompatUnitsFilter)))

  /** The statistics half's watermark scalar — derived from
    * statistics-sourced points only (see [[statisticsFluxQuery]]). */
  def oldestStatisticsTimestamp(cfg: InfluxSink.Config): Option[Instant] =
    parseOldestTime(postFlux(cfg, statisticsFluxQuery(cfg.bucket)))
}
