package graft.sources

import graft.etl.InfluxSink

import java.io.OutputStream
import java.net.HttpURLConnection
import java.nio.charset.StandardCharsets
import java.time.Instant

/** S2: the InfluxDB watermark *read* path — the reference POSTs a Flux
  * pipeline (`from |> range |> filter |> sort |> limit 1`) to
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
       |  |> sort(columns: ["_time"], desc: false)
       |  |> limit(n: 1)""".stripMargin
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
       |  |> sort(columns: ["_time"], desc: false)
       |  |> limit(n: 1)""".stripMargin

  /** Parse InfluxDB annotated CSV: '#'-prefixed annotation rows, then a
    * header row, then data rows; the watermark is `_time` of the first data
    * row. Returns None on an empty result (≡ reference's IndexError path →
    * full re-export). */
  private[sources] def parseOldestTime(annotatedCsv: String): Option[Instant] = {
    val lines = annotatedCsv.split("\r?\n").iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toList
    lines match {
      case header :: first :: _ =>
        val idx = header.split(",").indexOf("_time")
        if (idx < 0) None
        else {
          val cells = first.split(",")
          if (cells.length <= idx) None
          else scala.util.Try(Instant.parse(cells(idx))).toOption
        }
      case _ => None
    }
  }

  /** POST a Flux query body to /api/v2/query, return the annotated-CSV
    * response; fail fast on transport/auth errors (quirk Q8 — the
    * reference exit(1)s on watermark-fetch failure). Shared by the
    * watermark scalar and the DSv2 read path. */
  private[graft] def postFlux(cfg: InfluxSink.Config, flux: String): String = {
    val conn = InfluxSink.endpoint(cfg, "/api/v2/query", "org" -> cfg.org)
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(cfg.connectTimeoutMs)
    conn.setReadTimeout(cfg.readTimeoutMs)
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setRequestProperty("Authorization", s"Token ${cfg.token}")
    conn.setRequestProperty("Content-Type", "application/vnd.flux")
    conn.setRequestProperty("Accept", "application/csv")
    val body = flux.getBytes(StandardCharsets.UTF_8)
    val out: OutputStream = conn.getOutputStream
    try out.write(body) finally out.close()
    val code = conn.getResponseCode
    if (code >= 300) {
      val err = Option(conn.getErrorStream)
        .map(s => try new String(s.readAllBytes(), StandardCharsets.UTF_8).take(300)
                  finally s.close())
        .getOrElse("")
      throw new RuntimeException(s"influx query failed: HTTP $code $err")
    }
    val s = conn.getInputStream
    try new String(s.readAllBytes(), StandardCharsets.UTF_8) finally s.close()
  }

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
