package graft.etl

import graft.model.InfluxPoint
import graft.sources.{FluxCsv, InfluxScan, InfluxWatermarkSource}

import java.nio.charset.StandardCharsets
import java.time.Instant

/** One-shot LEGACY-MARKER cleanup — the upgrade tool for buckets written
  * by pre-`ha_type` versions of the statistics pipeline (the caveat
  * documented at [[graft.Backfill.reverseStatisticsPlan]]): statistics
  * points written WITHOUT the `ha_type=statistics` marker tag (a) evade
  * [[graft.sources.InfluxWatermarkSource.oldestStatisticsTimestamp]], so
  * the first post-upgrade statistics backfill re-exports everything into
  * NEW parallel series, and (b) still match the states watermark's
  * `not exists r["ha_type"]` filter, poisoning the states half's
  * reverse-incremental contract. This tool restores both invariants by
  * REWRITING each marker-less statistics series with the marker added.
  *
  * THE CENTRAL CONSTRAINT — equality-only delete predicates. The InfluxDB
  * v2 delete API supports only tag-EQUALITY conjunctions, and a point
  * carrying EXTRA tags still matches (extra tags never unmatch an
  * equality conjunction). A legacy statistics series' tag set
  * {source, domain, entity_id} is a SUBSET of the same sensor's states
  * series' tags and of its post-upgrade marked statistics series — so any
  * delete wide enough to remove the legacy points ALSO removes the
  * sensor's states history and any already-marked points in the window.
  * The tool therefore works per series in three steps:
  *
  *   1. FETCH the full tag FAMILY (everything the delete predicate will
  *      match) inside the legacy window, with TYPE-AWARE parsing (the
  *      annotated CSV's #datatype row distinguishes double and string
  *      `_value` columns — a states point's string `state` field must
  *      replay as a string);
  *   2. DELETE the window under the tag-equality predicate;
  *   3. WRITE everything back: marker-less STATISTICS-shaped points with
  *      `ha_type=statistics` added, every other fetched point — states
  *      points, already-marked points — VERBATIM;
  *   4. VERIFY the write (trust-but-verify — this tool DELETES from a
  *      live bucket, so "write returned 2xx" is not good enough): the
  *      window is re-fetched and must hold exactly as many points as
  *      were replayed with NO marker-less statistics-shaped point left;
  *      after all series, the phase-1 legacy inventory is re-run and
  *      must come back EMPTY. Any mismatch dumps the replayed
  *      line-protocol to a retained file and aborts non-zero with its
  *      path — nothing is ever lost silently.
  *
  * The write must come last (it would otherwise be wiped with the rest).
  * Each series is processed in BOUNDED TIME CHUNKS (`chunkMs`, default
  * 30 days): only one chunk's family — statistics rows plus however
  * dense the sensor's states history is in that window — is buffered
  * across its fetch→delete→write, so a states-heavy sensor with a
  * years-long legacy window cannot exhaust the heap. A failed write
  * still dumps the buffered lines to stderr after the sink's retries.
  * The whole procedure is IDEMPOTENT over partially-cleaned buckets: a
  * rerun after a crash re-inventories only the still-marker-less
  * windows (already-marked points no longer match phase 1) and replays
  * already-clean family points verbatim.
  *
  * QUIESCENCE REQUIREMENT (inherent fetch→delete race): any point landing
  * in the window between the fetch and the delete is removed without
  * being replayed. STOP every writer into the bucket before `--apply`;
  * the dry-run inventory prints this requirement.
  *
  * Point classification inside an affected family (operator-auditable,
  * exact for buckets this pipeline or the reference wrote): a point is
  * STATISTICS-shaped iff every field is numeric, the field set is
  * non-empty and ⊆ {mean, min, max, state, sum}, and `value` is absent —
  * states points always carry either the numeric `value` field or the
  * STRING `state` field (Transform's F7 dispatch), so they never match;
  * partial statistics rows (a sum-typed hour with NULL sum writes only
  * {state}; a mean-typed hour with NULL mean writes only {min,max}) DO
  * match and get the marker. Field types outside double/string fail
  * loudly rather than risk a mistyped replay. */
object MarkerCleanup {

  private val StatFields = Set("mean", "min", "max", "state", "sum")

  /** Phase 1 — find AFFECTED series: every marker-less HA point carrying
    * a statistics-family field, as per-field rows. Cheap relative to the
    * bucket: statistics series are series × buckets-sized. */
  def legacyFluxQuery(bucket: String): String =
    s"""from(bucket: "$bucket")
       |  |> range(start: 0)
       |  |> filter(fn: (r) => r["source"] == "HA" and not exists r["ha_type"])
       |  |> filter(fn: (r) => contains(value: r["_field"],
       |       set: ["mean", "min", "max", "state", "sum"]))""".stripMargin

  /** A legacy series key: measurement + its (marker-less) tag set. */
  final case class SeriesKey(measurement: String, tags: Map[String, String])

  /** Phase 2 — fetch the full TAG FAMILY the delete predicate will match
    * (no field or marker condition: states points and already-marked
    * points in the window must be fetched so they can be replayed). */
  def seriesFluxQuery(bucket: String, key: SeriesKey,
                      startMs: Long, endMs: Long): String = {
    val tagTerms = key.tags.toSeq.sortBy(_._1).map { case (k, v) =>
      s"""r["${fluxEsc(k)}"] == "${fluxEsc(v)}""""
    }
    val terms = (s"""r["_measurement"] == "${fluxEsc(key.measurement)}"""" +:
      tagTerms).mkString(" and ")
    s"""from(bucket: "$bucket")
       |  |> range(start: time(v: ${startMs * 1000000L}),
       |           stop: time(v: ${endMs * 1000000L}))
       |  |> filter(fn: (r) => $terms)""".stripMargin
  }

  /** Flux string-literal escaping for values embedded in the family
    * fetch: backslash, quote, AND the interpolation trigger — Flux
    * interpolates `${...}` inside double-quoted strings, so a tag value
    * containing `${` would otherwise subvert or break the query. Only
    * the two-character trigger is escaped (Flux's grammar defines
    * `\${` but NOT a bare `\$` escape — escaping every dollar would
    * make a value like `US$ meter` an invalid literal and the series
    * uncleanable). */
  private def fluxEsc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"").replace("${", "\\${")

  final case class SeriesReport(key: SeriesKey, nPoints: Long,
                                firstMs: Long, lastMs: Long,
                                fieldSets: Set[Set[String]],
                                predicate: String)

  final case class Report(series: Seq[SeriesReport], marked: Long,
                          replayed: Long, dryRun: Boolean,
                          chunksApplied: Long = 0L)

  /** Default per-series chunk span: 30 days. Bounds how much of a tag
    * family — statistics rows PLUS the sensor's states history — is
    * buffered in memory across one fetch→delete→write→verify cycle. */
  val DefaultChunkMs: Long = 30L * 86400000L

  /** The four bucket-touching operations, injectable for tests.
    * `queryAnnotated` MUST return datatype-annotated CSV — the family
    * replay is type-aware and refuses un-annotated responses. */
  trait Http {
    def query(flux: String): String
    def queryAnnotated(flux: String): String
    def delete(startIso: String, stopIso: String, predicate: String): Unit
    def write(lines: Seq[String]): Unit
  }

  /** The production [[Http]]: all four operations are posts through the
    * one Influx client ([[InfluxHttp]]), so the fetch, delete, replay and
    * verify share its auth, timeouts and bounded retry on 429/5xx/IO. A
    * delete is safe to resend: it is idempotent over its window. */
  final class HttpTransport(cfg: InfluxSink.Config) extends Http {
    private val writer = new InfluxSink.HttpLineWriter(cfg)
    override def query(flux: String): String =
      InfluxWatermarkSource.postFlux(cfg, flux)

    /** The v2 query API's DEFAULT dialect returns CSV WITHOUT annotation
      * rows (a raw `application/vnd.flux` POST cannot ask for them), so
      * the type-aware family fetch posts the JSON body form and requests
      * the `datatype` annotation explicitly — without it every field
      * would silently parse as double and a states point's string field
      * would be dropped from the replay. */
    override def queryAnnotated(flux: String): String =
      InfluxHttp.query(cfg, "application/json",
        (s"""{"query": "${jsonEsc(flux)}", "dialect": """ +
          """{"header": true, "annotations": ["datatype"]}}""")
          .getBytes(StandardCharsets.UTF_8))

    override def write(lines: Seq[String]): Unit = writer.writeBatch(lines)
    override def delete(startIso: String, stopIso: String,
                        predicate: String): Unit = {
      val body = (s"""{"start": "$startIso", "stop": "$stopIso", """ +
        s""""predicate": "${escQuoted(predicate)}"}""").getBytes(StandardCharsets.UTF_8)
      InfluxHttp.post(cfg, InfluxSink.endpoint(cfg, "/api/v2/delete",
        "org" -> cfg.org, "bucket" -> cfg.bucket), "delete", "application/json",
        body, body.length)
    }
  }

  /** Backslash-and-quote escaping, shared by the JSON delete body and the
    * values inside the delete predicate (same grammar for both). */
  private def escQuoted(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** Full JSON-string escaping for the Flux program embedded in the
    * query body (multi-line programs carry raw newlines). */
  private def jsonEsc(s: String): String =
    escQuoted(s).replace("\n", "\\n").replace("\r", "\\r")
      .replace("\t", "\\t")

  /** Tag-equality delete predicate for one legacy series. NOTE: it also
    * matches every point carrying these tags PLUS extras — the same
    * sensor's states series and any already-marked statistics points —
    * which is exactly why [[run]] fetches and replays the whole family
    * (see the object doc). */
  def deletePredicate(key: SeriesKey): String = {
    val tagTerms = key.tags.toSeq.sortBy(_._1).map { case (k, v) =>
      s"""$k="${escQuoted(v)}""""
    }
    (s"""_measurement="${escQuoted(key.measurement)}"""" +: tagTerms)
      .mkString(" AND ")
  }

  /** One fetched point: full tag set, typed field maps. */
  final case class FamilyPoint(measurement: String,
                               tags: Map[String, String], timeNs: Long,
                               fieldsNum: Map[String, Double],
                               fieldsStr: Map[String, String])

  /** TYPE-AWARE annotated-CSV parse: the #datatype annotation row gives
    * each table's `_value` column type, so string fields (a states
    * point's `state`) survive as strings. Three hard rules: (1) a table
    * WITHOUT a datatype annotation fails loudly — guessing "double"
    * would silently drop string fields from the replay, so the fetch
    * must go through [[Http.queryAnnotated]]; (2) only double and string
    * field types are accepted — anything else (long/bool from a foreign
    * writer) fails loudly rather than risk a mistyped replay;
    * (3) timestamps keep full NANOSECOND precision — flooring to ms
    * would silently re-time (and collide) sub-ms points from foreign
    * double-typed writers in the same family; (4) a data row whose
    * `_time` does not parse, or whose double-typed `_value` does not
    * parse, FAILS THE SERIES — this parse feeds the destructive replay
    * path (run() deletes the window after it), so a silently-dropped
    * row would be a permanently lost point, violating the tool's
    * fail-loudly contract. Rows and tags come from the one annotated-CSV
    * cursor, [[FluxCsv]], so this parse and the sample parse can never
    * drift. Each table's type is checked at its first data row. */
  private[graft] def parseTyped(csv: String): Seq[FamilyPoint] = {
    final case class Row(measurement: String, field: String,
                         num: Option[Double], str: Option[String],
                         timeNs: Long, tags: Map[String, String])
    var checked: FluxCsv.Table = null // the table whose _value type is known
    var valueIsString = false
    val rows = FluxCsv(csv).iterator.map { r =>
      val t = r.table
      if (t ne checked) {
        val dt = t.datatype(t.value).getOrElse(throw new IllegalArgumentException(
          "marker cleanup: response table carries no #datatype " +
            "annotation for _value — the family fetch must request the " +
            "datatype annotation (Http.queryAnnotated); refusing to " +
            "guess field types"))
        require(dt == "double" || dt == "string",
          s"marker cleanup: unsupported _value datatype '$dt' — only " +
            "double/string fields (this pipeline's own output) replay " +
            "safely")
        valueIsString = dt == "string"
        checked = t
      }
      def cell(name: String): String = Option(r.cell(name)).getOrElse(
        throw new IllegalArgumentException(
          s"marker cleanup: data row missing $name column — refusing " +
            s"a lossy replay (row: ${r.toString.take(200)})"))
      val t0 = cell("_time")
      val inst = try Instant.parse(t0) catch {
        case e: Exception => throw new IllegalArgumentException(
          s"marker cleanup: unparsable _time '$t0' — failing the " +
            "series rather than silently dropping the point from the " +
            "replay (the window is deleted after this parse)", e)
      }
      val v = cell("_value")
      val f = cell("_field")
      Row(
        measurement = Option(r.cell(t.measurement)).getOrElse(""),
        field = f,
        num = if (valueIsString) None else Some(
          try v.toDouble catch {
            case e: Exception => throw new IllegalArgumentException(
              s"marker cleanup: unparsable double _value '$v' for " +
                s"field '$f' — failing the series rather than " +
                "silently dropping the point from the replay", e)
          }),
        str = if (valueIsString) Some(v) else None,
        timeNs = Math.addExact(
          Math.multiplyExact(inst.getEpochSecond, 1000000000L),
          inst.getNano.toLong),
        tags = r.tags)
    }
    rows.toSeq
      .groupBy(r => (r.measurement, r.tags, r.timeNs))
      .map { case ((m, tags, ns), rs) =>
        FamilyPoint(m, tags, ns,
          rs.flatMap(r => r.num.map(r.field -> _)).toMap,
          rs.flatMap(r => r.str.map(r.field -> _)).toMap)
      }
      .toSeq.sortBy(p => (p.timeNs, p.tags.size))
  }

  /** Statistics-shape test within an affected family (see object doc). */
  private[graft] def statisticsShaped(p: FamilyPoint): Boolean =
    p.fieldsStr.isEmpty && p.fieldsNum.nonEmpty &&
      !p.fieldsNum.contains("value") &&
      p.fieldsNum.keySet.subsetOf(StatFields)

  /** The replay of one fetched family point: marker-less statistics-
    * shaped points gain `ha_type=statistics`; everything else — states
    * points, already-marked points — replays VERBATIM. Returns
    * (line, gotMarker). */
  private[graft] def replayLine(p: FamilyPoint): (String, Boolean) = {
    val mark = !p.tags.contains("ha_type") && statisticsShaped(p)
    val tags = if (mark) p.tags + ("ha_type" -> "statistics") else p.tags
    (InfluxSink.toLineNs(InfluxPoint(p.measurement, tags, p.fieldsNum,
      p.fieldsStr, 0L), p.timeNs), mark)
  }

  /** Grouped phase-1 rows: per legacy series, the statistics-signature
    * timestamps that define the delete window and the inventory. A
    * timestamp qualifies only when EVERY signature-named field parsed
    * numeric — a states point's `state` field is a STRING, so its
    * unparsable row disqualifies the timestamp (statistics points are
    * all-numeric); partial statistics rows ({state} with a NULL sum,
    * {min,max} with a NULL mean) qualify. A numeric states ATTRIBUTE
    * that collides with a signature name can still false-positive a
    * window — harmless by construction (the family replay is verbatim
    * and [[statisticsShaped]] re-checks against the FULL field set, where
    * the states `value` field excludes it), and visible in the dry-run
    * inventory. */
  def legacyInventory(csv: String)
      : Map[SeriesKey, Seq[(Long, Set[String])]] =
    InfluxScan.parseSamples(FluxCsv(csv)).toSeq
      .groupBy(s => (SeriesKey(s.measurement, s.tags), s.timeMs))
      .view
      .map { case ((key, ms), ss) =>
        (key, ms, ss.map(_.field).toSet, ss.forall(_.value.isDefined))
      }
      .filter { case (_, _, fields, allNumeric) =>
        allNumeric && fields.nonEmpty && fields.subsetOf(StatFields)
      }
      .toSeq
      .groupBy(_._1)
      .view.mapValues(_.map { case (_, ms, fields, _) => (ms, fields) }
        .sortBy(_._1))
      .toMap

  private def iso(ms: Long): String = Instant.ofEpochMilli(ms).toString

  /** Split a series' sorted legacy timestamps into windows spanning at
    * most `chunkMs` each — [first, last] inclusive per chunk; gaps
    * BETWEEN chunks are never fetched or deleted (states points there
    * stay untouched). */
  private[graft] def chunkWindows(pts: Seq[Long],
                                  chunkMs: Long): Seq[(Long, Long)] = {
    require(chunkMs > 0, s"marker cleanup: chunkMs must be positive, " +
      s"got $chunkMs")
    val out = Seq.newBuilder[(Long, Long)]
    var start = pts.head
    var last = pts.head
    pts.tail.foreach { t =>
      if (t - start >= chunkMs) { out += ((start, last)); start = t }
      last = t
    }
    out += ((start, last))
    out.result()
  }

  /** Directory for retained replay dumps: `GRAFT_MARKER_DUMP_DIR` when
    * set (an operator-owned location), else the system temp dir. */
  private def dumpDir(): java.nio.file.Path = {
    val d = sys.env.get("GRAFT_MARKER_DUMP_DIR")
      .map(java.nio.file.Paths.get(_))
      .getOrElse(java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir")))
    java.nio.file.Files.createDirectories(d)
  }

  private val DumpHeaderMagic = "# graft marker-cleanup replay dump v1"

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(
      s.getBytes(StandardCharsets.UTF_8))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s),
      StandardCharsets.UTF_8)

  /** The Influx URL's authority (host[:port]) — recorded in the dump
    * header so a restore refuses a same-named bucket on a DIFFERENT
    * instance, not just a different bucket name. */
  private[graft] def urlAuthority(url: String): String =
    try Option(new java.net.URI(url).getAuthority).getOrElse(url)
    catch { case _: java.net.URISyntaxException => url }

  /** Retain the replayed line protocol on disk for operator recovery;
    * returns the dump path. The file is created OWNER-ONLY where the
    * filesystem supports POSIX permissions (the dump holds every sensor
    * reading in the window — a world-readable temp file would leak it on
    * a multi-user host) and under [[dumpDir]]. The header carries the
    * series key and window as `#` comments (valid line protocol — the
    * write API ignores comment lines): a human-readable `series:` line
    * for the audit drill, and a base64-encoded `restore:` line
    * [[restoreFromDump]] parses back exactly (tag values are arbitrary
    * strings — base64 needs no escaping grammar). The restore line also
    * records the ORG and the URL authority the dump was torn from: a
    * same-named bucket under a different org or Influx instance would
    * otherwise pass the bucket-name check and the restore would pollute
    * a foreign instance while printing RESTORED. */
  private def dumpLines(cfg: InfluxSink.Config, key: SeriesKey,
                        firstMs: Long, lastMs: Long,
                        lines: Seq[String]): java.nio.file.Path = {
    val bucket = cfg.bucket
    val ownerOnly =
      java.nio.file.attribute.PosixFilePermissions.asFileAttribute(
        java.nio.file.attribute.PosixFilePermissions.fromString("rw-------"))
    val dir = dumpDir()
    val p =
      try java.nio.file.Files.createTempFile(dir,
        "marker_cleanup_replay_", ".lp", ownerOnly)
      catch {
        // a non-POSIX filesystem rejects the attribute AT CREATE time —
        // retaining the dump (the only copy of the deleted points)
        // outranks the permission hardening there
        case _: UnsupportedOperationException =>
          java.nio.file.Files.createTempFile(dir,
            "marker_cleanup_replay_", ".lp")
      }
    // the human-readable line is informational only and must stay ONE
    // line — a tag value carrying a newline would otherwise spill its
    // tail into the payload section (the base64 restore line is the
    // machine-parsed truth and needs no such care)
    def oneLine(s: String): String =
      s.replace("\r", " ").replace("\n", " ")
    val header = Seq(
      DumpHeaderMagic,
      s"# series: ${oneLine(key.measurement)} " +
        oneLine(key.tags.toSeq.sorted.map { case (k, v) => s"$k=$v" }
          .mkString(",")) + s" bucket=${oneLine(bucket)}",
      s"# restore: m=${b64(key.measurement)} b=${b64(bucket)} " +
        s"o=${b64(cfg.org)} h=${b64(urlAuthority(cfg.url))} " +
        s"w=$firstMs:$lastMs t=" +
        key.tags.toSeq.sorted.map { case (k, v) => s"${b64(k)}:${b64(v)}" }
          .mkString(","))
    java.nio.file.Files.write(p,
      (header ++ lines).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
    p
  }

  /** A parsed retained dump. `org`/`host` are absent only in dumps
    * written before they were recorded — [[restoreFromDump]] enforces
    * them when present. */
  private[graft] final case class RestoreDump(bucket: String,
      org: Option[String], host: Option[String], key: SeriesKey,
      firstMs: Long, lastMs: Long, lines: Seq[String])

  /** Parse a retained dump back into a [[RestoreDump]]; any malformed
    * restore header fails with a named reason, never a bare MatchError —
    * this is the recovery CLI's front door. */
  private[graft] def parseDump(content: String): RestoreDump = {
    val allLines = content.split("\r?\n").toSeq
    require(allLines.headOption.contains(DumpHeaderMagic),
      "marker cleanup: not a marker-cleanup replay dump (missing " +
        s"'$DumpHeaderMagic' header) — refusing to replay arbitrary " +
        "line protocol through the restore path")
    val restore = allLines.find(_.startsWith("# restore: ")).getOrElse(
      throw new IllegalArgumentException(
        "marker cleanup: dump carries no '# restore:' header"))
    try {
      val kv = restore.stripPrefix("# restore: ").split(" ")
        .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
      def field(k: String): String = kv.getOrElse(k,
        throw new IllegalArgumentException(s"missing '$k='"))
      val window = field("w").split(":")
      require(window.length == 2, s"malformed 'w=${field("w")}'")
      val tags = field("t").split(",").filter(_.nonEmpty)
        .map(_.split(":", 2)).collect {
          case Array(k, v) => unb64(k) -> unb64(v)
        }.toMap
      val lines = allLines.filterNot(l => l.startsWith("#") || l.isEmpty)
      RestoreDump(unb64(field("b")), kv.get("o").map(unb64),
        kv.get("h").map(unb64), SeriesKey(unb64(field("m")), tags),
        window(0).toLong, window(1).toLong, lines)
    } catch {
      case e: IllegalArgumentException => throw new IllegalArgumentException(
        s"marker cleanup: dump restore header corrupt (${e.getMessage}) " +
          "— the dump file was edited or truncated; recover the " +
          "original or reconcile by hand", e)
    }
  }

  /** Post-apply verification failure — the replayed lines are retained
    * at [[dumpPath]]; main() exits non-zero on it. */
  final class VerificationFailed(msg: String, val dumpPath: Option[String])
    extends RuntimeException(msg)

  /** Verification re-fetch attempts per chunk: InfluxDB is not strictly
    * read-your-writes under load, so a slow-to-index (but successful)
    * write must not abort the run with a false POST-APPLY failure — the
    * check retries with a growing backoff before declaring the
    * transport a liar. */
  private val VerifyAttempts = 3

  /** The trust-but-verify step after one chunk's replay: re-fetch the
    * window and require (a) point-count PARITY with the replay and
    * (b) zero marker-less statistics-shaped points left. A transport
    * that accepted the write but dropped or mis-marked points fails
    * here, with the full replayed line protocol retained on disk; a
    * merely slow-to-index one gets [[VerifyAttempts]] re-fetches with
    * `backoffMs`-growing pauses first. */
  private def verifyChunk(cfg: InfluxSink.Config, http: Http,
                          key: SeriesKey, firstMs: Long, lastMs: Long,
                          lines: Seq[(String, Boolean)],
                          backoffMs: Long): Unit = {
    var attempt = 1
    while (true) {
      val after = parseTyped(http.queryAnnotated(
        seriesFluxQuery(cfg.bucket, key, firstMs, lastMs + 1L)))
      val unmarked = after.count(p =>
        !p.tags.contains("ha_type") && statisticsShaped(p))
      if (after.size == lines.size && unmarked == 0) return
      // indexing lag can only make points MISSING; a SURPLUS means a
      // concurrent writer and no amount of waiting shrinks it
      if (attempt >= VerifyAttempts || after.size > lines.size) {
        // the dump write must not be able to mask the failure: if even
        // the dump path is broken (unwritable GRAFT_MARKER_DUMP_DIR),
        // fall back to stderr — the replay is the only copy of the
        // deleted points and may never be lost silently
        val dump = try Some(dumpLines(cfg, key, firstMs, lastMs,
          lines.map(_._1))) catch {
          case e: Exception =>
            System.err.println(
              s"marker cleanup: could not retain the replay dump " +
                s"(${e.getMessage}); replay these ${lines.size} lines " +
                "manually:")
            lines.foreach(l => System.err.println(l._1))
            None
        }
        throw new VerificationFailed(
          s"marker cleanup: POST-APPLY VERIFICATION FAILED for $key " +
            s"window [${iso(firstMs)}, ${iso(lastMs + 1L)}): replayed " +
            s"${lines.size} points but the bucket now holds " +
            s"${after.size} (after $attempt fetch attempts)" +
            (if (unmarked > 0)
              s"; $unmarked marker-less statistics points remain" else "") +
            dump.fold(
              "; the dump could NOT be written — the replay was printed " +
                "to stderr, capture it before closing the terminal")(p =>
              s"; the full replay is retained at $p — restore it with " +
                "--restore-from-dump (or reconcile the bucket against " +
                "it) before re-running"), dump.map(_.toString))
      }
      if (backoffMs > 0) Thread.sleep(backoffMs * attempt)
      attempt += 1
    }
  }

  /** Inventory (always) + per-series, per-chunk family fetch → delete →
    * full replay → VERIFY (unless `dryRun`), then a final re-inventory
    * that must come back empty. Batches writes at `cfg.batchSize`;
    * buffers at most one `chunkMs` window of one family at a time. */
  def run(cfg: InfluxSink.Config, http: Http, dryRun: Boolean = true,
          chunkMs: Long = DefaultChunkMs,
          verifyBackoffMs: Long = 1000L): Report = {
    val bySeries = legacyInventory(http.query(legacyFluxQuery(cfg.bucket)))
    val ordered = bySeries.toSeq
      .sortBy { case (k, _) => (k.measurement, k.tags.toSeq.sorted.toString) }
    val reports = ordered.map { case (key, pts) =>
      SeriesReport(key, pts.size.toLong, pts.head._1, pts.last._1,
        pts.map(_._2).toSet, deletePredicate(key))
    }
    var marked = 0L
    var replayed = 0L
    var nChunks = 0L
    if (!dryRun) {
      ordered.foreach { case (key, pts) =>
        val predicate = deletePredicate(key)
        chunkWindows(pts.map(_._1), chunkMs).foreach {
          case (firstMs, lastMs) =>
            val family = parseTyped(http.queryAnnotated(
              seriesFluxQuery(cfg.bucket, key, firstMs, lastMs + 1L)))
            val lines = family.map(replayLine)
            // delete BEFORE write (the predicate would match the
            // replayed copies); stop is exclusive, one ms past the
            // chunk's last legacy point
            http.delete(iso(firstMs), iso(lastMs + 1L), predicate)
            try lines.map(_._1).grouped(cfg.batchSize).foreach(http.write)
            catch {
              case e: Throwable =>
                // the family rows are already deleted — surface the
                // buffered lines so the operator can replay them before
                // anything is lost
                System.err.println(
                  s"marker cleanup: write-back failed for $key after " +
                    s"delete; replay these ${lines.size} lines manually:")
                lines.foreach(l => System.err.println(l._1))
                throw e
            }
            verifyChunk(cfg, http, key, firstMs, lastMs, lines,
              verifyBackoffMs)
            marked += lines.count(_._2)
            replayed += lines.count(!_._2)
            nChunks += 1L
        }
      }
      // the global half of the verification: re-running the phase-1
      // inventory over the whole bucket must find NOTHING — catches
      // anything the per-chunk checks cannot see (a series the first
      // inventory under-reported, a concurrent writer landing fresh
      // marker-less points mid-run)
      val residual =
        legacyInventory(http.query(legacyFluxQuery(cfg.bucket)))
      if (residual.nonEmpty)
        throw new VerificationFailed(
          s"marker cleanup: POST-APPLY VERIFICATION FAILED — the legacy " +
            s"inventory still reports ${residual.size} marker-less " +
            s"series after apply (" +
            residual.keys.take(5).map(k =>
              s"${k.measurement} ${k.tags.toSeq.sorted.mkString(",")}")
              .mkString("; ") +
            (if (residual.size > 5) "; …" else "") +
            "); no replay was lost (every chunk verified point-count " +
            "parity) — check for concurrent writers and re-run", None)
    }
    Report(reports, marked, replayed, dryRun, nChunks)
  }

  /** Fail fast on a malformed `--chunk-days`: a trailing flag with no
    * value, or a non-numeric/non-positive value, must not silently run
    * with the 30-day default (the operator asked for a bound and
    * believes it is in force). */
  private[graft] def parseChunkDays(args: Array[String]): Long =
    args.indexOf("--chunk-days") match {
      case -1 => DefaultChunkMs
      case i =>
        require(i + 1 < args.length,
          "marker cleanup: --chunk-days requires a value (days), e.g. " +
            "--chunk-days 30")
        val v = args(i + 1)
        val n = v.toLongOption.getOrElse(
          throw new IllegalArgumentException(
            s"marker cleanup: --chunk-days value '$v' is not a number " +
              "(usage: --chunk-days 30)"))
        require(n > 0, s"marker cleanup: --chunk-days must be positive, " +
          s"got $n")
        n * 86400000L
    }

  /** Recovery for the worst-case abort (delete succeeded, replay
    * partially failed, dump retained): re-POST a retained `.lp` dump
    * through the same batched writer, then re-run the chunk verification
    * (point-count parity + zero marker-less residue) against the
    * restored window. IDEMPOTENT: line protocol upserts on
    * (measurement, tags, field, timestamp), so restoring an already-
    * restored (or partially-restored) window converges to the same
    * points and the parity check still gates it. Refuses files without
    * the dump header — this path writes into a live bucket and must not
    * replay arbitrary line protocol. */
  def restoreFromDump(cfg: InfluxSink.Config, http: Http,
                      dumpContent: String,
                      verifyBackoffMs: Long = 1000L): (SeriesKey, Int) = {
    val dump = parseDump(dumpContent)
    // the dump records which bucket — and which ORG and INSTANCE — it
    // was torn from: restoring under a differently-configured
    // environment would pollute a foreign bucket AND pass its parity
    // check (the foreign window is empty), so any mismatch refuses
    // loudly instead of printing RESTORED. A same-named bucket under a
    // different org or Influx URL is exactly that failure mode, hence
    // the org/authority checks (absent only in pre-r20 dumps).
    require(dump.bucket == cfg.bucket,
      s"marker cleanup: dump was taken from bucket '${dump.bucket}' " +
        s"but the environment points at '${cfg.bucket}' — refusing to " +
        "restore into a different bucket; fix INFLUXDB_BUCKET and re-run")
    dump.org.foreach(o => require(o == cfg.org,
      s"marker cleanup: dump was taken from org '$o' but the " +
        s"environment points at '${cfg.org}' — refusing to restore " +
        "into a different org; fix INFLUXDB_ORG and re-run"))
    dump.host.foreach(h => require(h == urlAuthority(cfg.url),
      s"marker cleanup: dump was taken from Influx instance '$h' but " +
        s"the environment points at '${urlAuthority(cfg.url)}' — " +
        "refusing to restore into a different instance; fix " +
        "INFLUXDB_URL and re-run"))
    val (key, firstMs, lastMs, lines) =
      (dump.key, dump.firstMs, dump.lastMs, dump.lines)
    lines.grouped(cfg.batchSize).foreach(http.write)
    verifyChunk(cfg, http, key, firstMs, lastMs,
      lines.map((_, false)), verifyBackoffMs)
    (key, lines.size)
  }

  /** CLI: `graft.etl.MarkerCleanup [--apply] [--chunk-days N]
    * [--restore-from-dump file.lp]`; Influx
    * connection from the environment (S4, fail-fast). Default is the
    * DRY-RUN inventory — audit the listed series and field sets, STOP
    * all writers into the bucket (fetch→delete is not atomic), then
    * re-run with --apply. Each series is cleaned in bounded windows of
    * `--chunk-days` (default 30) so a states-heavy family never buffers
    * a years-long history in memory; after every chunk the window is
    * re-fetched and verified (point-count parity + no marker-less
    * statistics left), and the run ends by re-running the inventory,
    * which must be empty. Reruns are IDEMPOTENT over partially-cleaned
    * buckets — a crash or verification abort mid-run is recovered by
    * `--restore-from-dump <file.lp>` (re-POSTs the retained replay and
    * re-verifies the window) followed by running again. */
  def main(args: Array[String]): Unit = {
    val cfg = InfluxSink.configFromEnv()
    args.indexOf("--restore-from-dump") match {
      case -1 => ()
      case i =>
        require(i + 1 < args.length,
          "marker cleanup: --restore-from-dump requires a file path " +
            "(the retained .lp dump printed by the verification abort)")
        val path = java.nio.file.Paths.get(args(i + 1))
        val content = new String(java.nio.file.Files.readAllBytes(path),
          StandardCharsets.UTF_8)
        val (key, n) = restoreFromDump(cfg, new HttpTransport(cfg), content)
        println(s"marker cleanup [RESTORED]: $n points re-posted for " +
          s"${key.measurement} ${key.tags.toSeq.sorted.mkString(",")} " +
          "and the window re-verified (point-count parity, no " +
          "marker-less residue)")
        return
    }
    val report = run(cfg, new HttpTransport(cfg),
      dryRun = !args.contains("--apply"), chunkMs = parseChunkDays(args))
    val mode = if (report.dryRun) "DRY-RUN" else "APPLIED"
    println(s"marker cleanup [$mode]: ${report.series.size} legacy " +
      s"series, ${report.series.map(_.nPoints).sum} statistics points" +
      (if (report.dryRun) "" else
        s", ${report.marked} marked + ${report.replayed} family points " +
          s"replayed verbatim across ${report.chunksApplied} verified " +
          "chunks"))
    report.series.foreach { r =>
      println(s"  ${r.key.measurement} ${r.key.tags.toSeq.sorted.mkString(",")} " +
        s"n=${r.nPoints} [${iso(r.firstMs)}, ${iso(r.lastMs)}] " +
        s"fields=${r.fieldSets.map(_.toSeq.sorted.mkString("+")).mkString("|")}")
    }
    if (report.dryRun)
      println("NOTE: --apply deletes each series' full TAG FAMILY window " +
        "(states points included) and replays it; stop all writers into " +
        "the bucket first — points arriving between fetch and delete " +
        "would be lost.")
  }
}
