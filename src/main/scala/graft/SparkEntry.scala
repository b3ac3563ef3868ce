package graft

import graft.etl.{HaViews, Sources, Tables, Tpch, Transform, Watermark}
import graft.ext.{Bloom, Curation, Dedup, EventsExt, FuzzyJoin, Graph, Multimodal, PortableDedup, PrefixJoin, QualityModel, Similarity, Sketches, Snapshot, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract (SURVEY.md §7): one named query per implemented operator
  * of SURVEY.md §2 plus the [EXT] training-data suite, each with equivalent
  * ANSI SQL the driver runs in DuckDB over the same parquet fixtures.
  *
  * Conventions that make the cross-engine hash compare work:
  *  - every computed column is aliased identically in the Spark code and the
  *    SQL (driver sorts columns by name before hashing);
  *  - integer outputs are BIGINT on both sides (DuckDB len()/count() are
  *    BIGINT; Spark size()/row_number() are INT and get widened here);
  *  - doubles come only from exact integer/decimal arithmetic or a single
  *    terminal division — identical bit patterns in both engines; float
  *    cosines are rounded to 6dp on both sides;
  *  - timestamps cross engines as epoch-ms BIGINTs (quirk Q6, UTC).
  *
  * The HA recorder trio (states / states_meta / state_attributes) is derived
  * deterministically from the `events` fixture by [[HaViews]]; the oracle
  * rebuilds the same trio as DuckDB CTEs ([[haCte]]) — 1:1 by construction.
  */
object SparkEntry {

  // ---- fixture readers --------------------------------------------------
  private def events(s: SparkSession, d: String) = Tables.events(s, d)
  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private def emb(s: SparkSession, d: String) = Tables.embeddings(s, d)

  /** Two deterministic snapshots of `orders` for the CDC queries: the old
    * snapshot lacks every 7th key, the new lacks every 5th and bumps the
    * price of every 3rd — so all four change classes occur. */
  private[graft] def snapshotFixtures(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val o = Tables.orders(s, d)
    val old = o.filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val nw = o.filter(col("o_orderkey") % 5 =!= 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 1)
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        col("o_orderstatus"))
    (old, nw)
  }

  /** Deterministic CDC changelog over orders: U at seq 2 for %3 keys,
    * D at seq 3 for %5 keys, I at seq 1 for the %7 keys the base snapshot
    * excludes. Distinct seq per op class ⇒ (key, seq) unique (the
    * applyChangelog contract) while overlap keys (%15, %21, %35) exercise
    * every latest-wins path. */
  private[graft] def changelogFixture(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val priceT = o.schema("o_totalprice").dataType
    val upd = o.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), lit(2L).as("seq"), lit("U").as("op"),
        (col("o_totalprice") + 2).as("o_totalprice"), col("o_orderstatus"))
    val del = o.filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), lit(3L).as("seq"), lit("D").as("op"),
        lit(null).cast(priceT).as("o_totalprice"),
        lit(null).cast("string").as("o_orderstatus"))
    val ins = o.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), lit(1L).as("seq"), lit("I").as("op"),
        col("o_totalprice"), col("o_orderstatus"))
    upd.unionByName(del).unionByName(ins)
  }

  private def states(s: SparkSession, d: String) = HaViews.states(events(s, d))
  private def meta(s: SparkSession, d: String) = HaViews.statesMeta(events(s, d))
  private def attrs(s: SparkSession, d: String) = HaViews.stateAttributes(events(s, d))

  /** Fixed watermark literal for the P2 range-predicate query:
    * 2024-01-03T00:00:00Z in epoch ms (events start 2024-01-01). */
  private val WatermarkMs = 1704240000000L

  private val persistedDirs =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  /** Heartbeat file each run keeps fresh at its partials root: the O(1)
    * liveness witness the sibling sweep reads instead of walking a
    * dead-looking tree (pid liveness alone is namespace-local). */
  private[graft] val HeartbeatName = "_heartbeat"

  /** Remove a partials tree via `Files.walkFileTree`, which NEVER
    * follows links: a hostile sibling in world-writable /tmp could
    * plant `graft_partials_<deadpid>/link → victim-dir` and turn the
    * sweep into an arbitrary delete (or a link cycle into infinite
    * recursion). The visitor sees a symlink as a FILE and unlinks the
    * link itself — its target is never touched or walked — and the walk
    * enumerates each directory through its own open handle, so a
    * subdirectory swapped for a symlink mid-walk is not re-resolved the
    * way a hand-rolled check-then-recurse File recursion would (TOCTOU).
    * Best-effort: a vanished entry or permission failure abandons the
    * sweep (leak one idle window) rather than aborting JVM init. */
  private[graft] def rmTree(f: java.io.File): Unit = {
    import java.nio.file.{Files, FileVisitResult, Path, SimpleFileVisitor}
    import java.nio.file.attribute.BasicFileAttributes
    try Files.walkFileTree(f.toPath, new SimpleFileVisitor[Path] {
      override def visitFile(p: Path, a: BasicFileAttributes)
          : FileVisitResult = {
        Files.deleteIfExists(p); FileVisitResult.CONTINUE
      }
      override def visitFileFailed(p: Path, e: java.io.IOException)
          : FileVisitResult = {
        Files.deleteIfExists(p); FileVisitResult.CONTINUE
      }
      override def postVisitDirectory(p: Path, e: java.io.IOException)
          : FileVisitResult = {
        Files.deleteIfExists(p); FileVisitResult.CONTINUE
      }
    })
    catch { case _: java.io.IOException => () }
  }

  /** When the tree last PROVED itself alive, O(1): the `_heartbeat`
    * file its owner touches on every [[persistedPartials]] call, falling
    * back to the root directory's own mtime for a pre-heartbeat (or
    * foreign) tree — never a full-tree walk, whose cost a leaked tree
    * controls. Both reads are NOFOLLOW_LINKS: `File.lastModified`
    * follows a link to its target, so a hostile sibling could plant
    * `_heartbeat → /proc/uptime` (or any frequently-touched file) and
    * keep a dead tree "hot" forever; a link's OWN mtime is fixed at
    * plant time and ages out normally. */
  private[graft] def lastAliveMs(root: java.io.File): Long = {
    import java.nio.file.{Files, LinkOption}
    def mtime(p: java.nio.file.Path): Long =
      try Files.getLastModifiedTime(p, LinkOption.NOFOLLOW_LINKS).toMillis
      catch { case _: java.io.IOException => 0L }
    math.max(mtime(root.toPath.resolve(HeartbeatName)), mtime(root.toPath))
  }

  /** Reclaim sibling `graft_partials_<pid>` roots whose pid no longer
    * names a live process AND whose heartbeat has gone cold. Pid
    * liveness is HOST/NAMESPACE-LOCAL: with /tmp shared across
    * containers (separate pid namespaces) or NFS-mounted by several
    * hosts, a foreign JVM's live pid can look dead here — so the sweep
    * ALSO requires a stale heartbeat (nothing in 6 h; a live run
    * touches `_heartbeat` on EVERY persisted-partials call, reads
    * included, and whole-bench runs finish in minutes). A crashed run's
    * tree is still reclaimed — just one idle window later. Extracted
    * from JVM init so PartialsSweepSpec can drive it against planted
    * trees. */
  private[graft] def sweepStaleSiblings(tmp: java.io.File, nowMs: Long,
                                        selfPid: Long): Unit = {
    val sweepColdMs = 6L * 3600000L
    Option(tmp.listFiles()).foreach(_.foreach { f =>
      val n = f.getName
      if (n.startsWith("graft_partials_"))
        n.stripPrefix("graft_partials_").toLongOption.foreach { pid =>
          val live = ProcessHandle.of(pid)
            .map[java.lang.Boolean](_.isAlive).orElse(false)
          if (!live && pid != selfPid &&
            lastAliveMs(f) < nowMs - sweepColdMs)
            rmTree(f)
        }
    })
  }

  /** Pid-unique root for the on-disk partials tables, removed by a
    * shutdown hook: unique-per-JVM paths fix concurrent-JVM clobbering
    * but would otherwise LEAK a parquet tree per run — repeated bench/CI
    * JVMs would fill /tmp. The shutdown hook cannot run for a SIGKILLed
    * or OOM-killed JVM, so first init also sweeps dead-and-cold
    * siblings ([[sweepStaleSiblings]]) — a crashed run's tree is
    * reclaimed by a later run instead of leaking until pid reuse
    * silently overwrites it. */
  private lazy val partialsRoot: String = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    sweepStaleSiblings(tmp, System.currentTimeMillis(),
      ProcessHandle.current().pid())
    val root = s"${tmp.getPath}/graft_partials_" +
      s"${ProcessHandle.current().pid()}"
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      rmTree(new java.io.File(root))
    }))
    root
  }

  /** Touch the root's `_heartbeat` (create-or-truncate updates mtime):
    * the proof-of-life [[sweepStaleSiblings]] requires before reclaiming
    * a dead-looking tree. Called on every persisted-partials access —
    * reads too, so a long foreign run that only READS its tables across
    * a shared /tmp still renews its lease. Best-effort. */
  private def touchHeartbeat(): Unit =
    try {
      val rootP = java.nio.file.Paths.get(partialsRoot)
      java.nio.file.Files.createDirectories(rootP)
      java.nio.file.Files.write(rootP.resolve(HeartbeatName),
        Array.emptyByteArray): Unit
    } catch { case _: java.io.IOException => () }

  /** The PERSISTED half of the incremental-statistics story: write the
    * mergeable hourly partials to parquet ONCE per (fixture dir × JVM) and
    * hand back a reader over the ON-DISK table — so a `_persisted` query's
    * plan scans the partials parquet and never the raw events (the
    * "persist once, compact forever, never re-read raw samples" contract
    * of EventsExt.statisticsCompact, exercised through an actual disk
    * round-trip: BIGINT/DECIMAL partials schemas must survive parquet
    * bit-exactly for the compaction hash gates to pass). */
  private def persistedPartials(s: SparkSession, d: String, name: String)
                               (build: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    touchHeartbeat()
    val dir = persistedDirs.computeIfAbsent((d, name), { _ =>
      // the sanitized fixture path keeps the directory readable, but two
      // DISTINCT fixture dirs can sanitize identically ('/x/sf0.1' vs
      // '/x/sf0_1') — a SHA-1 digest of the RAW path disambiguates, so the
      // cache map and the on-disk layout key on exactly the same identity;
      // the JVM pid in the root keeps two concurrent bench JVMs from
      // overwriting each other's table mid-read
      val safe = d.replaceAll("[^A-Za-z0-9._-]", "_")
      val digest = java.security.MessageDigest.getInstance("SHA-1")
        .digest(d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(4).map("%02x".format(_)).mkString
      val out = s"$partialsRoot/$safe-$digest/$name"
      build.write.mode("overwrite").parquet(out)
      out
    })
    s.read.parquet(dir)
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    Transform.flatPipeline(states(spark, d), meta(spark, d), attrs(spark, d))
  }

  // ---- calendar zones ---------------------------------------------------

  /** One zone the energy dashboard's calendar views are gated in. Each
    * row generates its queries ([[zoneQueries]]), their oracle SQL
    * ([[energyBarsTwoOffsetSql]], [[statisticsTwoOffsetSql]]) and
    * PlanAudit's shape tokens. Spark runs the real named zone `tz`; the
    * oracle emulates it with the hand-written signed UTC offsets before
    * and after the transition instant `tMs` (None: a fixed offset over
    * the span) and never asks java.time — ZoneTableSpec checks those
    * literals against the zone rules over the shifted fixture span. Both
    * sides move the January fixture `shiftDays` forward onto the
    * transition. `cutoffDate` is the local day the tiered queries' coarse
    * calendar-day tier hands over to the fine partials; `daily` adds the
    * per-local-day forms, `statsTiered` the tiered monthly statistics. */
  private[graft] final case class CalendarZone(
      key: String, tz: String, shiftDays: Int, tMs: Option[Long],
      offBeforeMs: Long, offAfterMs: Long, cutoffDate: String,
      daily: Boolean, statsTiered: Boolean) {
    /** Query-name suffix: the home zone's names carry none. */
    def suffix: String = if (key == "ny") "" else s"_$key"
    def shiftMs: Long = shiftDays * 86400000L
    /** Fine-partials grid: the calendar regroup is exact only when every
      * local midnight lands on a fine-bucket boundary — hourly for
      * whole-hour offsets, 30 minutes for half-hour ones, 15 for
      * quarter-hour ones. */
    def gridMs: Long = Seq(offBeforeMs, offAfterMs)
      .foldLeft(BigInt(3600000L))((g, o) => g.gcd(BigInt(o))).toLong
    /** First wall instant that maps unambiguously at the new offset. */
    def wMs: Long = tMs.getOrElse(0L) + math.max(offBeforeMs, offAfterMs)
    /** The tier seam: the first instant of the local `cutoffDate`. */
    def cutoffMs: Long = java.time.LocalDate.parse(cutoffDate)
      .atStartOfDay(java.time.ZoneId.of(tz)).toInstant.toEpochMilli
  }

  private[graft] val calendarZones: Seq[CalendarZone] = Seq(
    // the home zone: America/New_York is a constant -5 h (EST) over the
    // January fixture, so the oracle's fixed offset is exact; its DST
    // transitions are pinned by EnergyCalendarSpec
    CalendarZone("ny", "America/New_York", 0, None, -18000000L, -18000000L,
      "2024-01-15", daily = false, statsTiered = true),
    // a HALF-HOUR offset (+05:30, no DST): local midnight is a :30-UTC
    // instant, which hourly partials would misattribute to the
    // month-straddling bucket (EnergyCalendarSpec pins the divergence)
    CalendarZone("kolkata", "Asia/Kolkata", 0, None, 19800000L, 19800000L,
      "2024-01-15", daily = false, statsTiered = true),
    // the midnight GAP: the 2024-09-08 spring-forward lands AT local
    // midnight (00:00 -04 jumps to 01:00 -03), so the gap day truncates
    // to a midnight that does not exist; java.time (and so calendarBucket)
    // shifts it into the later offset and the 23-hour day keys at its true
    // first instant, 04:00Z — also the tier seam, which a literal
    // local-midnight check would wrongly reject
    CalendarZone("santiago", "America/Santiago", 245, Some(1725768000000L),
      -14400000L, -10800000L, "2024-09-08", daily = true,
      statsTiered = false),
    // a half-hour offset WITH a 30-MINUTE DST shift (+10:30 → +11 on
    // 2024-10-06): the spring-forward day spans 23.5 hours and local
    // midnights sit at :30 UTC before the transition, :00 after; the Oct
    // 10 tier seam is a :00 midnight while every coarse day before the
    // transition starts at :30 — the alignment change a fixed offset
    // cannot exercise
    CalendarZone("lordhowe", "Australia/Lord_Howe", 273,
      Some(1728142200000L), 37800000L, 39600000L, "2024-10-10",
      daily = true, statsTiered = true),
    // the AMBIGUOUS midnight, the mirror of the Santiago gap: the
    // 2024-11-03 fall-back lands 01:00 -04 → 00:00 -05, so the 25-hour
    // day's first wall hour occurs twice and java.time resolves its
    // midnight to the EARLIER offset (04:00Z) — also the tier seam
    CalendarZone("havana", "America/Havana", 301, Some(1730610000000L),
      -14400000L, -18000000L, "2024-11-03", daily = true,
      statsTiered = false),
    // a QUARTER-hour offset (+12:45 → +13:45 on 2024-09-29, a 02:45→03:45
    // skip away from midnight): local midnights are :15-UTC instants
    // (11:15Z before, 10:15Z after) that neither hourly nor 30-minute
    // partials contain, and the Oct 5 tier seam is one of them
    CalendarZone("chatham", "Pacific/Chatham", 265, Some(1727532000000L),
      45900000L, 49500000L, "2024-10-05", daily = true,
      statsTiered = false))

  /** A query generated from a [[CalendarZone]] row. `energy` and
    * `tiered` pick its plan shape in PlanAudit. */
  private[graft] final case class ZoneQuery(
      name: String, run: (SparkSession, String) => DataFrame,
      oracle: String, energy: Boolean, tiered: Boolean)

  /** Every row registers, on its named zone:
    *  - energy bars per local month (and per local day): per-sample
    *    deltas over the row's fine grid, regrouped onto calendar periods;
    *  - the statistics row per local month (and day): fine partials
    *    re-bucketed onto the period — every slot mergeable, so the row is
    *    bit-equal to the oracle's direct pieces → period fold;
    *  - the TIERED monthly energy bars (and statistics): persisted fine
    *    partials for recency ∪ a persisted LOCAL-CALENDAR-DAY tier compacted
    *    from them for history (fixed 24 h buckets would straddle calendar
    *    boundaries at a transition), stitched at the row's local-midnight
    *    seam and regrouped onto months. The oracle is the untiered
    *    monthly text, so the gate proves tiering never changes the view. */
  private[graft] lazy val zoneQueries: Seq[ZoneQuery] =
    calendarZones.flatMap { z =>
      def ev(s: SparkSession, d: String) =
        if (z.shiftDays == 0) events(s, d)
        else events(s, d)
          .withColumn("ts", col("ts") + expr(s"INTERVAL ${z.shiftDays} DAYS"))
      val forms = Seq("monthly" -> "MONTH") ++
        (if (z.daily) Seq("daily" -> "DAY") else Nil)
      val raw = forms.flatMap { case (form, unit) =>
        val period = unit.toLowerCase
        Seq(
          ZoneQuery(s"events_energy_bars_$form${z.suffix}", (s, d) =>
            EventsExt.energyBarsCalendar(ev(s, d), unit = unit, tz = z.tz,
              everyMs = z.gridMs),
            energyBarsTwoOffsetSql(z, period), energy = true, tiered = false),
          // the home zone's monthly statistics predate the table's naming
          ZoneQuery(s"events_statistics_$form" +
              (if (z.suffix.isEmpty) "_local" else z.suffix), (s, d) =>
            EventsExt.statisticsCalendarCompact(
              EventsExt.statisticsPartialsHourly(ev(s, d), stepMs = z.gridMs),
              unit = unit, tz = z.tz),
            statisticsTwoOffsetSql(z, period), energy = false, tiered = false))
      }
      val energyTiered = ZoneQuery(
        s"events_energy_bars_monthly${z.suffix}_tiered", (s, d) => {
          val fine = persistedPartials(s, d, s"counter_fine_${z.key}")(
            EventsExt.counterStatsPartialsHourly(ev(s, d), everyMs = z.gridMs))
          val day = persistedPartials(s, d, s"counter_day_${z.key}")(
            EventsExt.counterStatsCalendarPartials(fine, unit = "DAY",
              tz = z.tz))
          EventsExt.energyBarsCalendarOfPartials(
            EventsExt.counterStatsCalendarTierPartials(fine, day,
              cutoffMs = z.cutoffMs, tz = z.tz),
            unit = "MONTH", tz = z.tz)
        }, energyBarsTwoOffsetSql(z, "month"), energy = true, tiered = true)
      val statsTiered = ZoneQuery(
        s"events_statistics_monthly${z.suffix}_tiered", (s, d) => {
          val fine = persistedPartials(s, d, s"stat_fine_${z.key}")(
            EventsExt.statisticsPartialsHourly(ev(s, d), stepMs = z.gridMs))
          val day = persistedPartials(s, d, s"stat_day_${z.key}")(
            EventsExt.statisticsCalendarPartials(fine, unit = "DAY",
              tz = z.tz))
          EventsExt.statisticsCalendarCompact(
            EventsExt.statisticsCalendarTierPartials(fine, day,
              cutoffMs = z.cutoffMs, tz = z.tz),
            unit = "MONTH", tz = z.tz)
        }, statisticsTwoOffsetSql(z, "month"), energy = false,
        tiered = true)
      raw ++ Seq(energyTiered) ++ (if (z.statsTiered) Seq(statsTiered) else Nil)
    }

  /** `literal` ∪ one entry per zone query. A Scala Map merge silently
    * drops a duplicate key, so a generated name that collides with a
    * literal one — or with another generated one — fails loudly. */
  private def withZoneQueries[V](literal: Map[String, V])
                                (value: ZoneQuery => V): Map[String, V] = {
    val names = zoneQueries.map(_.name)
    require(names.distinct.size == names.size &&
      !names.exists(literal.contains),
      s"zone-table names collide: ${names.diff(names.distinct) ++
        names.filter(literal.contains)}")
    literal ++ zoneQueries.map(q => q.name -> value(q))
  }

  // ---- queries ----------------------------------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    withZoneQueries[(SparkSession, String) => DataFrame](Map(
    // === core HA pipeline (SURVEY §2.1-2.7) ===
    "core_pipeline" -> ((s, d) =>
      Transform.flatPipeline(states(s, d), meta(s, d), attrs(s, d))),
    // S1 real-database roundtrip: the recorder trio seeded into embedded
    // Derby (the sandbox ships no SQLite jar — JdbcSourceSpec), read back
    // as disjoint range-partitioned JDBC queries on last_updated_ms, fed
    // through the SAME pipeline, hash-gated against the parquet oracle
    "core_pipeline_jdbc" -> ((s, d) => {
      val url = Sources.derbyRecorder(s, d, states(s, d), meta(s, d), attrs(s, d))
      def low(df: DataFrame) = df.select(df.columns.toSeq.map(c =>
        col(c).as(c.toLowerCase(java.util.Locale.ROOT))): _*)
      Transform.flatPipeline(
        low(Sources.rangedJdbc(s, url, "states", "LAST_UPDATED_MS", None)),
        low(Sources.jdbc(s, url, "states_meta")),
        low(Sources.jdbc(s, url, "state_attributes")))
    }),
    // O1 bug-compat global sort (sqllite2influxdb.py:89-90)
    "core_pipeline_sorted" -> ((s, d) =>
      Transform.flatPipeline(states(s, d), meta(s, d), attrs(s, d))
        .orderBy(col("time_ms"), col("event_id"))),
    // the LONG-TERM-STATISTICS migration: recorder statistics ⋈
    // statistics_meta (broadcast) → one flat point per (sensor, hour),
    // mean-type vs sum-type sensors publishing disjoint column triples
    "ha_statistics_points" -> ((s, d) =>
      Transform.statisticsPipeline(
        HaViews.statistics(events(s, d)),
        HaViews.statisticsMeta(events(s, d)))),
    // full point-struct build; the map columns are projected through
    // to_json (insertion order is deterministic: map()/map_concat preserve
    // it) so the driver canonicalizer sees scalar strings and the DuckDB
    // oracle rebuilds the identical JSON text
    "core_points" -> ((s, d) =>
      Transform.corePipeline(states(s, d), meta(s, d), attrs(s, d))
        .select(col("event_id"), col("measurement"),
          to_json(col("tags")).as("tags_json"),
          to_json(col("fields_num")).as("fields_num_json"),
          to_json(col("fields_str")).as("fields_str_json"),
          col("time_ms"))),
    // same pipeline over the REAL recorder shape (last_updated_ts REAL
    // epoch-seconds, no event_id — Schemas.states) via the ms adapter
    "core_pipeline_recorder" -> ((s, d) => {
      val recorder = states(s, d).select(col("metadata_id"),
        col("attributes_id"), col("state"),
        (col("last_updated_ms") / 1000.0).as("last_updated_ts"))
      Transform.flatPipeline(Transform.fromRecorder(recorder),
        meta(s, d), attrs(s, d), withEventId = false)
    }),
    // J1: inner equi-join states ⋈ states_meta (broadcast)
    "join_inner_meta" -> ((s, d) =>
      states(s, d).join(broadcast(meta(s, d)), Seq("metadata_id"), "inner")
        .select(col("event_id"), col("metadata_id"), col("entity_id"),
          col("state"), col("last_updated_ms"))),
    // J2: left outer join states ⟕ state_attributes (broadcast, NULL path)
    "join_left_attrs" -> ((s, d) =>
      states(s, d).join(broadcast(attrs(s, d)), Seq("attributes_id"), "left")
        .select(col("event_id"), col("attributes_id"), col("shared_attrs"))),
    // P3: junk-state filter
    "filter_junk_states" -> ((s, d) => Transform.filterJunk(states(s, d))),
    // P2/Q2: watermark range predicate, epoch-to-epoch
    "watermark_filter" -> ((s, d) =>
      states(s, d).filter(Transform.olderThan(col("last_updated_ms"), WatermarkMs))
        .select(col("event_id"), col("state"), col("last_updated_ms"))),
    // A1/S2: min-timestamp watermark (intended semantics)
    "watermark_min" -> ((s, d) => Watermark.oldestEventMs(s, d, "purchase")),
    // per-entity resume bounds (fleet-scale watermarking)
    "watermark_per_entity" -> ((s, d) =>
      Watermark.perEntityWatermarks(states(s, d), meta(s, d))),
    // P6/Q1: bug-compat Flux `_measurement == "units"` filter — matches nothing
    "watermark_units_bugcompat" -> ((s, d) =>
      Watermark.oldestEventMs(s, d, "units")),
    // O2: top-k oldest via sort+limit (TakeOrderedAndProject)
    "topk_oldest" -> ((s, d) =>
      events(s, d)
        .select(col("event_id"),
          unix_millis(date_trunc("MILLISECOND", col("ts"))).as("ts_ms"))
        .orderBy(col("ts_ms"), col("event_id")).limit(5)),
    // F1: first-dot entity split
    "entity_split" -> ((s, d) =>
      meta(s, d).select(col("metadata_id"), col("entity_id"),
        Transform.entityDomain(col("entity_id")).as("domain"),
        Transform.entityShort(col("entity_id")).as("entity_id_short"))),
    // F2/F9/P5: permissive JSON parse + map flatten, blocklist applied
    "json_flatten" -> ((s, d) =>
      attrs(s, d).select(col("attributes_id"),
        explode(Transform.withoutBlocked(Transform.parseAttrs(col("shared_attrs"))))
          .as(Seq("key", "value")))),
    // F7/Q3: conditional float/string dispatch of the state column
    "numeric_dispatch" -> ((s, d) =>
      states(s, d).select(col("event_id"), col("state"),
        when(Transform.isNumericLike(col("state")), col("state").try_cast("double"))
          .as("value_num"),
        when(!Transform.isNumericLike(col("state")), col("state")).as("state_str"))),
    // F4: unit default-then-remap (order-sensitive)
    "unit_defaulting" -> ((s, d) =>
      attrs(s, d).select(col("attributes_id"),
        Transform.measurement(Transform.parseAttrs(col("shared_attrs")))
          .as("measurement"))),
    // F3/Q5: friendly_name default on missing key
    "friendly_name_default" -> ((s, d) => {
      val a = Transform.parseAttrs(col("shared_attrs"))
      attrs(s, d).select(col("attributes_id"),
        element_at(a, "friendly_name").as("friendly_name_raw"),
        Transform.friendlyName(a, concat(lit("dev_"), col("attributes_id")))
          .as("friendly_name"))
    }),
    // F5/Q6: epoch → timestamp rendering, UTC
    "epoch_to_ts" -> ((s, d) =>
      states(s, d).select(col("event_id"),
        date_format(
          Transform.epochToTs(floor(col("last_updated_ms") / 1000).cast("long")),
          "yyyy-MM-dd HH:mm:ss").as("ts_str"))),
    // A2: row counter
    "progress_count" -> ((s, d) =>
      events(s, d).agg(count(lit(1)).as("n_rows"))),
    // the spark.sql surface: temp view + ANSI SQL + a graft-registered
    // native function (sorted_intersect_count via GraftExtensions)
    "sql_surface" -> ((s, d) => {
      docs(s, d).createOrReplaceTempView("documents_v")
      s.sql(
        """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(sorted_intersect_count(
          |        array_sort(array_distinct(transform(split(text, ' '), x -> xxhash64(x)))),
          |        array_sort(array(xxhash64('data'), xxhash64('spark'),
          |                         xxhash64('table'), xxhash64('value'))))) AS BIGINT) AS kw_hits
          |FROM documents_v GROUP BY lang""".stripMargin)
    }),

    // === [EXT] dedup suite (X1/X2) ===
    "dedup_exact" -> ((s, d) => Dedup.exact(docs(s, d))),
    "dedup_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(docs(s, d))),
    // all-pairs n-gram Jaccard — oracle path, bounded to a 10% doc sample
    "dedup_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(docs(s, d).filter(col("doc_id") % 10 === 0), 0.2)),
    // SOUND prefix-filtered twin (AllPairs + PPJoin positional filter):
    // same oracle as dedup_jaccard — lossless blocking, exact verify
    "dedup_jaccard_prefix" -> ((s, d) =>
      PrefixJoin.jaccardPairs(docs(s, d).filter(col("doc_id") % 10 === 0), 0.2)),
    // scale paths: LSH-banded / pigeonhole candidates (rows-only checks)
    "dedup_minhash_lsh" -> ((s, d) =>
      Dedup.minhashLsh(docs(s, d), shingleK = 2, bands = 16, rowsPerBand = 2,
        threshold = 0.05)),
    "dedup_simhash" -> ((s, d) => Dedup.simhashPairs(docs(s, d), maxDist = 10)),
    // LSH pairs → connected near-dup clusters with a canonical keeper
    "dedup_clusters" -> ((s, d) =>
      Dedup.canonicalClusters(
        Dedup.minhashLsh(docs(s, d), shingleK = 2, bands = 16, rowsPerBand = 2,
          threshold = 0.05).select("doc_a", "doc_b"))),
    "dedup_embedding" -> ((s, d) =>
      Dedup.embeddingNearDups(emb(s, d), threshold = 0.2)),
    // portable-hash twins of the scale paths above: same algorithms, md5-
    // derived hashes both engines compute identically → full oracle gate
    // over the dedup pipeline (signatures → LSH pairs → clusters → simhash)
    "dedup_minhash_sig" -> ((s, d) => PortableDedup.minhashSig(docs(s, d))),
    "dedup_lsh_pairs" -> ((s, d) => PortableDedup.lshPairs(docs(s, d))),
    // MinHash estimator vs exact Jaccard per candidate pair — the
    // estimator's ERROR is itself oracle-gated (est = int/8, truth = one
    // terminal integer division; both bit-exact cross-engine)
    "dedup_jaccard_est" -> ((s, d) => PortableDedup.jaccardEstimates(docs(s, d))),
    // LSH quality audit: precision/recall of the banded candidates vs the
    // exact shingle-Jaccard truth — one bit-exact row
    "dedup_lsh_quality" -> ((s, d) => PortableDedup.lshQuality(docs(s, d))),
    // per-doc duplicated k-token-span fraction (substring-level dedup
    // signal; spans shared by >= 2 docs)
    "dedup_substring_spans" -> ((s, d) => PortableDedup.substringSpans(docs(s, d))),
    "dedup_clusters_cc" -> ((s, d) => PortableDedup.clusters(docs(s, d))),
    "dedup_simhash_sig" -> ((s, d) => PortableDedup.simhashSig(docs(s, d))),
    "dedup_survivors" -> ((s, d) => PortableDedup.survivors(docs(s, d))),
    // the whole training-data pipeline as ONE query — dedup survivors →
    // quality scoring → per-lang token-budget packing — so the end-to-end
    // cost (LSH computed once, not per stage-query) is benched and the
    // composed result is oracle-gated, not just each stage in isolation
    "pipeline_dedup_pack" -> ((s, d) => {
      val dd = docs(s, d)
      Curation.budgetPack(
        dd.join(PortableDedup.survivors(dd).select(col("doc_id")), Seq("doc_id")))
    }),
    // second chained pipeline, every stage oracle-exact end-to-end:
    // per-domain cap (WindowGroupLimit) → LR quality filter (lr_logit
    // pure projection) → deterministic (shard, pos) training order over
    // exactly the surviving set
    "pipeline_cap_score_shard" -> ((s, d) => {
      val dd = docs(s, d)
      val kept = Curation.domainCap(dd)
        .join(QualityModel.score(dd).filter(col("pred") === 1)
          .select(col("doc_id"), col("logit")), Seq("doc_id"))
      Curation.globalShuffle(kept)
        .join(kept.select(col("doc_id"), col("source"), col("logit")),
          Seq("doc_id"))
    }),
    "dedup_embedding_exact" -> ((s, d) =>
      PortableDedup.embeddingPairsExact(emb(s, d), threshold = 0.2)),
    // semantic decontamination: train vectors cosine-close to the holdout
    // split (broadcast eval side, corpus streams map-side)
    "emb_contamination" -> ((s, d) =>
      Curation.semanticContamination(emb(s, d))),
    // CCNet/RefinedWeb-style cross-document paragraph dedup: a chunk seen
    // in an earlier (doc_id, idx) is dropped everywhere else; docs are
    // reassembled from their surviving chunks
    "dedup_paragraphs" -> ((s, d) => Dedup.paragraphDedup(docs(s, d), chunkTokens = 16)),
    // SemDeDup: within-cluster greedy prune by cosine, farthest-from-
    // centroid kept first
    "dedup_semantic" -> ((s, d) => Dedup.semanticDedup(emb(s, d), threshold = 0.2)),
    // incremental crawl dedup: new batch (odd ids) against base (even ids)
    "dedup_incremental" -> ((s, d) => {
      val dd = docs(s, d)
      Dedup.incrementalDedup(
        dd.filter(col("doc_id") % 2 === 0), dd.filter(col("doc_id") % 2 =!= 0))
    }),
    // PassJoin edit-distance near-dup pairs over the normalized 64-char
    // prefix signature: sound segment blocking (equi-join), banded
    // levenshtein verify on candidates only
    "dedup_fuzzy" -> ((s, d) => FuzzyJoin.editPairs(docs(s, d))),
    // template-hub centrality: 3 integer PageRank rounds over the portable
    // LSH pair graph — every op integer, so even the iterative fixpoint
    // hash-matches the unrolled SQL oracle
    "dedup_pagerank" -> ((s, d) => {
      val dd = docs(s, d)
      Graph.pageRank(dd, PortableDedup.lshPairs(dd))
    }),
    // Bloom-filter base membership — the broadcast-probe scale path whose
    // exact twin is dedup_incremental's anti-join (rows-only: xxhash64 bit
    // positions aren't SQL-portable; BloomSpec asserts no false negatives
    // vs the exact twin + a bounded FP rate)
    "dedup_bloom" -> ((s, d) => {
      val dd = docs(s, d)
      Bloom.bloomIncremental(
        dd.filter(col("doc_id") % 2 === 0), dd.filter(col("doc_id") % 2 =!= 0))
    }),
    // sliding-window RAG chunking (64-token windows, stride 32)
    "docs_chunk_rag" -> ((s, d) => TextAnalysis.chunkForRag(docs(s, d))),
    // BPE merge training over the distinct-word table (rows-only: a
    // 30-round argmax recursion isn't oracle SQL; BpeTrainSpec pins the
    // merge list to a sequential reference)
    "docs_bpe_merges" -> ((s, d) => TextAnalysis.bpeTrain(docs(s, d))),
    // frequency-ranked vocab + token-id encoding (OOV = 0)
    "docs_tokenize_ids" -> ((s, d) => TextAnalysis.tokenizeToIds(docs(s, d))),

    // === [EXT] similarity search (X3) ===
    "topk_bruteforce" -> ((s, d) =>
      Similarity.bruteForceTopK(emb(s, d), nQueries = 8, k = 10)
        .select(col("query_id"), col("vec_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))),
    "topk_agg" -> ((s, d) =>
      Similarity.bruteForceTopKAgg(emb(s, d), nQueries = 8, k = 10)
        .select(col("query_id"), col("vec_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))),
    // int8 quantization, exploded to (vec_id, scale, dim, q) scalar rows so
    // the array column never reaches the driver canonicalizer
    "emb_quantize" -> ((s, d) =>
      Similarity.quantizeInt8(emb(s, d))
        .select(col("vec_id"), col("scale"),
          posexplode(col("qvec")).as(Seq("dim", "q")))
        .select(col("vec_id"), col("scale"),
          col("dim").cast("long").as("dim"), col("q"))),
    "topk_ivf" -> ((s, d) =>
      Similarity.ivfTopK(emb(s, d), nQueries = 8, k = 10)
        .select(col("query_id"), col("vec_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))),
    // L2 normalization, exploded to (vec_id, dim, nval) scalar rows
    "emb_normalize" -> ((s, d) => Similarity.normalizeExploded(emb(s, d))),
    // JL ±1 random projection 64→16, exploded to scalar rows
    "emb_project" -> ((s, d) => Similarity.jlProject(emb(s, d))),
    // coarse-to-fine ANN: JL shortlist → exact re-rank, fully oracle-gated
    "topk_jl" -> ((s, d) => Similarity.jlTopK(emb(s, d))),
    // PQ-ADC coarse scan + exact re-rank (rows-only: k-means codebooks
    // aren't SQL-portable; exact twin = topk_bruteforce/topk_agg, recall
    // gated in PqSpec)
    "topk_pq" -> ((s, d) => Similarity.pqTopK(emb(s, d))),
    // IVF-PQ composed: nprobe coarse buckets, residual-PQ ADC within
    // (rows-only like its two parents; recall gated in PqSpec)
    "topk_ivfpq" -> ((s, d) => Similarity.ivfPqTopK(emb(s, d))),
    // kNN GRAPH (every vector a query): exact all-pairs baseline,
    // oracle-gated; at corpus scale this exact form runs on a sample
    // stripe and knn_graph below is the production path
    "knn_graph_exact" -> ((s, d) => Similarity.knnGraphExact(emb(s, d), k = 5)),
    // IVF-bucketed kNN graph: multi-probe equi-join on the bucket key,
    // linear pair count (rows-only: probe misses are possible; recall
    // gated vs the exact graph in KnnGraphSpec)
    "knn_graph" -> ((s, d) => Similarity.knnGraph(emb(s, d), k = 5)),
    // per-label centroids: the Lloyd-round aggregation shape, oracle-checked
    "emb_centroids" -> ((s, d) => Similarity.labelCentroids(emb(s, d))),
    // oracle-exact Lloyd's k-means (2 unrolled rounds, integer-quantized
    // distances) — the exactness twin of the float kmeansCentroids path
    "emb_kmeans" -> ((s, d) => Similarity.kmeansExact(emb(s, d))),
    // per-label cohesion: vector-to-centroid cosine stats (broadcast
    // centroids, codegen'd double dot product)
    "emb_cohesion" -> ((s, d) => Similarity.clusterCohesion(emb(s, d))),
    // exact integer Gram matrix over quantized embeddings (upper triangle)
    "emb_gram" -> ((s, d) => Similarity.gramMatrix(emb(s, d))),
    // top principal component by power iteration on the driver-side d×d
    // Gram matrix (rows-only: eigenvector doubles aren't SQL-portable;
    // exact twin = emb_gram, alignment gated in SimilaritySpec)
    "emb_pca_top" -> ((s, d) => Similarity.pcaTop(emb(s, d))),
    // portable HyperLogLog: register table AND raw estimate both bit-exact
    "docs_hll_registers" -> ((s, d) => Sketches.hllRegisters(docs(s, d))),
    "docs_hll_estimate" -> ((s, d) => Sketches.hllEstimate(docs(s, d))),
    // portable Count-Min sketch: counter table + point estimates (and
    // their guaranteed-nonnegative overcounts) all integer-exact
    "text_cms_counts" -> ((s, d) => Sketches.cmsCounts(docs(s, d))),
    "text_cms_estimate" -> ((s, d) => Sketches.cmsEstimates(docs(s, d))),
    // mergeability as a correctness statement: shard sketches merged ≡
    // whole-corpus sketch (the oracle IS the whole-corpus query)
    "docs_hll_merge" -> ((s, d) => Sketches.hllMerge(docs(s, d))),
    "text_cms_merge" -> ((s, d) => Sketches.cmsMerge(docs(s, d))),
    // sketch set algebra: cohort overlap by inclusion-exclusion over HLL
    // sketches, exact distinct-join yardstick alongside
    "docs_hll_intersect" -> ((s, d) => Sketches.hllIntersect(docs(s, d))),

    // === [EXT] text analysis (X4) ===
    "text_token_stats" -> ((s, d) => TextAnalysis.tokenStats(docs(s, d))),
    "text_quality" -> ((s, d) => TextAnalysis.qualityScore(docs(s, d))),
    // hashed-feature linear scoring (fasttext-style inference): integer
    // milli-weights summed exactly, one terminal division
    "text_quality_lr" -> ((s, d) => QualityModel.score(docs(s, d))),
    // LR distillation of the Gopher rules: iterative trainer, rows-only
    // by design (double gradient sums are order-sensitive) — gated by
    // LrQualitySpec's sequential-reference equivalence
    "text_lr_train" -> ((s, d) => QualityModel.train(docs(s, d))),
    "text_langid" -> ((s, d) => TextAnalysis.langId(docs(s, d))),
    "text_top_terms" -> ((s, d) => TextAnalysis.topTermsPerLang(docs(s, d), 5)),
    // Misra–Gries heavy hitters: the sketch scale twin of text_top_terms
    // (≤ k counters per lang per map task; estimates merge-tree-dependent
    // → rows-only, error bounds asserted in HeavyHittersSpec)
    "text_heavy_hitters" -> ((s, d) =>
      TextAnalysis.heavyHittersPerLang(docs(s, d), 10)),
    // the sketch made exact: MG candidates (superset guarantee) → recount
    // candidates only → threshold filter = the true heavy-hitter set,
    // hash-matched against a plain count+threshold oracle
    "text_heavy_hitters_exact" -> ((s, d) =>
      TextAnalysis.heavyHittersExact(docs(s, d), 40)),
    "text_lang_stats" -> ((s, d) => TextAnalysis.langStats(docs(s, d))),
    "text_bpe_tokens" -> ((s, d) => TextAnalysis.bpeTokenCount(docs(s, d))),
    "text_tfidf" -> ((s, d) => TextAnalysis.tfidf(docs(s, d))),
    "text_bm25" -> ((s, d) =>
      TextAnalysis.bm25(docs(s, d), Seq("spark", "table", "query"))),
    // exact distinct aggregate (expand-based two-phase distinct count)
    "events_distinct_users" -> ((s, d) =>
      events(s, d).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))),
    // exact interpolated quantiles per group (sort-based percentile agg)
    "events_value_quantiles" -> ((s, d) =>
      events(s, d).groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.9)").as("p90"))),
    // sketch twins — the 100 TB scale paths for the two exact queries
    // above: HLL++ distinct counts and mergeable quantile sketches make
    // both single-pass with O(sketch) shuffle instead of O(values).
    // Estimates are engine-specific → rows-only gate + tolerance spec
    // (ApproxSpec) against the exact aggregates.
    "events_distinct_users_hll" -> ((s, d) =>
      events(s, d).groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("n_users_approx"),
          count(lit(1)).as("n_events"))),
    "events_quantiles_sketch" -> ((s, d) =>
      events(s, d).groupBy(col("event_type"))
        .agg(expr("percentile_approx(value, 0.5, 10000)").as("p50_approx"),
          expr("percentile_approx(value, 0.9, 10000)").as("p90_approx"))),
    "text_winnow_fp" -> ((s, d) => TextAnalysis.winnowingFingerprints(docs(s, d))),
    // corpus curation: doc filter rules / deterministic stratified sampling /
    // per-lang token-budget packing
    "text_gopher_rules" -> ((s, d) => Curation.gopherRules(docs(s, d))),
    "text_contamination" -> ((s, d) => Curation.contamination(docs(s, d))),
    "docs_sample_exact_k" -> ((s, d) => Curation.sampleExactK(docs(s, d))),
    // length-weighted sample without replacement (derandomized priority
    // sampling: pri = n_tokens/u, u a pure hash of doc_id — bit-exact
    // cross-engine, no libm)
    "docs_sample_weighted" -> ((s, d) => Curation.sampleWeighted(docs(s, d))),
    // exact decile tiers from a value histogram — no global sort/window
    "docs_length_tiers" -> ((s, d) => Curation.lengthTiers(docs(s, d))),
    // ANALYZE-style one-pass column profile (nulls/distinct/min/max)
    "docs_profile" -> ((s, d) =>
      ext.Profile.profile(docs(s, d), Seq("doc_id", "text", "lang", "source"))),
    // LIKE-family semantics pinned cross-engine (prefix / suffix /
    // contains / single-char wildcard) — the exact client-side contract
    // the Influx tag-regex push re-checks; one conditional-aggregation
    // pass over the corpus, no join/window
    "docs_like_family" -> ((s, d) =>
      docs(s, d).groupBy(col("source")).agg(
        count(when(col("text").like("key%"), 1)).as("n_prefix"),
        count(when(col("text").like("%able"), 1)).as("n_suffix"),
        count(when(col("text").like("%window%"), 1)).as("n_contains"),
        count(when(col("text").like("%s_ow%"), 1)).as("n_wild"))),
    // corpus-self-trained unigram LM doc scoring (perplexity-filter stage)
    "text_unigram_logprob" -> ((s, d) => TextAnalysis.unigramLogProb(docs(s, d))),
    // conditional (bigram) LM upgrade of the same scorer
    "text_bigram_logprob" -> ((s, d) => TextAnalysis.bigramLogProb(docs(s, d))),
    // the fixture corpus is digit-free word soup, so the gate plants one
    // deterministic email/IP/phone per row (pure function of doc_id,
    // mirrored in the oracle) — the regex/redaction semantics are what's
    // being cross-checked, and on raw fixtures they'd never fire
    "text_redact_pii" -> ((s, d) => Curation.redactPii(
      docs(s, d).withColumn("text", concat(col("text"),
        lit(" reach user"), col("doc_id"), lit("@example.com or 10.0."),
        col("doc_id") % 256, lit(".17 tel +1 555 123 "),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))))),
    "docs_split_counts" -> ((s, d) => Curation.splitCounts(docs(s, d))),
    // temperature-scaled (α=0.5) multi-source sampling weights + allocation
    "docs_mix_temperature" -> ((s, d) => Curation.mixTemperature(docs(s, d))),
    // near-dup fingerprints crossing train/val/test boundaries
    "docs_split_leakage" -> ((s, d) => Curation.splitLeakage(docs(s, d))),
    "docs_sample_stratified" -> ((s, d) => Curation.stratifiedSample(docs(s, d))),
    // per-domain frequency cap (WindowGroupLimit: ≤cap rows per source
    // leave each map task)
    "docs_domain_cap" -> ((s, d) => Curation.domainCap(docs(s, d))),
    // deterministic training order as (shard, pos) — never a single-task
    // global row_number
    "docs_global_shuffle" -> ((s, d) => Curation.globalShuffle(docs(s, d))),
    "docs_shard_stats" -> ((s, d) => Curation.shardStats(docs(s, d))),
    "docs_budget_pack" -> ((s, d) => Curation.budgetPack(docs(s, d))),
    // fixed-length training-sequence assignment via the two-pass
    // distributed prefix scan (no per-language window task)
    "docs_seq_pack" -> ((s, d) => Curation.packSequences(docs(s, d))),
    // intra-doc trigram repetition (Gopher-style quality signal)
    "text_repetition" -> ((s, d) => TextAnalysis.repetitionStats(docs(s, d))),
    // cross-doc trigram novelty (inter-doc repetition complement)
    "text_novelty" -> ((s, d) => TextAnalysis.trigramNovelty(docs(s, d))),
    // corpus mixing weights per (source, lang)
    "docs_source_mix" -> ((s, d) => TextAnalysis.sourceMix(docs(s, d))),
    // duplicate-rate planning: which source deserves the near-dup pass
    "docs_dedup_rate" -> ((s, d) => Curation.dedupRateBySource(docs(s, d))),

    // === [EXT] events (X5/X6) ===
    "events_json_props" -> ((s, d) => EventsExt.jsonProps(events(s, d))),
    "events_hourly" -> ((s, d) => EventsExt.hourlyWindows(events(s, d))),
    // raw-moment variance/stddev rollup — the parquet twin of the pushed
    // Influx stddevPanel algebra (decimal moments, one IEEE finish)
    "events_stddev_hourly" -> ((s, d) => EventsExt.stddevHourly(events(s, d))),
    // Bollinger bands: trailing mean ± 2σ off the SAME re-summed raw
    // moments (milli-quantized BIGINT — exact window sums)
    "events_bollinger" -> ((s, d) => EventsExt.bollingerHourly(events(s, d))),
    // band-excursion alerts: events breaking out of their trailing band
    // (broadcast-join projection over the panel)
    "events_band_excursions" -> ((s, d) =>
      EventsExt.bandExcursions(events(s, d))),
    "events_sessionize" -> ((s, d) => EventsExt.sessionize(events(s, d))),
    "events_last_per_user" -> ((s, d) => EventsExt.lastEventPerUser(events(s, d))),
    // window-frame aggregate: trailing 3-row moving average per user
    "events_moving_avg" -> ((s, d) => EventsExt.movingAvg(events(s, d))),
    // lag(): per-user inter-event gaps
    "events_lag_delta" -> ((s, d) => EventsExt.lagDelta(events(s, d))),
    // lead(): LOCF time-in-state per day — the HA "how long was it on" panel
    "events_state_durations" -> ((s, d) =>
      EventsExt.stateDurations(events(s, d))),
    // PromQL-style counter rate: reset-aware increase / Δt per user
    "events_rate" -> ((s, d) => EventsExt.counterRate(events(s, d))),
    // bucketed counter increase: the pushed Influx rate read's client
    // contract (rateMerge) pinned on parquet — DECIMAL-exact accumulation
    "events_rate_hourly" -> ((s, d) =>
      EventsExt.counterIncreaseHourly(events(s, d))),
    // per-user EWMA level: exact integer smoothing recursion (α = 1/2)
    "events_ewma" -> ((s, d) => EventsExt.ewmaLevel(events(s, d))),
    // sessionize via the native session_window builtin (>= gap closes)
    "events_sessionize_native" -> ((s, d) =>
      EventsExt.sessionizeNative(events(s, d))),
    // Morton key for multi-dim data-skipping layout (codegen'd projection)
    "events_zorder" -> ((s, d) => EventsExt.zorderKeys(events(s, d))),
    // Hilbert layout key: adjacent-cell locality the Morton key lacks
    "events_hilbert" -> ((s, d) => EventsExt.hilbertKeys(events(s, d))),
    // hourly LOCF gap-fill (as-of composition over a per-user time grid)
    "events_resample_locf" -> ((s, d) => EventsExt.resampleLocf(events(s, d))),
    // linear-interpolation sibling: integer-exact lerp, one terminal
    // division, served by the bucketed lerp (only first/last-of-bucket
    // samples survive the agg, yet the fill reconstructs the as-of
    // bracket panel the oracle SQL computes directly)
    "events_resample_linear" -> ((s, d) => EventsExt.lerpPanel(events(s, d))),
    // bucketed-last-observation LOCF panel (strictly-before tick
    // convention) — the parquet twin of the pushed Influx locfRead
    "events_locf_panel" -> ((s, d) => EventsExt.locfPanel(events(s, d))),
    // the same function under the name of the pushed lerpRead's parquet
    // twin (one oracle text for both names)
    "events_lerp_panel" -> ((s, d) => EventsExt.lerpPanel(events(s, d))),
    // trailing 24h moving average over hourly buckets (RANGE frame over
    // per-bucket sufficient statistics) — the parquet twin of the pushed
    // Influx movingAvgRead
    "events_moving_hourly" -> ((s, d) => EventsExt.movingHourly(events(s, d))),
    // Flux-parity windowed trapezoid integral ("energy from power"):
    // doubled milli-quantized pair areas sum as BIGINTs, ONE terminal
    // division — the parquet twin of the pushed Influx integralRead
    "events_integral_hourly" -> ((s, d) =>
      EventsExt.integralHourly(events(s, d))),
    // HA-statistics time-weighted mean of the LOCF signal: hold
    // intervals split across buckets map-side, BIGINT value·ms sums,
    // ONE terminal division
    "events_twa_hourly" -> ((s, d) => EventsExt.twaHourly(events(s, d))),
    // the FULL HA long-term-statistics row (mean/min/max per bucket) —
    // the parquet twin of the pushed statisticsRead, incl. its two
    // asymmetries (covered-empty buckets: mean only; last-sample-only
    // buckets: min/max only)
    "events_statistics_hourly" ->
      ((s, d) => EventsExt.statisticsHourly(events(s, d))),
    // the HA COUNTER long-term-statistics row (state/increase/sum_total
    // per bucket) — the energy dashboard's data model: reset-aware
    // deltas in DECIMAL, ONE bucket-level cumulative window
    "events_counter_stats_hourly" ->
      ((s, d) => EventsExt.counterStatsHourly(events(s, d))),
    // statistics COMPACTION (HA short-term→long-term): hourly partials
    // re-bucketed to daily — the ORACLE computes the daily row directly
    // from raw events, so the hash gate IS the mergeability proof
    // (BIGINT num/cov regroup associatively; min/max idempotent)
    "events_statistics_daily" -> ((s, d) =>
      EventsExt.statisticsCompact(
        EventsExt.statisticsPartialsHourly(events(s, d)), factor = 24)),
    // LOCAL-midnight compaction (HA compacts to the home's timezone):
    // same hourly partials, coarse grid shifted to 05:00Z day starts
    // (UTC-5) — the oracle computes the shifted daily row directly
    "events_statistics_daily_local" -> ((s, d) =>
      EventsExt.statisticsCompact(
        EventsExt.statisticsPartialsHourly(events(s, d)), factor = 24,
        offsetMs = 5 * 3600000L)),
    // COUNTER compaction: hourly counter partials re-bucketed to daily —
    // deltas are per sample pair (grid-independent), so the oracle's
    // direct daily fold must hash-match the compacted hourly one
    "events_counter_stats_daily" -> ((s, d) =>
      EventsExt.counterStatsCompact(
        EventsExt.counterStatsPartialsHourly(events(s, d)), factor = 24)),
    // COUNTER compaction onto the LOCAL-midnight grid (05:00Z day starts,
    // UTC-5) — the oracle computes the shifted daily row straight from
    // the per-sample delta chain
    "events_counter_stats_daily_local" -> ((s, d) =>
      EventsExt.counterStatsCompact(
        EventsExt.counterStatsPartialsHourly(events(s, d)), factor = 24,
        offsetMs = 5 * 3600000L)),
    // HIERARCHICAL compaction (HA's retention ladder): hourly partials →
    // daily PARTIALS → weekly row, two chained re-bucketings — the oracle
    // computes the weekly row straight from raw events, so the hash gate
    // proves compact-by-24-then-by-7 ≡ compact-by-168 (associativity)
    "events_statistics_weekly_chained" -> ((s, d) =>
      EventsExt.statisticsCompact(
        EventsExt.statisticsCompactPartials(
          EventsExt.statisticsPartialsHourly(events(s, d)), factor = 24),
        factor = 7, fineStepMs = 86400000L)),
    "events_counter_stats_weekly_chained" -> ((s, d) =>
      EventsExt.counterStatsCompact(
        EventsExt.counterStatsCompactPartials(
          EventsExt.counterStatsPartialsHourly(events(s, d)), factor = 24),
        factor = 7, fineStepMs = 86400000L)),
    // the ENERGY-DASHBOARD range read: per series, consumption over
    // [Jan 8, Jan 22) = sum_total differenced at the range endpoints —
    // reset-aware by construction (sum accumulates reset-aware
    // increases); series starting inside the range baseline at 0
    "events_energy_range" -> ((s, d) =>
      EventsExt.energyRange(events(s, d),
        startMs = 1704672000000L, endMs = 1705881600000L)),
    // the dashboard's BAR series: per-2-day consumption bars over
    // [Jan 8, Jan 22) — one grid-anchored re-bucketing of the counter
    // partials + a range filter (no window); bars sum to the range total
    "events_energy_bars" -> ((s, d) =>
      EventsExt.energyBars(events(s, d),
        startMs = 1704672000000L, endMs = 1705881600000L,
        gridMs = 2 * 86400000L)),
    // the PERSISTED compaction path: the hourly statistics partials go
    // through an actual parquet write/read before compacting — the plan
    // scans the partials table on disk, never raw events, and must still
    // hash-match the oracle's direct daily computation (schema + BIGINT
    // sums survive the disk round-trip bit-exactly)
    "events_statistics_daily_persisted" -> ((s, d) =>
      EventsExt.statisticsCompact(
        persistedPartials(s, d, "stat_hourly")(
          EventsExt.statisticsPartialsHourly(events(s, d))), factor = 24)),
    // same disk round-trip for the COUNTER family: DECIMAL(28,2)/(18,2)
    // partials persist, re-read, compact — still bit-equal to the direct
    // daily fold
    "events_counter_stats_daily_persisted" -> ((s, d) =>
      EventsExt.counterStatsCompact(
        persistedPartials(s, d, "counter_hourly")(
          EventsExt.counterStatsPartialsHourly(events(s, d))), factor = 24)),
    // the energy panel served OFF THE PERSISTED partials — the full
    // incremental story: raw samples → partials on disk → any range read
    "events_energy_range_persisted" -> ((s, d) =>
      EventsExt.energyRangeOfPartials(
        persistedPartials(s, d, "counter_hourly")(
          EventsExt.counterStatsPartialsHourly(events(s, d))),
        startMs = 1704672000000L, endMs = 1705881600000L)),
    // the monthly view served OFF THE PERSISTED counter partials — the
    // incremental form a dashboard runs (one partials table on disk
    // serves the range read, the fixed-grid bars, AND the calendar bars)
    "events_energy_bars_monthly_persisted" -> ((s, d) =>
      EventsExt.energyBarsCalendarOfPartials(
        persistedPartials(s, d, "counter_hourly")(
          EventsExt.counterStatsPartialsHourly(events(s, d))),
        unit = "MONTH", tz = "America/New_York")),
    // TIER-STITCHED statistics read — the query a retention ladder serves
    // once fine partials age out: [Jan 8, Jan 22) spanning the Jan 15
    // retention cutoff, DAILY rows from the coarse tier before it, HOURLY
    // rows from the fine tier after; both tiers PERSISTED parquet tables
    // (the daily tier compacted FROM the persisted hourly — the chained
    // ladder), so the plan scans two partials tables and no raw events
    "events_statistics_range_tiered" -> ((s, d) => {
      val hourly = persistedPartials(s, d, "stat_hourly")(
        EventsExt.statisticsPartialsHourly(events(s, d)))
      val daily = persistedPartials(s, d, "stat_daily")(
        EventsExt.statisticsCompactPartials(hourly, factor = 24))
      EventsExt.statisticsTierStitch(hourly, daily,
          cutoffMs = 1705276800000L, coarseStepMs = 86400000L)
        .filter(col("bucket_ms") >= 1704672000000L &&
          col("bucket_ms") < 1705881600000L)
    }),
    // tier-stitched COUNTER panel over the FULL history (daily before
    // Jan 15, hourly after): the cumulative sum_total window runs
    // straight across the seam — granularity-free by construction
    "events_counter_stats_tiered" -> ((s, d) => {
      val hourly = persistedPartials(s, d, "counter_hourly")(
        EventsExt.counterStatsPartialsHourly(events(s, d)))
      val daily = persistedPartials(s, d, "counter_daily")(
        EventsExt.counterStatsCompactPartials(hourly, factor = 24))
      EventsExt.counterStatsTierStitch(hourly, daily,
        cutoffMs = 1705276800000L, coarseStepMs = 86400000L)
    }),
    // the energy dashboard served ACROSS the tier seam: [Jan 8, Jan 22)
    // sums coarse increases before the Jan 15 cutoff and fine ones after
    // — same DECIMAL algebra, so the energy equals the untiered read
    "events_energy_range_tiered" -> ((s, d) => {
      val hourly = persistedPartials(s, d, "counter_hourly")(
        EventsExt.counterStatsPartialsHourly(events(s, d)))
      val daily = persistedPartials(s, d, "counter_daily")(
        EventsExt.counterStatsCompactPartials(hourly, factor = 24))
      EventsExt.energyRangeOfPartials(
        EventsExt.counterStatsTierPartials(hourly, daily,
          cutoffMs = 1705276800000L, coarseStepMs = 86400000L),
        startMs = 1704672000000L, endMs = 1705881600000L)
    }),
    // per-user OLS trend from DECIMAL-exact sufficient statistics
    "events_user_trend" -> ((s, d) => EventsExt.userTrend(events(s, d))),
    // cohort retention triangle (first-seen day × day offset)
    "events_retention" -> ((s, d) => EventsExt.retention(events(s, d))),
    // per-user z-score outliers (DECIMAL-exact mean/std)
    "events_anomaly" -> ((s, d) => EventsExt.valueAnomalies(events(s, d))),
    // median/IQR robust scaling per event type
    "events_value_scaled" -> ((s, d) => EventsExt.robustScale(events(s, d))),
    // incremental-ingest CDC over two deterministic orders snapshots
    "snapshot_diff" -> ((s, d) => {
      val (o, n) = snapshotFixtures(s, d)
      Snapshot.diff(o, n, "o_orderkey", Seq("o_totalprice", "o_orderstatus"))
    }),
    "snapshot_scd2" -> ((s, d) => {
      val (o, n) = snapshotFixtures(s, d)
      Snapshot.scd2(o, n, "o_orderkey", Seq("o_totalprice", "o_orderstatus"),
        oldTs = 1000L, newTs = 2000L)
    }),
    // MERGE/upsert compaction: latest changelog entry per key applied to
    // the base snapshot (D drops, I/U upsert, untouched keys pass through)
    "snapshot_apply_log" -> ((s, d) => {
      val base = snapshotFixtures(s, d)._1
      Snapshot.applyChangelog(base, changelogFixture(s, d), "o_orderkey",
        Seq("o_totalprice", "o_orderstatus"))
    }),
    // incremental MAINTENANCE of a stored (count, sum, min) rollup under a
    // deterministic changelog: count/sum merged from signed deltas
    // (DECIMAL-exact), min rescanned ONLY for groups whose deleted min
    // reached the stored min — the oracle recomputes fresh, proving the
    // maintained state identical
    "events_agg_maintain" -> ((s, d) => {
      val all = events(s, d)
      val inserts = all.filter(col("event_id") % 13 === 0)
      val base = all.filter(col("event_id") % 13 =!= 0)
      val deletes = base.filter(col("event_id") % 7 === 0)
      Snapshot.maintainHourlyAgg(base, inserts, deletes)
    }),
    // top user-journey trigrams: two lead() windows → count → top-25
    "events_top_paths" -> ((s, d) => EventsExt.topPaths(events(s, d))),
    // hour-of-week seasonal baseline, integer-exact mean
    "events_seasonal" -> ((s, d) => EventsExt.seasonalProfile(events(s, d))),
    // first-order Markov transition matrix over per-user sequences:
    // bounded (type × type) output, p = one terminal division
    "events_transitions" -> ((s, d) => EventsExt.transitionMatrix(events(s, d))),
    // exact sliding 24h distinct users: distinct (user, hour) pairs fan
    // map-side into the ≤24 windows they serve — no per-window rescan
    "events_sliding_distinct" -> ((s, d) =>
      EventsExt.slidingDistinctUsers(events(s, d))),
    // the HLL register-reuse twin: hourly sketches (m rows/hour) fan into
    // windows and max-merge; the merged REGISTERS are oracle-hash-exact
    "events_sliding_distinct_hll" -> ((s, d) =>
      EventsExt.slidingHllRegisters(events(s, d))),
    // rank(): top-10 by value within each event_type
    "events_type_rank" -> ((s, d) => EventsExt.typeRank(events(s, d))),
    // row_number()<=k per group under a TOTAL order — the exact residual
    // Window shape the Influx grouped-TopN narrowing recomputes, pinned
    // here on parquet under the DuckDB oracle
    "events_group_topn" -> ((s, d) => EventsExt.typeTopNRowNumber(events(s, d))),
    // pivot: per-user event-type counts as columns
    "events_pivot_counts" -> ((s, d) => EventsExt.pivotTypeCounts(events(s, d))),
    // CUBE (event_type, day): all four grouping sets in one pass
    "events_cube" -> ((s, d) => EventsExt.cubeTypeDay(events(s, d))),
    // first-touch ordered funnel: each step strictly after the user's
    // earliest completion of the previous one (ms-granularity cross-engine)
    "events_funnel" -> ((s, d) => EventsExt.funnel(events(s, d))),
    // distinct-user overlap per unordered event-type pair (one user-keyed
    // shuffle, map-side pair fan-out over the bounded type set)
    "events_cohort_overlap" -> ((s, d) => EventsExt.cohortOverlap(events(s, d))),
    // as-of join: each purchase picks up the user's most recent prior click
    // banded interval join: clicks within ±1h of each error, same user —
    // equi-join on (user, time-bucket) probes bin±1, fan-out bounded by
    // events-per-user-per-window (not per-user)
    "events_range_join" -> ((s, d) =>
      EventsExt.bandedRangeCount(events(s, d), "error", "click", 3600000L)),
    // same result, written as the NAIVE abs() theta join — the injected
    // BandedRangeJoinRule rewrites it to the banded equi form automatically
    "events_range_join_auto" -> ((s, d) => {
      val ev = events(s, d)
      val errs = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ems"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("cuid"), unix_millis(col("ts")).as("cms"))
      errs.join(clicks, col("cuid") === col("user_id") &&
          abs(col("cms") - col("ems")) <= 3600000L)
        .groupBy(col("event_id"), col("user_id"))
        .agg(count(lit(1)).as("n_near"))
    }),
    // raw TIMESTAMP band via INTERVAL — the rule's timestamp path, no
    // manual epoch extraction
    "events_range_join_ts" -> ((s, d) => {
      val ev = events(s, d)
      val errs = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts").as("ets"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("cuid"), col("ts").as("cts"))
      errs.join(clicks, col("cuid") === col("user_id") &&
          expr("cts BETWEEN ets - INTERVAL 1 HOUR AND ets + INTERVAL 1 HOUR"))
        .groupBy(col("event_id"), col("user_id"))
        .agg(count(lit(1)).as("n_near"))
    }),
    // DOUBLE-typed band (the rule's floor(x/W) fractional path): clicks
    // whose value is within ±0.5 of each error's value, same user —
    // written as the naive abs() theta join; the rule bins by floor(v/0.5)
    "events_range_join_double" -> ((s, d) => {
      val ev = events(s, d)
      val errs = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("value").as("evalue"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("cuid"), col("value").as("cvalue"))
      errs.join(clicks, col("cuid") === col("user_id") &&
          abs(col("cvalue") - col("evalue")) <= 0.5)
        .groupBy(col("event_id"), col("user_id"))
        .agg(count(lit(1)).as("n_near"))
    }),
    "events_asof_click" -> ((s, d) => {
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("value").as("last_click_value"))
      EventsExt.asofJoin(purchases, clicks, "user_id", "us")
    }),
    // same semantics through the custom physical operator (AsofJoinExec)
    "events_asof_exec" -> ((s, d) => {
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("value").as("last_click_value"))
      EventsExt.asofJoinExec(purchases, clicks, "user_id", "us")
    }),
    // set operations (SURVEY §2.8): users who clicked but never errored / both
    "events_click_not_error" -> ((s, d) => {
      // windowed to the first 500 events so the difference is non-empty
      val ev = events(s, d).filter(col("event_id") < 500)
      ev.filter(col("event_type") === "click").select(col("user_id"))
        .except(ev.filter(col("event_type") === "error").select(col("user_id")))
    }),
    "events_click_and_error" -> ((s, d) => {
      val ev = events(s, d)
      ev.filter(col("event_type") === "click").select(col("user_id"))
        .intersect(ev.filter(col("event_type") === "error").select(col("user_id")))
    }),
    // hierarchical aggregate (SURVEY §2.4): per-type counts + grand total
    "events_rollup" -> ((s, d) =>
      events(s, d).rollup(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("sum_value"))),

    // === TPC-H-style star-schema analytics (S5 + scale-shape joins) ===
    // === [EXT] data-quality verification (Deequ pattern) ===
    // per-row rule set compiled into ONE metrics pass over lineitem
    "dq_rules" -> ((s, d) => ext.Checks.lineitemRules(Tables.lineitem(s, d))),
    // child→parent orphan counts: key-only LEFT ANTI joins
    "dq_referential" -> ((s, d) =>
      ext.Checks.referential(Tables.lineitem(s, d), "l_orderkey",
          Tables.orders(s, d), "o_orderkey", "lineitem->orders")
        .union(ext.Checks.referential(Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey", "orders->customer"))),
    // the Bloom-pre-screened twin: parent keys fold into a broadcast m-bit
    // filter (sized FROM the parent count, ~10 bits/key — never a magic
    // literal), definite orphans never join, only the maybe-member stripe
    // reaches the exact LEFT ANTI — bit-identical result (the oracle is
    // the very same NOT EXISTS), anti-join exchange cut to the stripe
    // (ChecksSpec evidences the cut on an orphan-heavy fixture)
    // batched (r21): both relations' sizing counts run in one action and
    // both filter builds in another (stages materialize concurrently),
    // and each relation's row-count branch is fused into its
    // definite-orphan branch — same rows, same values, ~6 fewer jobs
    "dq_referential_bloom" -> ((s, d) =>
      ext.Checks.referentialBloomAll(Seq(
        (Tables.lineitem(s, d), "l_orderkey",
          Tables.orders(s, d), "o_orderkey", "lineitem->orders"),
        (Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey", "orders->customer")))),
    // declared-key uniqueness metrics across the warehouse tables
    "dq_uniqueness" -> ((s, d) => ext.Checks.keyUniqueness(Seq(
      ("orders", Tables.orders(s, d), "o_orderkey"),
      ("customer", Tables.customer(s, d), "c_custkey"),
      ("events", Tables.events(s, d), "event_id"),
      ("documents", Tables.documents(s, d), "doc_id")))),
    // admission gates over the fixtures the LLM-pipeline queries consume
    "dq_docs_rules" -> ((s, d) =>
      ext.Checks.documentsRules(Tables.documents(s, d))),
    "dq_events_rules" -> ((s, d) =>
      ext.Checks.eventsRules(Tables.events(s, d))),
    "dq_events_referential" -> ((s, d) =>
      ext.Checks.referential(Tables.events(s, d), "user_id",
        Tables.customer(s, d), "c_custkey", "events->customer")),

    // === [EXT] scale-shape joins: explicit skew salting + bucketed
    // co-location (the two knobs AQE can't turn for you) ===
    // pathological single-key skew: the fact side scatters over 8 salt
    // sub-keys, the dimension replicates once per sub-key (map-side
    // Generate), so a hot key's rows land on 8 reducers instead of one.
    // merge-hinted so the audited plan IS the skew-prone shuffle-join
    // shape the tool exists for (a broadcast would dissolve the skew a
    // different way — and can't when the "dimension" is fact-sized);
    // the result is provably ≡ the plain join, which is the oracle.
    "join_skew_salted" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("value"))
      val cust = Tables.customer(s, d)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      etl.Skew.saltedJoin(ev, cust.hint("merge"), "user_id", salt = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("sum_value"))
    }),
    // co-located fact⋈fact join: both tables persisted bucketed+sorted on
    // the join key (ONE write per fixture drop, amortized across every
    // later join — ensureBucketed re-uses the layout within the JVM), so
    // the join AND the same-key aggregate run with ZERO shuffle exchange:
    // each task sort-merges bucket i ⋈ bucket i straight off storage and
    // aggregates in place. PlanAudit asserts the plan is Exchange-free.
    "tpch_bucketed_join" -> ((s, d) => {
      etl.Bucketing.ensureBucketed(Tables.orders(s, d),
        "graft_orders_b", "o_orderkey", 8, d)
      etl.Bucketing.ensureBucketed(Tables.lineitem(s, d),
        "graft_lineitem_b", "l_orderkey", 8, d)
      etl.Bucketing.table(s, "graft_lineitem_b").hint("merge")
        .join(etl.Bucketing.table(s, "graft_orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(org.apache.spark.sql.types.DecimalType(18, 4)))
            .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc).limit(10)
    }),
    // corpus n-gram count table with the storability cutoff (count ≥ 3)
    "text_ngram_counts" -> ((s, d) => TextAnalysis.ngramCounts(docs(s, d))),
    // model evaluation: exact Mann-Whitney AUC of the LR logit vs the
    // Gopher keep labels, and the calibration/reliability table — both
    // one corpus pass, zero joins (label computed inside the projection)
    "text_quality_auc" -> ((s, d) => QualityModel.aucVsRules(docs(s, d))),
    "text_quality_calibration" -> ((s, d) =>
      QualityModel.calibration(docs(s, d))),
    // mergeable fixed-bin histogram quantiles (exact-arithmetic sketch)
    "events_hist_quantiles" -> ((s, d) =>
      EventsExt.histQuantiles(events(s, d))),
    // the resolution knob exercised: centi-unit bins (exact for the
    // fixture's two-decimal values) — same plan shape, 10x finer bound
    "events_hist_quantiles_w100" -> ((s, d) =>
      EventsExt.histQuantiles(events(s, d), binsPerUnit = 100)),
    // last-of-bucket downsample: batch mirror of the pushed Flux last()
    "events_downsample_last" -> ((s, d) =>
      EventsExt.downsampleLast(events(s, d))),

    "tpch_pricing_summary" -> ((s, d) => Tpch.pricingSummary(Tables.lineitem(s, d))),
    "tpch_shipping_priority" -> ((s, d) =>
      Tpch.shippingPriority(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d))),
    "tpch_local_supplier" -> ((s, d) =>
      Tpch.localSupplierVolume(Tables.region(s, d), Tables.nation(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d))),
    "tpch_top_orders" -> ((s, d) => Tpch.topOrders(Tables.orders(s, d), 10)),
    // Q6: zero-join scan-side aggregate, all predicates pushed
    "tpch_forecast_revenue" -> ((s, d) =>
      Tpch.forecastRevenue(Tables.lineitem(s, d))),
    // Q7: two-nation trade volume per year
    "tpch_volume_shipping" -> ((s, d) =>
      Tpch.volumeShipping(Tables.supplier(s, d), Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d))),
    // Q8: national market share, ratio of two DECIMAL-exact sums
    "tpch_market_share" -> ((s, d) =>
      Tpch.marketShare(Tables.region(s, d), Tables.nation(s, d),
        Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
        Tables.part(s, d), Tables.supplier(s, d))),
    // Q10: returned-items top-20 by lost revenue
    "tpch_returned_items" -> ((s, d) =>
      Tpch.returnedItems(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), Tables.nation(s, d))),
    // Q14: promo revenue share for one month
    "tpch_promo_revenue" -> ((s, d) =>
      Tpch.promoRevenue(Tables.lineitem(s, d), Tables.part(s, d))),
    // Q19: disjunctive brand/size/quantity bands inside the join filter
    "tpch_disc_revenue" -> ((s, d) =>
      Tpch.discountedRevenue(Tables.lineitem(s, d), Tables.part(s, d))),
    // scan-level AGGREGATE pushdown: min/max/count answered from parquet
    // footer statistics — zero data pages read, the metadata-only shape a
    // 100 TB "how big is this table" probe must take. Needs the DSv2
    // parquet path, so it runs in an isolated child session (shared
    // SessionState conf stays untouched for every other query's plan);
    // PlanAudit asserts PushedAggregation reaches the scan.
    "tpch_agg_pushdown" -> ((s, d) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.sources.useV1SourceList", "")
      s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      Tables.lineitem(s2, d).agg(
        expr("min(l_orderkey)").as("min_ok"),
        expr("max(l_orderkey)").as("max_ok"),
        expr("count(*)").as("n_rows"))
    }),
    "tpch_parts_by_brand" -> ((s, d) => Tpch.partsByBrand(Tables.part(s, d))),
    // EXISTS ≡ LEFT SEMI join (TPC-H Q4 shape)
    "tpch_order_priority" -> ((s, d) =>
      Tpch.orderPriorityWithReturns(Tables.orders(s, d), Tables.lineitem(s, d))),
    // NOT EXISTS ≡ LEFT ANTI join
    "tpch_cust_no_orders" -> ((s, d) =>
      Tpch.customersWithoutOrders(Tables.customer(s, d), Tables.orders(s, d))),
    // Q17 shape: correlated scalar subquery decorrelated to agg + re-join
    "tpch_small_qty_revenue" -> ((s, d) =>
      Tpch.smallQuantityRevenue(Tables.lineitem(s, d))),
    // Q18 shape: HAVING over the fact aggregate, top-20 re-joined
    "tpch_big_orders" -> ((s, d) =>
      Tpch.largeVolumeOrders(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d))),
    // Q21 shape: EXISTS + NOT EXISTS over the same child (semi + anti)
    "tpch_returned_settled" -> ((s, d) =>
      Tpch.returnedSettledOrders(Tables.orders(s, d), Tables.lineitem(s, d))),
    // Q22 shape: global scalar subquery (1-row broadcast) + anti join
    "tpch_rich_idle_customers" -> ((s, d) =>
      Tpch.richIdleCustomers(Tables.customer(s, d), Tables.orders(s, d))),
    // Q12 shape: conditional-sum audit over a fact⋈fact join
    "tpch_shipping_class" -> ((s, d) =>
      Tpch.shippingClassAudit(Tables.orders(s, d), Tables.lineitem(s, d))),
    // Q13 shape: LEFT OUTER + aggregate-of-aggregate distribution
    "tpch_cust_order_dist" -> ((s, d) =>
      Tpch.customerOrderDistribution(Tables.customer(s, d), Tables.orders(s, d))),
    // Q15 shape: max-revenue supplier via scalar subquery over the view agg
    "tpch_top_supplier" -> ((s, d) =>
      Tpch.topSupplierRevenue(Tables.supplier(s, d), Tables.lineitem(s, d))),

    // === [EXT] multimodal ===
    "media_stats" -> ((s, d) => Multimodal.mediaStats(docs(s, d))),
    "media_dedup" -> ((s, d) =>
      Multimodal.dedupByContent(Multimodal.asMediaTable(docs(s, d)))),
    "media_decode_meta" -> ((s, d) =>
      Multimodal.decodeMeta(Multimodal.asMediaTable(docs(s, d))).toDF()),
    "media_frame_sample" -> ((s, d) =>
      Multimodal.sampleFrames(Multimodal.asMediaTable(docs(s, d)))
        .select(col("doc_id"), col("n_frames").cast("long").as("n_frames"),
          col("frame_idx").cast("long").as("frame_idx"))),
    // resize arithmetic is exact int math over the decode-stub dims
    "media_resize_dims" -> ((s, d) =>
      Multimodal.resizeDims(Multimodal.asMediaTable(docs(s, d)))),
    // feature-extract plumbing, exploded to (doc_id, dim, feature) — the
    // stub "model" is exact integer byte-sums + one terminal division, so
    // the oracle reproduces it bit-for-bit
    "media_features" -> ((s, d) =>
      Multimodal.extractFeatures(Multimodal.asMediaTable(docs(s, d)))
        .select(col("doc_id"), posexplode(col("features")).as(Seq("dim", "feature")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("feature"))),
    // perceptual near-dup: sampled all-pairs cosine over feature vectors —
    // the declared exact baseline of the bucketed form below
    "media_feature_neardup" -> ((s, d) =>
      Multimodal.featureNearDups(Multimodal.asMediaTable(docs(s, d)))),
    // sign-sketch LSH bucketed near-dup — the 100 TB scale path (rows-only:
    // the splitmix64 bucketing isn't SQL-portable; MultimodalSpec asserts
    // it finds exactly the all-pairs baseline's pairs on the fixture)
    "media_feature_neardup_lsh" -> ((s, d) =>
      Multimodal.featureNearDupsBucketed(Multimodal.asMediaTable(docs(s, d))))
  ))(_.run)

  // ---- oracle SQL -------------------------------------------------------

  /** DuckDB CTEs rebuilding the HA recorder trio exactly as [[HaViews]]
    * derives it from `events` (same arithmetic, same casts). */
  // shared oracle texts: the persisted-partials queries must equal the
  // direct computation EXACTLY, so they gate against the identical SQL
  private val statisticsDailySql: String =
    """WITH s0 AS (SELECT event_type, epoch_ms(ts) AS ms,
        |              CAST(floor(value * 1000) AS BIGINT) AS vm FROM events
        |            WHERE value IS NOT NULL),
        |s AS (SELECT event_type, ms, max(vm) AS vm FROM s0 GROUP BY 1, 2),
        |p AS (SELECT event_type, ms, vm, lead(ms) OVER w AS nms
        |      FROM s WINDOW w AS (PARTITION BY event_type ORDER BY ms)),
        |x AS (SELECT event_type, ms, vm, nms,
        |        unnest(generate_series(ms - ms % 86400000,
        |          (nms - 1) - (nms - 1) % 86400000, 86400000)) AS b
        |      FROM p WHERE nms IS NOT NULL),
        |pieces AS (
        |  SELECT event_type, b AS bucket_ms,
        |    vm * (least(nms, b + 86400000) - greatest(ms, b)) AS num,
        |    least(nms, b + 86400000) - greatest(ms, b) AS cov
        |  FROM x),
        |twa AS (SELECT event_type, bucket_ms,
        |          CAST(SUM(num) AS DOUBLE)
        |            / CAST(SUM(cov) * 1000 AS DOUBLE) AS twa
        |        FROM pieces GROUP BY 1, 2),
        |mm AS (SELECT event_type,
        |         epoch_ms(ts) - epoch_ms(ts) % 86400000 AS bucket_ms,
        |         min(value) AS min_value, max(value) AS max_value
        |       FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
        |SELECT COALESCE(t.event_type, m.event_type) AS event_type,
        |       COALESCE(t.bucket_ms, m.bucket_ms) AS bucket_ms,
        |       t.twa AS twa, m.min_value AS min_value,
        |       m.max_value AS max_value
        |FROM twa t FULL OUTER JOIN mm m
        |  ON t.event_type = m.event_type AND t.bucket_ms = m.bucket_ms""".stripMargin

  private val counterStatsDailySql: String =
    """WITH s0 AS (SELECT user_id, epoch_ms(ts) AS ms,
        |              CAST(value AS DECIMAL(18,2)) AS v0 FROM events
        |            WHERE value IS NOT NULL),
        |s AS (SELECT user_id, ms, max(v0) AS v FROM s0 GROUP BY 1, 2),
        |d AS (SELECT user_id, ms, v, lag(v) OVER w AS pv
        |      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
        |g AS (SELECT user_id, (ms // 86400000) * 86400000 AS bucket_start_ms,
        |        SUM(CASE WHEN pv IS NULL THEN CAST(0 AS DECIMAL(18,2))
        |                 WHEN v >= pv THEN v - pv ELSE v END) AS inc_d,
        |        arg_max(v, ms) AS state_d
        |      FROM d GROUP BY 1, 2)
        |SELECT user_id, bucket_start_ms,
        |  CAST(state_d AS DOUBLE) AS state,
        |  CAST(inc_d AS DOUBLE) AS increase,
        |  CAST(SUM(inc_d) OVER (PARTITION BY user_id ORDER BY bucket_start_ms
        |                        ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |    AS sum_total
        |FROM g""".stripMargin

  // the CHAINED weekly gates: direct 168h computation from raw events
  // vs Spark chaining hour -> day partials -> week
  private val statisticsWeeklySql: String =
    """WITH s0 AS (SELECT event_type, epoch_ms(ts) AS ms,
        |              CAST(floor(value * 1000) AS BIGINT) AS vm FROM events
        |            WHERE value IS NOT NULL),
        |s AS (SELECT event_type, ms, max(vm) AS vm FROM s0 GROUP BY 1, 2),
        |p AS (SELECT event_type, ms, vm, lead(ms) OVER w AS nms
        |      FROM s WINDOW w AS (PARTITION BY event_type ORDER BY ms)),
        |x AS (SELECT event_type, ms, vm, nms,
        |        unnest(generate_series(ms - ms % 604800000,
        |          (nms - 1) - (nms - 1) % 604800000, 604800000)) AS b
        |      FROM p WHERE nms IS NOT NULL),
        |pieces AS (
        |  SELECT event_type, b AS bucket_ms,
        |    vm * (least(nms, b + 604800000) - greatest(ms, b)) AS num,
        |    least(nms, b + 604800000) - greatest(ms, b) AS cov
        |  FROM x),
        |twa AS (SELECT event_type, bucket_ms,
        |          CAST(SUM(num) AS DOUBLE)
        |            / CAST(SUM(cov) * 1000 AS DOUBLE) AS twa
        |        FROM pieces GROUP BY 1, 2),
        |mm AS (SELECT event_type,
        |         epoch_ms(ts) - epoch_ms(ts) % 604800000 AS bucket_ms,
        |         min(value) AS min_value, max(value) AS max_value
        |       FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
        |SELECT COALESCE(t.event_type, m.event_type) AS event_type,
        |       COALESCE(t.bucket_ms, m.bucket_ms) AS bucket_ms,
        |       t.twa AS twa, m.min_value AS min_value,
        |       m.max_value AS max_value
        |FROM twa t FULL OUTER JOIN mm m
        |  ON t.event_type = m.event_type AND t.bucket_ms = m.bucket_ms""".stripMargin

  private val counterStatsWeeklySql: String =
    """WITH s0 AS (SELECT user_id, epoch_ms(ts) AS ms,
        |              CAST(value AS DECIMAL(18,2)) AS v0 FROM events
        |            WHERE value IS NOT NULL),
        |s AS (SELECT user_id, ms, max(v0) AS v FROM s0 GROUP BY 1, 2),
        |d AS (SELECT user_id, ms, v, lag(v) OVER w AS pv
        |      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
        |g AS (SELECT user_id, (ms // 604800000) * 604800000 AS bucket_start_ms,
        |        SUM(CASE WHEN pv IS NULL THEN CAST(0 AS DECIMAL(18,2))
        |                 WHEN v >= pv THEN v - pv ELSE v END) AS inc_d,
        |        arg_max(v, ms) AS state_d
        |      FROM d GROUP BY 1, 2)
        |SELECT user_id, bucket_start_ms,
        |  CAST(state_d AS DOUBLE) AS state,
        |  CAST(inc_d AS DOUBLE) AS increase,
        |  CAST(SUM(inc_d) OVER (PARTITION BY user_id ORDER BY bucket_start_ms
        |                        ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |    AS sum_total
        |FROM g""".stripMargin

  private val energyRangeSql: String =
    """WITH s0 AS (SELECT user_id, epoch_ms(ts) AS ms,
        |              CAST(value AS DECIMAL(18,2)) AS v0 FROM events
        |            WHERE value IS NOT NULL),
        |s AS (SELECT user_id, ms, max(v0) AS v FROM s0 GROUP BY 1, 2),
        |d AS (SELECT user_id, ms, v, lag(v) OVER w AS pv
        |      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
        |g AS (SELECT user_id, (ms // 3600000) * 3600000 AS b,
        |        SUM(CASE WHEN pv IS NULL THEN CAST(0 AS DECIMAL(18,2))
        |                 WHEN v >= pv THEN v - pv ELSE v END) AS inc_d
        |      FROM d GROUP BY 1, 2),
        |c AS (SELECT user_id, b,
        |        SUM(inc_d) OVER (PARTITION BY user_id ORDER BY b
        |                         ROWS UNBOUNDED PRECEDING) AS sum_d
        |      FROM g WHERE b < 1705881600000),
        |a AS (SELECT user_id,
        |        arg_max(sum_d, b) AS sum_end_d,
        |        arg_max(CASE WHEN b < 1704672000000 THEN sum_d END,
        |                CASE WHEN b < 1704672000000 THEN b END)
        |          AS sum_start_d,
        |        SUM(CASE WHEN b >= 1704672000000 THEN 1 ELSE 0 END)
        |          AS n_in_range
        |      FROM c GROUP BY 1)
        |SELECT user_id,
        |  CAST(sum_end_d - COALESCE(sum_start_d, 0) AS DOUBLE) AS energy,
        |  CAST(n_in_range AS BIGINT) AS n_buckets
        |FROM a WHERE n_in_range > 0""".stripMargin

  // Row `z`'s emulated zone as SQL: `wall(x)` is the naive local wall
  // clock of instant `x`, `instant(x)` the instant of naive wall `x`. The
  // row's signed UTC offsets apply before/after its transition instant
  // `tMs` (a fixed-offset zone has before = after, so both arms agree).
  // `instant` switches at `wMs`, the first wall that maps UNAMBIGUOUSLY
  // at the new offset — `tMs + max(offBefore, offAfter)`: any wall before
  // it maps at the pre-transition offset, which reproduces BOTH java.time
  // resolutions at once. Spring-forward (offAfter > offBefore): wMs is
  // the gap's end, so a NONEXISTENT wall that date_trunc synthesizes
  // (Santiago's gap sits exactly AT midnight) maps at the old offset —
  // java.time's shift into the later offset — and the gap day keys at its
  // true first instant. Fall-back (offAfter < offBefore): wMs is the
  // overlap's end, so an AMBIGUOUS wall inside the repeated hour
  // (Havana's overlap REACHES midnight) maps at the old offset —
  // java.time's EARLIER-offset resolution — and the 25-hour day keys at
  // its first occurrence.
  private def zoneSql(z: CalendarZone): (String => String, String => String) = {
    def offset(x: String, switchMs: Long) =
      s"(CASE WHEN $x < $switchMs THEN (${z.offBeforeMs}) " +
        s"ELSE (${z.offAfterMs}) END)"
    (x => s"$x + ${offset(x, z.tMs.getOrElse(0L))}",
      x => s"$x - ${offset(x, z.wMs)}")
  }

  // CALENDAR bars for a [[CalendarZone]] row while Spark runs the real
  // named-zone path: per-sample deltas grouped straight onto the LOCAL
  // period of the later sample; `shiftMs` moves the January fixture onto
  // the row's transition
  private def energyBarsTwoOffsetSql(z: CalendarZone, unit: String): String = {
    val (wall, instant) = zoneSql(z)
    s"""WITH s0 AS (SELECT user_id,
        |              epoch_ms(ts) + ${z.shiftMs} AS ms,
        |              CAST(value AS DECIMAL(18,2)) AS v0 FROM events
        |            WHERE value IS NOT NULL),
        |s AS (SELECT user_id, ms, max(v0) AS v FROM s0 GROUP BY 1, 2),
        |d AS (SELECT user_id, ms, v, lag(v) OVER w AS pv
        |      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
        |l AS (SELECT user_id, v, pv, ${wall("ms")} AS lms FROM d),
        |g AS (SELECT user_id,
        |        epoch_ms(date_trunc('$unit', make_timestamp(lms * 1000)))
        |          AS tms,
        |        SUM(CASE WHEN pv IS NULL THEN CAST(0 AS DECIMAL(18,2))
        |                 WHEN v >= pv THEN v - pv ELSE v END) AS inc_d
        |      FROM l GROUP BY 1, 2)
        |SELECT user_id, ${instant("tms")} AS bucket_start_ms,
        |  CAST(inc_d AS DOUBLE) AS energy
        |FROM g""".stripMargin
  }

  // the STATISTICS family for a [[CalendarZone]] row — LOCF pieces on
  // the row's fine grid and per-sample extremes truncated through the
  // same emulated zone as [[energyBarsTwoOffsetSql]]; exact because the
  // grid contains every local midnight of the zone
  private def statisticsTwoOffsetSql(z: CalendarZone, unit: String): String = {
    val (wall, instant) = zoneSql(z)
    val g = z.gridMs
    s"""WITH s0 AS (SELECT event_type,
        |              epoch_ms(ts) + ${z.shiftMs} AS ms,
        |              CAST(floor(value * 1000) AS BIGINT) AS vm FROM events
        |            WHERE value IS NOT NULL),
        |s AS (SELECT event_type, ms, max(vm) AS vm FROM s0 GROUP BY 1, 2),
        |p AS (SELECT event_type, ms, vm, lead(ms) OVER w AS nms
        |      FROM s WINDOW w AS (PARTITION BY event_type ORDER BY ms)),
        |x AS (SELECT event_type, ms, vm, nms,
        |        unnest(generate_series(ms - ms % $g,
        |          (nms - 1) - (nms - 1) % $g, $g)) AS b
        |      FROM p WHERE nms IS NOT NULL),
        |pieces AS (
        |  SELECT event_type,
        |    epoch_ms(date_trunc('$unit',
        |      make_timestamp((${wall("b")}) * 1000))) AS tb,
        |    vm * (least(nms, b + $g) - greatest(ms, b)) AS num,
        |    least(nms, b + $g) - greatest(ms, b) AS cov
        |  FROM x),
        |twa AS (SELECT event_type, tb,
        |          CAST(SUM(num) AS DOUBLE)
        |            / CAST(SUM(cov) * 1000 AS DOUBLE) AS twa
        |        FROM pieces GROUP BY 1, 2),
        |mm0 AS (SELECT event_type, epoch_ms(ts) + ${z.shiftMs} AS ms, value
        |        FROM events WHERE value IS NOT NULL),
        |mm AS (SELECT event_type,
        |         epoch_ms(date_trunc('$unit',
        |           make_timestamp((${wall("ms")}) * 1000))) AS tb,
        |         min(value) AS min_value, max(value) AS max_value
        |       FROM mm0 GROUP BY 1, 2),
        |j AS (SELECT COALESCE(t.event_type, m.event_type) AS event_type,
        |        COALESCE(t.tb, m.tb) AS tb, t.twa AS twa,
        |        m.min_value AS min_value, m.max_value AS max_value
        |      FROM twa t FULL OUTER JOIN mm m
        |        ON t.event_type = m.event_type AND t.tb = m.tb)
        |SELECT event_type, ${instant("tb")} AS bucket_ms,
        |  twa, min_value, max_value
        |FROM j""".stripMargin
  }

  // TIER-STITCHED statistics oracle: MIXED granularity computed straight
  // from raw events — hourly LOCF pieces keyed daily before the Jan 15
  // cutoff, hourly after, filtered to [Jan 8, Jan 22); Spark instead
  // unions two persisted partials tiers, so the hash gate proves the
  // stitched read equals the never-compacted answer
  private val statisticsRangeTieredSql: String =
    """WITH s0 AS (SELECT event_type, epoch_ms(ts) AS ms,
        |              CAST(floor(value * 1000) AS BIGINT) AS vm FROM events
        |            WHERE value IS NOT NULL),
        |s AS (SELECT event_type, ms, max(vm) AS vm FROM s0 GROUP BY 1, 2),
        |p AS (SELECT event_type, ms, vm, lead(ms) OVER w AS nms
        |      FROM s WINDOW w AS (PARTITION BY event_type ORDER BY ms)),
        |x AS (SELECT event_type, ms, vm, nms,
        |        unnest(generate_series(ms - ms % 3600000,
        |          (nms - 1) - (nms - 1) % 3600000, 3600000)) AS b
        |      FROM p WHERE nms IS NOT NULL),
        |pieces AS (
        |  SELECT event_type,
        |    CASE WHEN b < 1705276800000 THEN (b // 86400000) * 86400000
        |         ELSE b END AS bucket_ms,
        |    vm * (least(nms, b + 3600000) - greatest(ms, b)) AS num,
        |    least(nms, b + 3600000) - greatest(ms, b) AS cov
        |  FROM x),
        |twa AS (SELECT event_type, bucket_ms,
        |          CAST(SUM(num) AS DOUBLE)
        |            / CAST(SUM(cov) * 1000 AS DOUBLE) AS twa
        |        FROM pieces GROUP BY 1, 2),
        |mm AS (SELECT event_type,
        |         CASE WHEN epoch_ms(ts) < 1705276800000
        |              THEN (epoch_ms(ts) // 86400000) * 86400000
        |              ELSE epoch_ms(ts) - epoch_ms(ts) % 3600000
        |         END AS bucket_ms,
        |         min(value) AS min_value, max(value) AS max_value
        |       FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
        |SELECT COALESCE(t.event_type, m.event_type) AS event_type,
        |       COALESCE(t.bucket_ms, m.bucket_ms) AS bucket_ms,
        |       t.twa AS twa, m.min_value AS min_value,
        |       m.max_value AS max_value
        |FROM twa t FULL OUTER JOIN mm m
        |  ON t.event_type = m.event_type AND t.bucket_ms = m.bucket_ms
        |WHERE COALESCE(t.bucket_ms, m.bucket_ms) >= 1704672000000
        |  AND COALESCE(t.bucket_ms, m.bucket_ms) < 1705881600000""".stripMargin

  // tier-stitched COUNTER oracle: the per-sample delta chain keyed onto
  // the MIXED grid (daily before the cutoff, hourly after), cumulative
  // sum_total across the seam
  private val counterStatsTieredSql: String =
    """WITH s0 AS (SELECT user_id, epoch_ms(ts) AS ms,
        |              CAST(value AS DECIMAL(18,2)) AS v0 FROM events
        |            WHERE value IS NOT NULL),
        |s AS (SELECT user_id, ms, max(v0) AS v FROM s0 GROUP BY 1, 2),
        |d AS (SELECT user_id, ms, v, lag(v) OVER w AS pv
        |      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
        |g AS (SELECT user_id,
        |        CASE WHEN ms < 1705276800000
        |             THEN (ms // 86400000) * 86400000
        |             ELSE (ms // 3600000) * 3600000 END AS bucket_start_ms,
        |        SUM(CASE WHEN pv IS NULL THEN CAST(0 AS DECIMAL(18,2))
        |                 WHEN v >= pv THEN v - pv ELSE v END) AS inc_d,
        |        arg_max(v, ms) AS state_d
        |      FROM d GROUP BY 1, 2)
        |SELECT user_id, bucket_start_ms,
        |  CAST(state_d AS DOUBLE) AS state,
        |  CAST(inc_d AS DOUBLE) AS increase,
        |  CAST(SUM(inc_d) OVER (PARTITION BY user_id ORDER BY bucket_start_ms
        |                        ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |    AS sum_total
        |FROM g""".stripMargin

  // energy across the tier seam: mixed-grid increases summed over
  // [Jan 8, Jan 22) — n_buckets counts the MIXED in-range buckets
  private val energyRangeTieredSql: String =
    """WITH s0 AS (SELECT user_id, epoch_ms(ts) AS ms,
        |              CAST(value AS DECIMAL(18,2)) AS v0 FROM events
        |            WHERE value IS NOT NULL),
        |s AS (SELECT user_id, ms, max(v0) AS v FROM s0 GROUP BY 1, 2),
        |d AS (SELECT user_id, ms, v, lag(v) OVER w AS pv
        |      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
        |g AS (SELECT user_id,
        |        CASE WHEN ms < 1705276800000
        |             THEN (ms // 86400000) * 86400000
        |             ELSE (ms // 3600000) * 3600000 END AS b,
        |        SUM(CASE WHEN pv IS NULL THEN CAST(0 AS DECIMAL(18,2))
        |                 WHEN v >= pv THEN v - pv ELSE v END) AS inc_d
        |      FROM d GROUP BY 1, 2)
        |SELECT user_id, CAST(SUM(inc_d) AS DOUBLE) AS energy,
        |       COUNT(*) AS n_buckets
        |FROM g
        |WHERE b >= 1704672000000 AND b < 1705881600000
        |GROUP BY user_id""".stripMargin

  private val haCte: String =
    """WITH ha_states AS (
      |  SELECT event_id,
      |         CAST(user_id AS INT) AS metadata_id,
      |         CASE WHEN event_id % 7 = 0 THEN NULL
      |              ELSE CAST(event_id % 50 AS INT) END AS attributes_id,
      |         CASE WHEN event_type = 'error' THEN 'unavailable'
      |              WHEN event_type = 'signup' THEN
      |                (CASE WHEN event_id % 2 = 0 THEN 'on' ELSE 'unknown' END)
      |              WHEN event_type = 'view' THEN
      |                '-' || CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR)
      |              ELSE CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR)
      |         END AS state,
      |         epoch_ms(ts) AS last_updated_ms
      |  FROM events),
      |ha_meta AS (
      |  SELECT metadata_id,
      |         CASE WHEN metadata_id % 5 = 0 THEN 'sensor.esp.' || metadata_id
      |              ELSE 'sensor.device_' || metadata_id END AS entity_id
      |  FROM (SELECT DISTINCT CAST(user_id AS INT) AS metadata_id FROM events)
      |  WHERE metadata_id % 13 <> 3),
      |ha_attrs AS (
      |  SELECT CAST(i AS INT) AS attributes_id,
      |         CASE WHEN i = 49 THEN 'not json' ELSE
      |           '{' ||
      |           (CASE WHEN i % 6 = 5 THEN ''
      |                 ELSE '"friendly_name":"Device ' || i || '",' END) ||
      |           '"temperature":"' || i || '.5"' ||
      |           (CASE WHEN i % 4 = 3 THEN ''
      |                 ELSE ',"unit_of_measurement":"' ||
      |                   (CASE WHEN i % 4 = 0 THEN 'C'
      |                         WHEN i % 4 = 1 THEN 'pct' ELSE '' END) || '"' END) ||
      |           ',"battery":"' || (i * 7) % 100 || '"' ||
      |           ',"icon":"mdi:x","id":"' || i || '"}'
      |         END AS shared_attrs
      |  FROM range(50) t(i))""".stripMargin

  /** Numeric-likeness regex, reference-exact (Q3) — must stay identical to
    * [[Transform.isNumericLike]]. */
  private val numRe = "^([0-9]+\\.?[0-9]*|\\.[0-9]+)$"

  /** The flat core pipeline as oracle SQL. `selectEventId=false` +
    * `timeMsExpr` produce the recorder-shape variant (no row id; epoch-ms
    * recovered from the REAL-seconds double round-trip, exactly as
    * [[Transform.fromRecorder]] computes it). */
  private def corePipeSqlFor(selectEventId: Boolean, timeMsExpr: String): String =
    s"""$haCte,
       |j AS (
       |  SELECT s.event_id, s.state, s.last_updated_ms, sm.entity_id,
       |         CASE WHEN json_valid(sa.shared_attrs) THEN sa.shared_attrs END AS attrs
       |  FROM ha_states s
       |  JOIN ha_meta sm USING (metadata_id)
       |  LEFT JOIN ha_attrs sa USING (attributes_id)
       |  WHERE s.state NOT IN ('unknown','unavailable','None'))
       |SELECT ${if (selectEventId) "event_id," else ""}
       |  CASE WHEN coalesce(json_extract_string(attrs,'$$.unit_of_measurement'),'default_measurement') = ''
       |       THEN 'count'
       |       ELSE coalesce(json_extract_string(attrs,'$$.unit_of_measurement'),'default_measurement')
       |  END AS measurement,
       |  split_part(entity_id,'.',1) AS domain,
       |  substr(entity_id, strpos(entity_id,'.')+1) AS entity_id_short,
       |  coalesce(json_extract_string(attrs,'$$.friendly_name'),
       |           substr(entity_id, strpos(entity_id,'.')+1)) AS friendly_name,
       |  CASE WHEN regexp_matches(state,'$numRe') THEN CAST(state AS DOUBLE) END AS value_num,
       |  CASE WHEN NOT regexp_matches(state,'$numRe') THEN state END AS state_str,
       |  TRY_CAST(json_extract_string(attrs,'$$.temperature') AS DOUBLE) AS temperature,
       |  CASE WHEN regexp_matches(json_extract_string(attrs,'$$.battery'),'$numRe')
       |       THEN TRY_CAST(json_extract_string(attrs,'$$.battery') AS DOUBLE) END AS battery,
       |  $timeMsExpr AS time_ms
       |FROM j""".stripMargin

  private val corePipelineSql: String =
    corePipeSqlFor(selectEventId = true, "last_updated_ms")

  /** Shared token-stats SQL body (documents table). */
  private val stopwordList =
    TextAnalysis.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
  private val tokenStatsSql: String =
    s"""SELECT doc_id, lang,
       |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_distinct,
       |  CAST(list_sum(list_transform(string_split(text,' '), x -> len(x))) AS DOUBLE)
       |    / len(string_split(text,' ')) AS avg_token_len,
       |  CAST(len(list_filter(string_split(text,' '),
       |        t -> list_contains($stopwordList, t))) AS DOUBLE)
       |    / len(string_split(text,' ')) AS stopword_ratio
       |FROM documents""".stripMargin

  def oracleSql: Map[String, String] = {
    val m = withZoneQueries(Map(
    "core_pipeline" -> corePipelineSql,
    // the JDBC roundtrip must reproduce the parquet pipeline bit-for-bit
    "core_pipeline_jdbc" -> corePipelineSql,
    "core_pipeline_sorted" -> (corePipelineSql + " ORDER BY time_ms, event_id"),
    "core_pipeline_recorder" -> corePipeSqlFor(selectEventId = false,
      "CAST(round((last_updated_ms / 1000.0) * 1000) AS BIGINT)"),
    "join_inner_meta" ->
      s"""$haCte
         |SELECT s.event_id, s.metadata_id, sm.entity_id, s.state, s.last_updated_ms
         |FROM ha_states s JOIN ha_meta sm USING (metadata_id)""".stripMargin,
    "join_left_attrs" ->
      s"""$haCte
         |SELECT s.event_id, s.attributes_id, sa.shared_attrs
         |FROM ha_states s LEFT JOIN ha_attrs sa USING (attributes_id)""".stripMargin,
    "filter_junk_states" ->
      s"""$haCte
         |SELECT * FROM ha_states
         |WHERE state NOT IN ('unknown','unavailable','None')""".stripMargin,
    "watermark_filter" ->
      s"""$haCte
         |SELECT event_id, state, last_updated_ms FROM ha_states
         |WHERE last_updated_ms < $WatermarkMs""".stripMargin,
    "watermark_min" ->
      "SELECT min(epoch_ms(ts)) AS watermark_ms FROM events WHERE event_type = 'purchase'",
    "watermark_per_entity" ->
      s"""$haCte
         |SELECT entity_id, min(last_updated_ms) AS oldest_ms,
         |       max(last_updated_ms) AS newest_ms,
         |       CAST(count(*) AS BIGINT) AS n_points
         |FROM ha_states JOIN ha_meta USING (metadata_id)
         |GROUP BY entity_id""".stripMargin,
    "watermark_units_bugcompat" ->
      "SELECT min(epoch_ms(ts)) AS watermark_ms FROM events WHERE event_type = 'units'",
    "topk_oldest" ->
      """SELECT event_id, epoch_ms(ts) AS ts_ms FROM events
        |ORDER BY ts_ms, event_id LIMIT 5""".stripMargin,
    "entity_split" ->
      s"""$haCte
         |SELECT metadata_id, entity_id,
         |  split_part(entity_id,'.',1) AS domain,
         |  substr(entity_id, strpos(entity_id,'.')+1) AS entity_id_short
         |FROM ha_meta""".stripMargin,
    // the statistics-migration pipeline: recorder-shaped statistics rows
    // (per-sensor hourly mean/min/max/state/cumulative-sum in DECIMAL)
    // joined to statistics_meta and projected to flat points, with the
    // mean-type / sum-type sensor split zeroing the other triple
    "ha_statistics_points" ->
      """WITH s0 AS (SELECT CAST(user_id AS INT) AS metadata_id,
        |              epoch_ms(ts) AS ms,
        |              CAST(value AS DECIMAL(18,2)) AS v0 FROM events
        |            WHERE value IS NOT NULL),
        |s AS (SELECT metadata_id, ms, max(v0) AS v FROM s0 GROUP BY 1, 2),
        |d AS (SELECT metadata_id, ms, v, lag(v) OVER w AS pv
        |      FROM s WINDOW w AS (PARTITION BY metadata_id ORDER BY ms)),
        |g AS (SELECT metadata_id, (ms // 3600000) * 3600000 AS start_ts_ms,
        |        CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean,
        |        CAST(MIN(v) AS DOUBLE) AS minv,
        |        CAST(MAX(v) AS DOUBLE) AS maxv,
        |        CAST(arg_max(v, ms) AS DOUBLE) AS state,
        |        SUM(CASE WHEN pv IS NULL THEN CAST(0 AS DECIMAL(18,2))
        |                 WHEN v >= pv THEN v - pv ELSE v END) AS inc_d
        |      FROM d GROUP BY 1, 2),
        |st AS (SELECT metadata_id, start_ts_ms, mean, minv, maxv, state,
        |         CAST(SUM(inc_d) OVER (PARTITION BY metadata_id
        |                               ORDER BY start_ts_ms
        |                               ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |           AS cum
        |       FROM g),
        |meta AS (SELECT metadata_id,
        |           'sensor.energy_' || metadata_id AS statistic_id,
        |           CASE WHEN metadata_id % 3 = 0 THEN 'kWh'
        |                WHEN metadata_id % 3 = 1 THEN 'W'
        |           END AS unit_of_measurement,
        |           metadata_id % 2 = 0 AS has_mean,
        |           metadata_id % 2 = 1 AND metadata_id % 7 <> 5 AS has_sum
        |         FROM (SELECT DISTINCT CAST(user_id AS INT) AS metadata_id
        |               FROM events)
        |         WHERE metadata_id % 11 <> 7)
        |SELECT split_part(statistic_id, '.', 1) AS domain,
        |  substr(statistic_id, strpos(statistic_id, '.') + 1)
        |    AS entity_id_short,
        |  COALESCE(unit_of_measurement, 'default_measurement') AS unit,
        |  CASE WHEN has_mean THEN mean END AS mean,
        |  CASE WHEN has_mean THEN minv END AS min_value,
        |  CASE WHEN has_mean THEN maxv END AS max_value,
        |  CASE WHEN has_sum THEN state END AS state,
        |  CASE WHEN has_sum THEN cum END AS sum_total,
        |  start_ts_ms AS time_ms
        |FROM st JOIN meta USING (metadata_id)""".stripMargin,
    "json_flatten" ->
      s"""$haCte,
         |valid AS (SELECT attributes_id, shared_attrs FROM ha_attrs
         |          WHERE json_valid(shared_attrs))
         |SELECT attributes_id, k AS key,
         |       json_extract_string(shared_attrs, '$$.' || k) AS value
         |FROM valid, unnest(json_keys(shared_attrs)) t(k)
         |WHERE k NOT IN ('id','id_str','update_available')""".stripMargin,
    "numeric_dispatch" ->
      s"""$haCte
         |SELECT event_id, state,
         |  CASE WHEN regexp_matches(state,'$numRe') THEN CAST(state AS DOUBLE) END AS value_num,
         |  CASE WHEN NOT regexp_matches(state,'$numRe') THEN state END AS state_str
         |FROM ha_states""".stripMargin,
    "unit_defaulting" ->
      s"""$haCte,
         |u AS (SELECT attributes_id,
         |        coalesce(CASE WHEN json_valid(shared_attrs)
         |                   THEN json_extract_string(shared_attrs,'$$.unit_of_measurement') END,
         |                 'default_measurement') AS unit0
         |      FROM ha_attrs)
         |SELECT attributes_id,
         |  CASE WHEN unit0 = '' THEN 'count' ELSE unit0 END AS measurement
         |FROM u""".stripMargin,
    "friendly_name_default" ->
      s"""$haCte
         |SELECT attributes_id,
         |  CASE WHEN json_valid(shared_attrs)
         |    THEN json_extract_string(shared_attrs,'$$.friendly_name') END AS friendly_name_raw,
         |  coalesce(CASE WHEN json_valid(shared_attrs)
         |    THEN json_extract_string(shared_attrs,'$$.friendly_name') END,
         |    'dev_' || attributes_id) AS friendly_name
         |FROM ha_attrs""".stripMargin,
    "epoch_to_ts" ->
      s"""$haCte
         |SELECT event_id,
         |  strftime(make_timestamp((last_updated_ms // 1000) * 1000000),
         |           '%Y-%m-%d %H:%M:%S') AS ts_str
         |FROM ha_states""".stripMargin,
    "progress_count" -> "SELECT count(*) AS n_rows FROM events",
    // kw_hits ≡ |distinct-tokens ∩ keywords| summed per lang (the Spark
    // side computes it over xxhash64-hashed token sets — same cardinality)
    "sql_surface" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(list_filter(list_distinct(string_split(text, ' ')),
        |        t -> list_contains(['data', 'spark', 'table', 'value'], t)))) AS BIGINT) AS kw_hits
        |FROM documents GROUP BY lang""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id,
        |       count(*) AS n_dups
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "dedup_fingerprint" ->
      "SELECT doc_id, md5(lower(regexp_replace(text, ' +', ' ', 'g'))) AS fp FROM documents",
    "dedup_jaccard" -> jaccardAllPairsSql,
    // prefix-filtered twin: SAME oracle — the blocking is sound, so the
    // answer set is identical to the all-pairs posting join
    "dedup_jaccard_prefix" -> jaccardAllPairsSql,
    // window-chunked first-occurrence paragraph dedup; DuckDB list slicing
    // toks[a:b] is 1-based inclusive and clamps, matching Spark's slice()
    "dedup_paragraphs" ->
      """WITH d AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |c0 AS (SELECT doc_id, CAST(ceil(len(toks) / 16.0) AS INT) AS n_chunks, toks FROM d),
        |ch AS (SELECT doc_id, CAST(unnest(range(n_chunks)) AS INT) AS idx, toks FROM c0),
        |ck AS (SELECT doc_id, idx,
        |              array_to_string(toks[idx*16+1 : idx*16+16], ' ') AS chunk FROM ch),
        |f AS (SELECT doc_id, idx, chunk,
        |             row_number() OVER (PARTITION BY md5(chunk)
        |                                ORDER BY doc_id, idx) AS rn FROM ck),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |               string_agg(chunk, ' ' ORDER BY idx) AS kept_text
        |        FROM f WHERE rn = 1 GROUP BY doc_id)
        |SELECT c0.doc_id, CAST(n_chunks AS BIGINT) AS n_chunks,
        |       coalesce(agg.n_kept, 0) AS n_kept,
        |       coalesce(agg.kept_text, '') AS kept_text
        |FROM c0 LEFT JOIN agg USING (doc_id)""".stripMargin,
    "dedup_pagerank" -> pageRankSql,
    // fuzzy pairs: the oracle is the ALL-PAIRS brute force — PassJoin
    // blocking is sound (pigeonhole over tau+1 segments), so the blocked
    // Spark pipeline must emit exactly the brute-force answer; DuckDB's
    // levenshtein is the same unit-cost edit distance over the ASCII-only
    // signature (note 'g': DuckDB regexp_replace is first-match-only
    // without it, Spark's always replaces all)
    "dedup_fuzzy" ->
      """WITH s AS (SELECT doc_id,
        |        substr(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')),
        |               1, 64) AS sig
        |      FROM documents),
        |s2 AS (SELECT doc_id, sig FROM s WHERE len(sig) >= 8)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(levenshtein(a.sig, b.sig) AS BIGINT) AS dist
        |FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.sig, b.sig) <= 4""".stripMargin,
    // incremental dedup keys on the 8-token-prefix fingerprint; batch docs
    // drop on a base collision OR a lower-id batch collision
    "dedup_incremental" ->
      """WITH f AS (SELECT doc_id,
        |        md5(array_to_string(string_split(text,' ')[1:8], ' ')) AS fp
        |      FROM documents),
        |base AS (SELECT DISTINCT fp FROM f WHERE doc_id % 2 = 0),
        |batch AS (SELECT doc_id, fp FROM f WHERE doc_id % 2 = 1),
        |fst AS (SELECT fp, min(doc_id) AS first_id FROM batch GROUP BY fp)
        |SELECT batch.doc_id,
        |  (b.fp IS NOT NULL) AS dup_of_base,
        |  (batch.doc_id <> fst.first_id) AS dup_in_batch,
        |  (b.fp IS NULL AND batch.doc_id = fst.first_id) AS kept
        |FROM batch JOIN fst USING (fp)
        |LEFT JOIN base b ON batch.fp = b.fp""".stripMargin,
    "docs_tokenize_ids" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |cnt AS (SELECT tok, count(*) AS c
        |        FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok),
        |vocab AS (SELECT tok,
        |            CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT)
        |              AS token_id
        |          FROM cnt ORDER BY c DESC, tok LIMIT 1024),
        |e AS (SELECT doc_id, CAST(unnest(range(len(toks))) AS BIGINT) AS pos,
        |             unnest(toks) AS tok FROM t)
        |SELECT e.doc_id, e.pos, coalesce(v.token_id, 0) AS token_id
        |FROM e LEFT JOIN vocab v USING (tok)""".stripMargin,
    "docs_chunk_rag" ->
      """WITH d AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |c0 AS (SELECT doc_id, toks,
        |         CASE WHEN len(toks) <= 64 THEN 1
        |              ELSE CAST(ceil((len(toks) - 64) / 32.0) AS INT) + 1
        |         END AS nc FROM d),
        |ch AS (SELECT doc_id, CAST(unnest(range(nc)) AS INT) AS i, toks FROM c0)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  CAST(i AS BIGINT) * 32 AS start_tok,
        |  CAST(len(toks[i*32+1 : i*32+64]) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(toks[i*32+1 : i*32+64], ' ')) AS chunk_fp
        |FROM ch""".stripMargin,
    // SemDeDup greedy within-cluster prune; keep-priority = (ccos ASC,
    // vec_id ASC), i.e. farthest from the cluster centroid survives
    "dedup_semantic" ->
      """WITH x AS (SELECT label,
        |    CAST(unnest(range(len(embedding))) AS BIGINT) AS dim,
        |    unnest(embedding::DOUBLE[]) AS x
        |  FROM embeddings),
        |c AS (SELECT label, dim,
        |    CAST(SUM(CAST(x AS DECIMAL(25,10))) AS DOUBLE) / count(*) AS centroid
        |  FROM x GROUP BY label, dim),
        |cv AS (SELECT label, list(centroid ORDER BY dim) AS cvec FROM c GROUP BY label),
        |s AS (SELECT e.vec_id, e.label, e.embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) AS nrm,
        |    round(list_dot_product(e.embedding::DOUBLE[], cv.cvec) /
        |          (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
        |           sqrt(list_dot_product(cv.cvec, cv.cvec))), 6) AS ccos
        |  FROM embeddings e JOIN cv USING (label)),
        |d AS (SELECT DISTINCT b.vec_id
        |  FROM s a JOIN s b ON a.label = b.label
        |   AND (a.ccos < b.ccos OR (a.ccos = b.ccos AND a.vec_id < b.vec_id))
        |  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.2)
        |SELECT s.vec_id, s.label, s.ccos, d.vec_id IS NULL AS kept
        |FROM s LEFT JOIN d USING (vec_id)""".stripMargin,

    "text_bm25" ->
      """WITH base AS (SELECT doc_id, string_split(text,' ') AS toks,
        |       CAST(len(string_split(text,' ')) AS BIGINT) AS dl FROM documents),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(dl) AS BIGINT) AS sumdl FROM base),
        |t AS (SELECT doc_id, dl, unnest(toks) AS tok FROM base),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf, max(dl) AS dl
        |       FROM t WHERE tok IN ('spark','table','query')
        |       GROUP BY doc_id, tok),
        |dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
        |s AS (SELECT doc_id,
        |        round(ln(((g.n - dft.df) + 0.5) / (dft.df + 0.5) + 1.0) *
        |              ((tf.tf * 2.2) /
        |               (tf.tf + 1.2 * (0.25 + (0.75 * tf.dl) /
        |                               (CAST(g.sumdl AS DOUBLE) / g.n)))), 6) AS ts
        |      FROM tf JOIN dft USING (tok), g)
        |SELECT doc_id, CAST(SUM(CAST(ts AS DECIMAL(12,6))) AS DOUBLE) AS score,
        |       CAST(count(*) AS BIGINT) AS n_terms_matched
        |FROM s GROUP BY doc_id""".stripMargin,

    "events_range_join" -> rangeJoinSql,
    "events_range_join_auto" -> rangeJoinSql,
    // µs oracle: this variant compares RAW timestamps (µs-truncated on
    // both engines), not ms-truncated epochs — an ms oracle would diverge
    // on pairs whose true gap falls inside the 1ms truncation window
    "events_range_join_ts" ->
      """SELECT e.event_id, e.user_id, CAST(count(*) AS BIGINT) AS n_near
        |FROM events e JOIN events c
        |  ON c.user_id = e.user_id AND c.event_type = 'click'
        | AND epoch_us(c.ts) BETWEEN epoch_us(e.ts) - 3600000000
        |                        AND epoch_us(e.ts) + 3600000000
        |WHERE e.event_type = 'error'
        |GROUP BY 1, 2""".stripMargin,
    "events_range_join_double" ->
      """SELECT e.event_id, e.user_id, CAST(count(*) AS BIGINT) AS n_near
        |FROM events e JOIN events c
        |  ON c.user_id = e.user_id AND c.event_type = 'click'
        | AND abs(c.value - e.value) <= 0.5
        |WHERE e.event_type = 'error'
        |GROUP BY 1, 2""".stripMargin,
    "emb_cohesion" ->
      """WITH x AS (SELECT label,
        |    CAST(unnest(range(len(embedding))) AS BIGINT) AS dim,
        |    unnest(embedding::DOUBLE[]) AS x
        |  FROM embeddings),
        |c AS (SELECT label, dim,
        |    CAST(SUM(CAST(x AS DECIMAL(25,10))) AS DOUBLE) / count(*) AS centroid
        |  FROM x GROUP BY label, dim),
        |cv AS (SELECT label, list(centroid ORDER BY dim) AS cvec FROM c GROUP BY label),
        |s AS (SELECT e.label,
        |    round(list_dot_product(e.embedding::DOUBLE[], cv.cvec) /
        |          (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
        |           sqrt(list_dot_product(cv.cvec, cv.cvec))), 6) AS cos
        |  FROM embeddings e JOIN cv USING (label))
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |       CAST(SUM(CAST(cos AS DECIMAL(10,6))) AS DOUBLE) / count(*) AS avg_cosine,
        |       min(cos) AS min_cosine
        |FROM s GROUP BY label""".stripMargin,

    "docs_sample_exact_k" ->
      """WITH r AS (SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
        |               doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, lang, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 20""".stripMargin,
    "text_redact_pii" ->
      """WITH a AS (SELECT doc_id,
        |    text || ' reach user' || doc_id || '@example.com or 10.0.' ||
        |    (doc_id % 256) || '.17 tel +1 555 123 ' ||
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(text, '\+?\d[\d -]{7,}\d')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<PII>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<PII>', 'g'),
        |    '\+?\d[\d -]{7,}\d', '<PII>', 'g')) AS BIGINT) AS clean_len
        |FROM a""".stripMargin,
    "docs_split_counts" ->
      """SELECT source,
        |  CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM (SELECT source,
        |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
        |      FROM documents)
        |GROUP BY 1, 2""".stripMargin,
    "docs_mix_temperature" ->
      """WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tokens
        |      FROM documents GROUP BY source),
        |w AS (SELECT *, round(sqrt(CAST(n_tokens AS DOUBLE)), 6) AS w FROM per),
        |t AS (SELECT CAST(SUM(CAST(w AS DECIMAL(28,6))) AS DOUBLE) AS tot_w FROM w)
        |SELECT source, n_docs, n_tokens,
        |  round(w / tot_w, 6) AS p,
        |  CAST(floor(round(w / tot_w, 6) * 1000000) AS BIGINT) AS alloc_tokens
        |FROM w, t""".stripMargin,
    "docs_split_leakage" ->
      """WITH a AS (SELECT
        |    md5(array_to_string(string_split(text,' ')[1:8], ' ')) AS fp,
        |    CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM (SELECT text,
        |          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |            % 100 AS b
        |        FROM documents))
        |SELECT fp, CAST(count(DISTINCT split) AS BIGINT) AS n_splits,
        |       CAST(count(*) AS BIGINT) AS n_docs
        |FROM a GROUP BY fp HAVING count(DISTINCT split) >= 2""".stripMargin,
    "text_contamination" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
        |       FROM d),
        |x AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS x FROM sh),
        |tr AS (SELECT doc_id AS train_doc, x FROM x WHERE doc_id % 10 <> 0),
        |bounded AS (SELECT x FROM tr GROUP BY x
        |            HAVING count(DISTINCT train_doc) <= 1000),
        |ev AS (SELECT doc_id, x FROM x WHERE doc_id % 10 = 0)
        |SELECT ev.doc_id,
        |  CAST(count(DISTINCT tr.train_doc) AS BIGINT) AS n_train_docs,
        |  CAST(count(DISTINCT ev.x) AS BIGINT) AS n_shared
        |FROM ev JOIN tr USING (x) JOIN bounded USING (x)
        |GROUP BY ev.doc_id""".stripMargin,
    "text_gopher_rules" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok
        |           FROM documents),
        |pt AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
        |pd AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |              CAST(count(*) AS BIGINT) AS n_distinct,
        |              CAST(sum(c * len(tok)) AS BIGINT) AS sum_len,
        |              CAST(max(c) AS BIGINT) AS top_c
        |       FROM pt GROUP BY 1)
        |SELECT doc_id, n_tokens, n_distinct,
        |       CAST(sum_len AS DOUBLE) / n_tokens AS mean_word_len,
        |       CAST(top_c AS DOUBLE) / n_tokens AS top_token_ratio,
        |       CAST(CASE WHEN n_tokens >= 30
        |                  AND CAST(sum_len AS DOUBLE) / n_tokens BETWEEN 3 AND 6
        |                  AND CAST(top_c AS DOUBLE) / n_tokens <= 0.15
        |             THEN 1 ELSE 0 END AS BIGINT) AS keep_flag
        |FROM pd""".stripMargin,
    "docs_sample_stratified" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 1000 < CASE WHEN lang = 'en' THEN 100 ELSE 500 END""".stripMargin,
    "docs_domain_cap" ->
      """WITH r AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
        |               doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, source, CAST(rn AS BIGINT) AS rn FROM r
        |WHERE rn <= 10""".stripMargin,
    "docs_global_shuffle" ->
      """WITH h AS (SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
        |  FROM documents)
        |SELECT doc_id, h % 16 AS shard,
        |  CAST(row_number() OVER (PARTITION BY h % 16 ORDER BY h, doc_id)
        |       AS BIGINT) AS pos
        |FROM h""".stripMargin,
    "docs_shard_stats" ->
      """SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |         % 16 AS shard,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars
        |FROM documents GROUP BY 1""".stripMargin,
    "docs_budget_pack" ->
      s"""WITH s AS ($tokenStatsSql),
         |q AS (SELECT doc_id, lang, n_tokens,
         |      CAST((CASE WHEN n_tokens >= 20 THEN 1 ELSE 0 END) +
         |           (CASE WHEN CAST(n_distinct AS DOUBLE) / n_tokens > 0.3
         |                 THEN 1 ELSE 0 END) +
         |           (CASE WHEN stopword_ratio < 0.5 THEN 1 ELSE 0 END)
         |        AS BIGINT) AS quality_score
         |      FROM s)
         |SELECT doc_id, lang, n_tokens, quality_score,
         |       CAST(sum(n_tokens) OVER (PARTITION BY lang
         |            ORDER BY quality_score DESC, doc_id ASC) AS BIGINT)
         |         AS cum_tokens
         |FROM q QUALIFY cum_tokens <= 2000""".stripMargin,

    "docs_seq_pack" ->
      """WITH s AS (SELECT doc_id, lang,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |      FROM documents),
        |c AS (SELECT doc_id, lang, n_tokens,
        |        CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang
        |             ORDER BY doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |           0) AS BIGINT) AS cum_before
        |      FROM s)
        |SELECT doc_id, lang, n_tokens,
        |       cum_before // 512 AS seq_id,
        |       cum_before % 512 AS seq_offset
        |FROM c""".stripMargin,
    "dedup_minhash_sig" -> minhashSigSql,
    "dedup_lsh_pairs" -> lshPairsSql,
    "dedup_jaccard_est" -> jaccardEstSql,
    "dedup_lsh_quality" -> lshQualitySql,
    "dedup_substring_spans" -> substringSpansSql,
    "emb_gram" -> embGramSql,
    "docs_hll_registers" -> hllRegistersSql,
    "docs_hll_estimate" -> hllEstimateSql,
    "text_cms_counts" -> cmsCountsSql,
    "text_cms_estimate" -> cmsEstimateSql,
    // merge ≡ whole: the shard-merged sketches must reproduce the
    // whole-corpus tables bit-for-bit, so they share those oracles
    "docs_hll_merge" -> hllRegistersSql,
    "docs_hll_intersect" -> hllIntersectSql,
    "text_cms_merge" -> cmsCountsSql,
    "tpch_agg_pushdown" ->
      """SELECT min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
        |       count(*) AS n_rows FROM lineitem""".stripMargin,
    "dedup_clusters_cc" -> clustersCcSql,
    "dedup_survivors" -> survivorsSql,
    "pipeline_dedup_pack" -> pipelinePackSql,
    "pipeline_cap_score_shard" ->
      """WITH capped AS (
        |  SELECT doc_id, source FROM (
        |    SELECT doc_id, source,
        |      row_number() OVER (PARTITION BY source
        |        ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
        |                 doc_id) AS rn
        |    FROM documents) WHERE rn <= 10),
        |scored AS (
        |  SELECT doc_id,
        |    CAST(sum(('0x' || substr(md5('w_' ||
        |        CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS VARCHAR)),
        |        1, 8))::BIGINT % 1000 - 500) AS BIGINT) AS lm
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY 1),
        |kept AS (
        |  SELECT capped.doc_id, capped.source,
        |         CAST(lm AS DOUBLE) / 1000.0 AS logit
        |  FROM capped JOIN scored ON capped.doc_id = scored.doc_id
        |  WHERE lm > 0),
        |h AS (SELECT doc_id, source, logit,
        |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
        |      FROM kept)
        |SELECT doc_id, h % 16 AS shard,
        |  CAST(row_number() OVER (PARTITION BY h % 16 ORDER BY h, doc_id)
        |       AS BIGINT) AS pos,
        |  source, logit
        |FROM h""".stripMargin,
    "dedup_simhash_sig" -> simhashSigSql,
    "dedup_embedding_exact" -> embeddingExactSql,
    "emb_contamination" -> embContaminationSql,

    "topk_bruteforce" -> topkSql,
    "topk_agg" -> topkSql,
    "knn_graph_exact" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id, b.vec_id AS nbr_id,
        |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos_raw
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |ranked AS (SELECT vec_id, nbr_id, cos_raw,
        |    CAST(row_number() OVER (PARTITION BY vec_id
        |                            ORDER BY cos_raw DESC, nbr_id ASC) AS BIGINT) AS rank
        |  FROM pairs)
        |SELECT vec_id, nbr_id, round(cos_raw, 6) AS cosine, rank
        |FROM ranked WHERE rank <= 5""".stripMargin,
    "emb_quantize" ->
      """WITH m AS (SELECT vec_id, embedding::DOUBLE[] AS e,
        |    list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS maxabs
        |  FROM embeddings)
        |SELECT vec_id, maxabs / 127 AS scale,
        |  CAST(unnest(range(len(e))) AS BIGINT) AS dim,
        |  unnest(list_transform(e, x -> (round(x * 127 / maxabs))::INT)) AS q
        |FROM m WHERE maxabs <> 0""".stripMargin,

    "emb_normalize" ->
      """WITH m AS (SELECT vec_id, embedding::DOUBLE[] AS e,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings)
        |SELECT vec_id, CAST(unnest(range(len(e))) AS BIGINT) AS dim,
        |  round(unnest(e) / nrm, 6) AS nval
        |FROM m WHERE nrm <> 0""".stripMargin,
    // two-stage ANN: the coarse JL shortlist and the exact re-rank both
    // use deterministic scores and (score DESC, vec_id) tie-breaks, so the
    // oracle reproduces the full pipeline including recall effects
    "topk_jl" ->
      """WITH m AS (SELECT t1.k, t2.d,
        |    CASE WHEN ('0x' || substr(md5(t1.k::VARCHAR || '_' || t2.d::VARCHAR),
        |                              1, 1))::INT % 2 = 0
        |         THEN 1.0 ELSE -1.0 END AS r
        |  FROM range(16) t1(k), range(64) t2(d)),
        |mv AS (SELECT k, list(r ORDER BY d) AS rvec FROM m GROUP BY k),
        |pv0 AS (SELECT e.vec_id, mv.k,
        |    list_dot_product(e.embedding::DOUBLE[], mv.rvec) / 4.0 AS pval
        |  FROM embeddings e, mv),
        |pvec AS (SELECT vec_id, list(pval ORDER BY k) AS p FROM pv0 GROUP BY vec_id),
        |q AS (SELECT p0.vec_id AS query_id, p0.p AS qp,
        |        e.embedding::DOUBLE[] AS qvec
        |      FROM pvec p0 JOIN embeddings e USING (vec_id)
        |      ORDER BY p0.vec_id LIMIT 8),
        |coarse AS (SELECT q.query_id, v.vec_id,
        |    list_dot_product(q.qp, v.p) /
        |      (sqrt(list_dot_product(q.qp, q.qp)) *
        |       sqrt(list_dot_product(v.p, v.p))) AS jc
        |  FROM pvec v, q WHERE v.vec_id <> q.query_id),
        |short AS (SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id,
        |           row_number() OVER (PARTITION BY query_id
        |                              ORDER BY jc DESC, vec_id ASC) AS rn
        |    FROM coarse) WHERE rn <= 30),
        |fine AS (SELECT s.query_id, s.vec_id,
        |    list_dot_product(q.qvec, e.embedding::DOUBLE[]) /
        |      (sqrt(list_dot_product(q.qvec, q.qvec)) *
        |       sqrt(list_dot_product(e.embedding::DOUBLE[],
        |                             e.embedding::DOUBLE[]))) AS cos_raw
        |  FROM short s
        |  JOIN q ON s.query_id = q.query_id
        |  JOIN embeddings e ON s.vec_id = e.vec_id),
        |ranked AS (SELECT query_id, vec_id, cos_raw,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |                            ORDER BY cos_raw DESC, vec_id ASC) AS BIGINT)
        |      AS rank
        |  FROM fine)
        |SELECT query_id, vec_id, round(cos_raw, 6) AS cosine, rank
        |FROM ranked WHERE rank <= 10""".stripMargin,
    // the ±1 matrix is md5-derived on both sides; /4.0 = /sqrt(16) is exact
    "emb_project" ->
      """WITH m AS (SELECT t1.k, t2.d,
        |    CASE WHEN ('0x' || substr(md5(t1.k::VARCHAR || '_' || t2.d::VARCHAR),
        |                              1, 1))::INT % 2 = 0
        |         THEN 1.0 ELSE -1.0 END AS r
        |  FROM range(16) t1(k), range(64) t2(d)),
        |mv AS (SELECT k, list(r ORDER BY d) AS rvec FROM m GROUP BY k)
        |SELECT e.vec_id, CAST(mv.k AS BIGINT) AS dim,
        |  round(list_dot_product(e.embedding::DOUBLE[], mv.rvec) / 4.0, 6) AS pval
        |FROM embeddings e, mv""".stripMargin,
    "emb_centroids" ->
      """WITH x AS (SELECT label,
        |    CAST(unnest(range(len(embedding))) AS BIGINT) AS dim,
        |    unnest(embedding::DOUBLE[]) AS x
        |  FROM embeddings)
        |SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(x AS DECIMAL(25,10))) AS DOUBLE) / count(*) AS centroid
        |FROM x GROUP BY label, dim""".stripMargin,
    // 2 unrolled Lloyd rounds: integer-quantized centroid means
    // (floor(x*1e9) BIGINT sums / (n*1e9) — floor has no decimal-cast tie
    // for the engines to disagree on), distances
    // quantized per TERM (floor((x−c)²·1e15) as BIGINT — floor, not round:
    // Spark rounds the shortest-decimal rendering, C libraries the binary
    // double — summed as integers, order-free), argmin ties low
    "emb_kmeans" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |a0 AS (SELECT vec_id, v, vec_id % 8 AS cluster FROM e),
        |c1 AS (SELECT cluster, dim,
        |    CAST(SUM(CAST(floor(x * 1.0E9) AS BIGINT)) AS DOUBLE) /
        |      (CAST(count(*) AS DOUBLE) * 1.0E9) AS c
        |  FROM (SELECT cluster, CAST(unnest(range(len(v))) AS BIGINT) AS dim,
        |          unnest(v) AS x FROM a0)
        |  GROUP BY 1, 2),
        |cv1 AS (SELECT cluster, list(c ORDER BY dim) AS cvec FROM c1 GROUP BY 1),
        |d1 AS (SELECT vec_id, cluster,
        |    sum(CAST(floor((x - c) * (x - c) * 1.0E15) AS BIGINT)) AS q
        |  FROM (SELECT a.vec_id, cv.cluster, unnest(a.v) AS x,
        |          unnest(cv.cvec) AS c
        |        FROM a0 a CROSS JOIN cv1 cv)
        |  GROUP BY 1, 2),
        |a1 AS (SELECT d.vec_id, e.v, d.cluster, d.q
        |  FROM (SELECT vec_id, cluster, q,
        |          row_number() OVER (PARTITION BY vec_id ORDER BY q, cluster)
        |            AS rn
        |        FROM d1) d JOIN e USING (vec_id) WHERE d.rn = 1),
        |c2 AS (SELECT cluster, dim,
        |    CAST(SUM(CAST(floor(x * 1.0E9) AS BIGINT)) AS DOUBLE) /
        |      (CAST(count(*) AS DOUBLE) * 1.0E9) AS c
        |  FROM (SELECT cluster, CAST(unnest(range(len(v))) AS BIGINT) AS dim,
        |          unnest(v) AS x FROM a1)
        |  GROUP BY 1, 2),
        |cv2 AS (SELECT cluster, list(c ORDER BY dim) AS cvec FROM c2 GROUP BY 1),
        |d2 AS (SELECT vec_id, cluster,
        |    sum(CAST(floor((x - c) * (x - c) * 1.0E15) AS BIGINT)) AS q
        |  FROM (SELECT a.vec_id, cv.cluster, unnest(a.v) AS x,
        |          unnest(cv.cvec) AS c
        |        FROM a0 a CROSS JOIN cv2 cv)
        |  GROUP BY 1, 2),
        |a2 AS (SELECT vec_id, cluster, q
        |  FROM (SELECT vec_id, cluster, q,
        |          row_number() OVER (PARTITION BY vec_id ORDER BY q, cluster)
        |            AS rn
        |        FROM d2) WHERE rn = 1)
        |SELECT CAST(cluster AS BIGINT) AS cluster,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(q) AS BIGINT) AS ssd_q
        |FROM a2 GROUP BY 1""".stripMargin,

    "text_token_stats" -> tokenStatsSql,
    "text_quality_lr" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok
        |           FROM documents),
        |b AS (SELECT doc_id,
        |        ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS j FROM t),
        |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |        CAST(sum(('0x' || substr(md5('w_' || CAST(j AS VARCHAR)), 1, 8))::BIGINT
        |                 % 1000 - 500) AS BIGINT) AS lm
        |      FROM b GROUP BY 1)
        |SELECT doc_id, n_tokens, CAST(lm AS DOUBLE) / 1000.0 AS logit,
        |  CAST(CASE WHEN lm > 0 THEN 1 ELSE 0 END AS BIGINT) AS pred
        |FROM s""".stripMargin,
    // shared CTE chain: milli-logit from the hashed-LR weights (exactly
    // text_quality_lr's `s`) joined to the Gopher keep label (exactly
    // text_gopher_rules' decision) — the Spark side computes both in one
    // projection; equality is unaffected by the SQL's join formulation
    "text_quality_auc" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok
        |           FROM documents),
        |b AS (SELECT doc_id,
        |        ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS j FROM t),
        |s AS (SELECT doc_id,
        |        CAST(sum(('0x' || substr(md5('w_' || CAST(j AS VARCHAR)), 1, 8))::BIGINT
        |                 % 1000 - 500) AS BIGINT) AS lm
        |      FROM b GROUP BY 1),
        |pt AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
        |pd AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |              CAST(sum(c * len(tok)) AS BIGINT) AS sum_len,
        |              CAST(max(c) AS BIGINT) AS top_c
        |       FROM pt GROUP BY 1),
        |lab AS (SELECT doc_id, CASE WHEN n_tokens >= 30
        |            AND CAST(sum_len AS DOUBLE) / n_tokens BETWEEN 3 AND 6
        |            AND CAST(top_c AS DOUBLE) / n_tokens <= 0.15
        |          THEN 1 ELSE 0 END AS keep_flag FROM pd),
        |j AS (SELECT s.lm, lab.keep_flag FROM s JOIN lab USING (doc_id)),
        |g AS (SELECT lm, CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(keep_flag) AS BIGINT) AS p FROM j GROUP BY 1),
        |c AS (SELECT lm, n, p,
        |    CAST(coalesce(SUM(n) OVER (ORDER BY lm
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below
        |  FROM g)
        |SELECT CAST(sum(p) AS BIGINT) AS n_pos,
        |  CAST(sum(n - p) AS BIGINT) AS n_neg,
        |  CAST(sum(p * (below * 2 + n + 1)) - sum(p) * (sum(p) + 1) AS DOUBLE)
        |    / CAST(sum(p) * sum(n - p) * 2 AS DOUBLE) AS auc
        |FROM c""".stripMargin,
    "text_quality_calibration" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok
        |           FROM documents),
        |b AS (SELECT doc_id,
        |        ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS j FROM t),
        |s AS (SELECT doc_id,
        |        CAST(sum(('0x' || substr(md5('w_' || CAST(j AS VARCHAR)), 1, 8))::BIGINT
        |                 % 1000 - 500) AS BIGINT) AS lm
        |      FROM b GROUP BY 1),
        |pt AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
        |pd AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |              CAST(sum(c * len(tok)) AS BIGINT) AS sum_len,
        |              CAST(max(c) AS BIGINT) AS top_c
        |       FROM pt GROUP BY 1),
        |lab AS (SELECT doc_id, CASE WHEN n_tokens >= 30
        |            AND CAST(sum_len AS DOUBLE) / n_tokens BETWEEN 3 AND 6
        |            AND CAST(top_c AS DOUBLE) / n_tokens <= 0.15
        |          THEN 1 ELSE 0 END AS keep_flag FROM pd),
        |j AS (SELECT s.lm, lab.keep_flag FROM s JOIN lab USING (doc_id))
        |SELECT CAST(floor(lm / 500.0) AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(keep_flag) AS BIGINT) AS n_keep,
        |  CAST(sum(lm) AS DOUBLE) / CAST(count(*) * 1000 AS DOUBLE) AS mean_logit,
        |  CAST(sum(keep_flag) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS keep_rate
        |FROM j GROUP BY 1""".stripMargin,
    "text_quality" ->
      s"""WITH s AS ($tokenStatsSql)
         |SELECT doc_id, n_tokens, n_distinct, stopword_ratio,
         |  CAST(n_distinct AS DOUBLE) / n_tokens AS ttr,
         |  CAST((CASE WHEN n_tokens >= 20 THEN 1 ELSE 0 END) +
         |       (CASE WHEN CAST(n_distinct AS DOUBLE) / n_tokens > 0.3 THEN 1 ELSE 0 END) +
         |       (CASE WHEN stopword_ratio < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS quality_score
         |FROM s""".stripMargin,
    "text_langid" ->
      s"""SELECT doc_id, lang AS declared_lang,
         |  CAST(len(list_filter(string_split(text,' '),
         |        t -> list_contains($stopwordList, t))) AS DOUBLE)
         |    / len(string_split(text,' ')) AS en_score,
         |  CASE WHEN CAST(len(list_filter(string_split(text,' '),
         |        t -> list_contains($stopwordList, t))) AS DOUBLE)
         |    / len(string_split(text,' ')) >= 0.15
         |  THEN 'en' ELSE 'other' END AS predicted_lang
         |FROM documents""".stripMargin,
    "text_top_terms" ->
      """WITH tf AS (SELECT lang, unnest(string_split(text,' ')) AS token FROM documents),
        |c AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS cnt FROM tf GROUP BY 1, 2)
        |SELECT lang, token, cnt, rank FROM (
        |  SELECT lang, token, cnt,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token ASC) AS BIGINT) AS rank
        |  FROM c)
        |WHERE rank <= 5""".stripMargin,
    "text_lang_stats" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS n_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |  CAST(SUM(len(string_split(text,' '))) AS DOUBLE) / count(*) AS avg_tokens_per_doc
        |FROM documents GROUP BY lang""".stripMargin,

    "text_bpe_tokens" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.bpeIshPattern}')) AS BIGINT) AS n_bpe_tokens
         |FROM documents""".stripMargin,
    // Rabin-Karp gram hash: h_i = Σ_j ord(c_{i+j})·B^(7-j) mod P with B=31,
    // P=1e9+7 — the powers below are B^7..B^0 mod P; every intermediate
    // fits BIGINT, so DuckDB reproduces the Spark expression exactly
    "text_winnow_fp" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(len(text) - 7, 1) + 1),
        |      i -> (list_sum(list_transform(range(0, 8),
        |             j -> ord(substr(text, (i + j)::INT, 1))::BIGINT *
        |                  ([512613922, 887503681, 28629151, 923521, 29791, 961, 31, 1])[(j + 1)::INT]))
        |            % 1000000007)::BIGINT) AS hashes
        |  FROM documents)
        |SELECT doc_id, unnest(list_distinct(
        |  list_transform(range(1, greatest(len(hashes) - 3, 1) + 1),
        |    j -> list_aggregate(hashes[j:j+3], 'min')))) AS fp
        |FROM h""".stripMargin,

    "text_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |g AS (SELECT doc_id, CAST(len(t) - 2 AS BIGINT) AS n_trigrams,
        |        CAST(len(list_distinct(list_transform(range(1, len(t) - 1),
        |          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS BIGINT) AS n_distinct_trigrams
        |      FROM d WHERE len(t) >= 3)
        |SELECT doc_id, n_trigrams, n_distinct_trigrams,
        |  CAST(n_trigrams - n_distinct_trigrams AS DOUBLE) / n_trigrams AS dup_ratio
        |FROM g""".stripMargin,
    "text_novelty" ->
      """WITH d AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |g AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
        |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS tris
        |      FROM d WHERE len(t) >= 3),
        |u AS (SELECT doc_id, unnest(tris) AS tri FROM g),
        |df AS (SELECT tri, count(*) AS df FROM u GROUP BY tri)
        |SELECT u.doc_id, CAST(count(*) AS BIGINT) AS n_distinct_trigrams,
        |  CAST(count(CASE WHEN df.df = 1 THEN 1 END) AS BIGINT) AS n_unique_trigrams,
        |  CAST(count(CASE WHEN df.df = 1 THEN 1 END) AS DOUBLE) / count(*) AS novelty
        |FROM u JOIN df USING (tri) GROUP BY u.doc_id""".stripMargin,
    "docs_source_mix" ->
      """WITH a AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source, lang)
        |SELECT source, lang, n_docs, n_tokens,
        |  CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER () AS doc_share,
        |  CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER () AS token_share
        |FROM a""".stripMargin,
    "docs_dedup_rate" ->
      """WITH a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique
        |  FROM documents GROUP BY source)
        |SELECT source, n_docs, n_unique,
        |  CAST(n_docs - n_unique AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_rate
        |FROM a""".stripMargin,
    "docs_profile" ->
      """WITH a AS (SELECT count(*) AS total,
        |  count(doc_id) AS nn1, count(DISTINCT doc_id) AS nd1,
        |  min(CAST(doc_id AS VARCHAR)) AS mn1, max(CAST(doc_id AS VARCHAR)) AS mx1,
        |  count(text) AS nn2, count(DISTINCT text) AS nd2,
        |  min(text) AS mn2, max(text) AS mx2,
        |  count(lang) AS nn3, count(DISTINCT lang) AS nd3,
        |  min(lang) AS mn3, max(lang) AS mx3,
        |  count(source) AS nn4, count(DISTINCT source) AS nd4,
        |  min(source) AS mn4, max(source) AS mx4
        |  FROM documents)
        |SELECT 'doc_id' AS col_name, CAST(total - nn1 AS BIGINT) AS n_nulls,
        |  CAST(nd1 AS BIGINT) AS n_distinct, mn1 AS min_value, mx1 AS max_value
        |FROM a
        |UNION ALL SELECT 'text', CAST(total - nn2 AS BIGINT),
        |  CAST(nd2 AS BIGINT), mn2, mx2 FROM a
        |UNION ALL SELECT 'lang', CAST(total - nn3 AS BIGINT),
        |  CAST(nd3 AS BIGINT), mn3, mx3 FROM a
        |UNION ALL SELECT 'source', CAST(total - nn4 AS BIGINT),
        |  CAST(nd4 AS BIGINT), mn4, mx4 FROM a""".stripMargin,
    "docs_like_family" ->
      """SELECT source,
        |  count(CASE WHEN text LIKE 'key%' THEN 1 END) AS n_prefix,
        |  count(CASE WHEN text LIKE '%able' THEN 1 END) AS n_suffix,
        |  count(CASE WHEN text LIKE '%window%' THEN 1 END) AS n_contains,
        |  count(CASE WHEN text LIKE '%s_ow%' THEN 1 END) AS n_wild
        |FROM documents GROUP BY source""".stripMargin,
    "docs_length_tiers" ->
      """WITH s AS (SELECT doc_id, len(string_split(text,' ')) AS n_tokens
        |  FROM documents),
        |h AS (SELECT n_tokens, count(*) AS cnt FROM s GROUP BY n_tokens),
        |r AS (SELECT n_tokens, sum(cnt) OVER (ORDER BY n_tokens) AS cum FROM h),
        |tot AS (SELECT count(*) AS n FROM s),
        |cuts AS (SELECT ts.t, min(r.n_tokens) AS cut
        |  FROM r, tot, (SELECT unnest(range(1, 10)) AS t) ts
        |  WHERE r.cum * 10 >= tot.n * ts.t GROUP BY ts.t)
        |SELECT s.doc_id, CAST(s.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(1 + (SELECT count(*) FROM cuts WHERE s.n_tokens > cuts.cut)
        |       AS BIGINT) AS tier
        |FROM s""".stripMargin,
    "text_heavy_hitters_exact" ->
      """WITH toks AS (SELECT lang, unnest(string_split(text,' ')) AS token
        |  FROM documents),
        |c AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS n_occurrences
        |  FROM toks GROUP BY lang, token),
        |n AS (SELECT lang, count(*) AS total FROM toks GROUP BY lang)
        |SELECT c.lang, c.token, c.n_occurrences
        |FROM c JOIN n USING (lang)
        |WHERE c.n_occurrences > CAST(n.total AS DOUBLE) / 41""".stripMargin,
    "docs_sample_weighted" ->
      """WITH p AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) /
        |      (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |             + 1 AS DOUBLE) / 4294967296.0) AS pri
        |  FROM documents),
        |r AS (SELECT doc_id, lang, pri,
        |    row_number() OVER (PARTITION BY lang ORDER BY pri DESC, doc_id) AS rn
        |  FROM p)
        |SELECT doc_id, lang, pri, CAST(rn AS BIGINT) AS rn FROM r
        |WHERE rn <= 20""".stripMargin,
    "text_unigram_logprob" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY doc_id, token),
        |vocab AS (SELECT token, CAST(count(*) AS BIGINT) AS c
        |  FROM toks GROUP BY token),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM toks)
        |SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
        |  round(CAST(SUM(CAST(round(ln(CAST(vocab.c AS DOUBLE)
        |                               / CAST(n.total AS DOUBLE)), 6)
        |                      AS DECIMAL(20,6)) * tf.tf) AS DOUBLE)
        |        / SUM(tf.tf), 6) AS avg_logp
        |FROM tf JOIN vocab USING (token), n
        |GROUP BY tf.doc_id""".stripMargin,
    "text_bigram_logprob" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS l FROM documents),
        |bg AS (SELECT doc_id, unnest(l[1:len(l)-1]) AS t1,
        |              unnest(l[2:len(l)]) AS t2
        |  FROM t WHERE len(l) >= 2),
        |tf AS (SELECT doc_id, t1, t2, CAST(count(*) AS BIGINT) AS tf
        |  FROM bg GROUP BY doc_id, t1, t2),
        |c2 AS (SELECT t1, t2, CAST(sum(tf) AS BIGINT) AS c2
        |  FROM tf GROUP BY t1, t2),
        |c1 AS (SELECT t1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY t1)
        |SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_bigrams,
        |  round(CAST(SUM(CAST(round(ln(CAST(c2.c2 AS DOUBLE)
        |                               / CAST(c1.c1 AS DOUBLE)), 6)
        |                      AS DECIMAL(20,6)) * tf.tf) AS DOUBLE)
        |        / SUM(tf.tf), 6) AS avg_logp
        |FROM tf JOIN c2 USING (t1, t2) JOIN c1 USING (t1)
        |GROUP BY tf.doc_id""".stripMargin,
    "text_tfidf" ->
      """WITH tf AS (
        |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS token FROM documents)
        |  GROUP BY doc_id, token),
        |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*)::DOUBLE AS n FROM documents)
        |SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |  round(tf.tf * ln(n.n / df.df), 6) AS tfidf
        |FROM tf JOIN df USING (token), n""".stripMargin,
    "events_distinct_users" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY event_type""".stripMargin,
    "events_value_quantiles" ->
      """SELECT event_type, quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.9) AS p90
        |FROM events GROUP BY event_type""".stripMargin,
    "events_value_scaled" ->
      """WITH s AS (SELECT event_type, quantile_cont(value, 0.5) AS med,
        |    quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
        |  FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type,
        |       (e.value - s.med) / (s.q3 - s.q1) AS scaled
        |FROM events e JOIN s USING (event_type) WHERE s.q3 <> s.q1""".stripMargin,
    "events_json_props" ->
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events",
    "events_hourly" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // raw-moment dispersion: DECIMAL moments (exact, order-free), then the
    // identical IEEE finish on both engines; n<2 → NULL
    "events_stddev_hourly" ->
      """WITH h AS (SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms,
        |    CAST(count(value) AS BIGINT) AS n,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS sdec,
        |    SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
        |      AS s2dec
        |  FROM events GROUP BY 1)
        |SELECT hour_ms, n,
        |  CASE WHEN n < 2 THEN NULL ELSE
        |    (CAST(s2dec AS DOUBLE) -
        |     CAST(sdec AS DOUBLE) * CAST(sdec AS DOUBLE) / CAST(n AS DOUBLE))
        |    / CAST(n - 1 AS DOUBLE) END AS var_samp,
        |  CASE WHEN n < 2 THEN NULL ELSE sqrt(
        |    (CAST(s2dec AS DOUBLE) -
        |     CAST(sdec AS DOUBLE) * CAST(sdec AS DOUBLE) / CAST(n AS DOUBLE))
        |    / CAST(n - 1 AS DOUBLE)) END AS stddev_samp
        |FROM h""".stripMargin,
    // trailing 24-bucket moving average: BIGINT milli-quantized bucket
    // sums re-summed by a RANGE frame (absent buckets contribute
    // nothing), ONE terminal division — the identical IEEE op on both
    // engines
    "events_moving_hourly" ->
      """WITH b AS (
        |  SELECT event_type,
        |    (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms,
        |    CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS svm,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, bucket_ms,
        |  CAST(SUM(svm) OVER w AS DOUBLE)
        |    / CAST(SUM(cnt) OVER w * 1000 AS DOUBLE) AS moving_avg
        |FROM b WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ms
        |  RANGE BETWEEN 82800000 PRECEDING AND CURRENT ROW)""".stripMargin,
    // Bollinger bands: milli-quantized BIGINT moments re-summed by the
    // RANGE frame (exact), then the identical IEEE finish; <2 samples in
    // the window → NULL bands
    "events_bollinger" ->
      """WITH b AS (
        |  SELECT event_type,
        |    (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms,
        |    CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS svm,
        |    CAST(SUM(CAST(floor(value * 1000) AS HUGEINT) *
        |             CAST(floor(value * 1000) AS HUGEINT)) AS HUGEINT) AS s2vm,
        |    CAST(count(value) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |f AS (
        |  SELECT event_type, bucket_ms,
        |    CAST(SUM(cnt) OVER w AS BIGINT) AS n,
        |    CAST(SUM(svm) OVER w AS DOUBLE) AS s,
        |    CAST(SUM(s2vm) OVER w AS DOUBLE) AS s2
        |  FROM b WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ms
        |    RANGE BETWEEN 82800000 PRECEDING AND CURRENT ROW))
        |SELECT event_type, bucket_ms, n,
        |  s / (CAST(n AS DOUBLE) * 1000.0) AS mid,
        |  CASE WHEN n < 2 THEN NULL ELSE
        |    s / (CAST(n AS DOUBLE) * 1000.0) +
        |    2.0 * (sqrt((s2 - s * s / CAST(n AS DOUBLE)) /
        |                CAST(n - 1 AS DOUBLE)) / 1000.0) END AS upper,
        |  CASE WHEN n < 2 THEN NULL ELSE
        |    s / (CAST(n AS DOUBLE) * 1000.0) -
        |    2.0 * (sqrt((s2 - s * s / CAST(n AS DOUBLE)) /
        |                CAST(n - 1 AS DOUBLE)) / 1000.0) END AS lower
        |FROM f""".stripMargin,
    // excursions: the bollinger panel as a CTE, joined back to the raw
    // events; NULL bands (singleton windows) never alert on either engine
    "events_band_excursions" ->
      """WITH b AS (
        |  SELECT event_type,
        |    (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms,
        |    CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS svm,
        |    CAST(SUM(CAST(floor(value * 1000) AS HUGEINT) *
        |             CAST(floor(value * 1000) AS HUGEINT)) AS HUGEINT) AS s2vm,
        |    CAST(count(value) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |f AS (
        |  SELECT event_type, bucket_ms,
        |    CAST(SUM(cnt) OVER w AS BIGINT) AS n,
        |    CAST(SUM(svm) OVER w AS DOUBLE) AS s,
        |    CAST(SUM(s2vm) OVER w AS DOUBLE) AS s2
        |  FROM b WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ms
        |    RANGE BETWEEN 82800000 PRECEDING AND CURRENT ROW)),
        |p AS (
        |  SELECT event_type, bucket_ms,
        |    CASE WHEN n < 2 THEN NULL ELSE
        |      s / (CAST(n AS DOUBLE) * 1000.0) +
        |      2.0 * (sqrt((s2 - s * s / CAST(n AS DOUBLE)) /
        |                  CAST(n - 1 AS DOUBLE)) / 1000.0) END AS upper,
        |    CASE WHEN n < 2 THEN NULL ELSE
        |      s / (CAST(n AS DOUBLE) * 1000.0) -
        |      2.0 * (sqrt((s2 - s * s / CAST(n AS DOUBLE)) /
        |                  CAST(n - 1 AS DOUBLE)) / 1000.0) END AS lower
        |  FROM f),
        |e AS (SELECT event_id, event_type, value,
        |    (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms FROM events)
        |SELECT e.event_id, e.event_type, e.bucket_ms, e.value,
        |  CASE WHEN e.value > p.upper THEN 'above' ELSE 'below' END AS breach
        |FROM e JOIN p USING (event_type, bucket_ms)
        |WHERE e.value > p.upper OR e.value < p.lower""".stripMargin,
    // Flux-parity windowed trapezoid integral: only same-bucket pairs
    // contribute, doubled milli-quantized areas sum as BIGINTs, ONE
    // terminal division renders value·seconds
    "events_integral_hourly" ->
      """WITH s0 AS (SELECT event_type, epoch_ms(ts) AS ms,
        |              CAST(floor(value * 1000) AS BIGINT) AS vm FROM events
        |            WHERE value IS NOT NULL),
        |s AS (SELECT event_type, ms, max(vm) AS vm FROM s0 GROUP BY 1, 2),
        |p AS (SELECT event_type, ms, vm, lead(ms) OVER w AS nms,
        |        lead(vm) OVER w AS nvm
        |      FROM s WINDOW w AS (PARTITION BY event_type ORDER BY ms))
        |SELECT event_type, ms - ms % 3600000 AS bucket_ms,
        |  CAST(SUM(CASE WHEN nms IS NOT NULL
        |                 AND nms - nms % 3600000 = ms - ms % 3600000
        |            THEN (vm + nvm) * (nms - ms) ELSE 0 END) AS DOUBLE)
        |    / 2000000.0 AS integral
        |FROM p GROUP BY 1, 2""".stripMargin,
    // HA-statistics time-weighted mean: LOCF hold intervals split
    // across the buckets they span (unnest(generate_series) = Spark's
    // explode(sequence)), BIGINT value·ms numerators, ONE division
    "events_twa_hourly" ->
      """WITH s0 AS (SELECT event_type, epoch_ms(ts) AS ms,
        |              CAST(floor(value * 1000) AS BIGINT) AS vm FROM events
        |            WHERE value IS NOT NULL),
        |s AS (SELECT event_type, ms, max(vm) AS vm FROM s0 GROUP BY 1, 2),
        |p AS (SELECT event_type, ms, vm, lead(ms) OVER w AS nms
        |      FROM s WINDOW w AS (PARTITION BY event_type ORDER BY ms)),
        |x AS (SELECT event_type, ms, vm, nms,
        |        unnest(generate_series(ms - ms % 3600000,
        |          (nms - 1) - (nms - 1) % 3600000, 3600000)) AS b
        |      FROM p WHERE nms IS NOT NULL),
        |pieces AS (
        |  SELECT event_type, b AS bucket_ms,
        |    vm * (least(nms, b + 3600000) - greatest(ms, b)) AS num,
        |    least(nms, b + 3600000) - greatest(ms, b) AS cov
        |  FROM x)
        |SELECT event_type, bucket_ms,
        |  CAST(SUM(num) AS DOUBLE) / CAST(SUM(cov) * 1000 AS DOUBLE) AS twa
        |FROM pieces GROUP BY 1, 2""".stripMargin,
    // the statistics triple: the twa CTE verbatim FULL OUTER joined with
    // per-bucket min/max over ALL rows — key coalesced explicitly so
    // both engines emit one (event_type, bucket_ms) pair
    "events_statistics_hourly" ->
      """WITH s0 AS (SELECT event_type, epoch_ms(ts) AS ms,
        |              CAST(floor(value * 1000) AS BIGINT) AS vm FROM events
        |            WHERE value IS NOT NULL),
        |s AS (SELECT event_type, ms, max(vm) AS vm FROM s0 GROUP BY 1, 2),
        |p AS (SELECT event_type, ms, vm, lead(ms) OVER w AS nms
        |      FROM s WINDOW w AS (PARTITION BY event_type ORDER BY ms)),
        |x AS (SELECT event_type, ms, vm, nms,
        |        unnest(generate_series(ms - ms % 3600000,
        |          (nms - 1) - (nms - 1) % 3600000, 3600000)) AS b
        |      FROM p WHERE nms IS NOT NULL),
        |pieces AS (
        |  SELECT event_type, b AS bucket_ms,
        |    vm * (least(nms, b + 3600000) - greatest(ms, b)) AS num,
        |    least(nms, b + 3600000) - greatest(ms, b) AS cov
        |  FROM x),
        |twa AS (SELECT event_type, bucket_ms,
        |          CAST(SUM(num) AS DOUBLE)
        |            / CAST(SUM(cov) * 1000 AS DOUBLE) AS twa
        |        FROM pieces GROUP BY 1, 2),
        |mm AS (SELECT event_type,
        |         epoch_ms(ts) - epoch_ms(ts) % 3600000 AS bucket_ms,
        |         min(value) AS min_value, max(value) AS max_value
        |       FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
        |SELECT COALESCE(t.event_type, m.event_type) AS event_type,
        |       COALESCE(t.bucket_ms, m.bucket_ms) AS bucket_ms,
        |       t.twa AS twa, m.min_value AS min_value,
        |       m.max_value AS max_value
        |FROM twa t FULL OUTER JOIN mm m
        |  ON t.event_type = m.event_type AND t.bucket_ms = m.bucket_ms""".stripMargin,
    // compaction gate: the DAILY statistics row computed directly from
    // raw events — the Spark side compacts hourly partials, so a hash
    // match proves the re-bucketed BIGINT sums equal the direct answer
    "events_statistics_daily" -> statisticsDailySql,
    // the persisted-partials path compacts to the SAME daily row — one
    // oracle text, two plans (in-memory partials vs the disk round-trip)
    "events_statistics_daily_persisted" -> statisticsDailySql,
    "events_statistics_weekly_chained" -> statisticsWeeklySql,
    // the LOCAL-midnight compaction gate: the shifted daily row computed
    // directly (bucket(t) = t - ((t - 5h) mod 24h)) vs Spark compacting
    // the epoch-hourly partials onto the shifted coarse grid
    "events_statistics_daily_local" ->
      """WITH s0 AS (SELECT event_type, epoch_ms(ts) AS ms,
        |              CAST(floor(value * 1000) AS BIGINT) AS vm FROM events
        |            WHERE value IS NOT NULL),
        |s AS (SELECT event_type, ms, max(vm) AS vm FROM s0 GROUP BY 1, 2),
        |p AS (SELECT event_type, ms, vm, lead(ms) OVER w AS nms
        |      FROM s WINDOW w AS (PARTITION BY event_type ORDER BY ms)),
        |x AS (SELECT event_type, ms, vm, nms,
        |        unnest(generate_series(ms - (ms - 18000000) % 86400000,
        |          (nms - 1) - ((nms - 1) - 18000000) % 86400000,
        |          86400000)) AS b
        |      FROM p WHERE nms IS NOT NULL),
        |pieces AS (
        |  SELECT event_type, b AS bucket_ms,
        |    vm * (least(nms, b + 86400000) - greatest(ms, b)) AS num,
        |    least(nms, b + 86400000) - greatest(ms, b) AS cov
        |  FROM x),
        |twa AS (SELECT event_type, bucket_ms,
        |          CAST(SUM(num) AS DOUBLE)
        |            / CAST(SUM(cov) * 1000 AS DOUBLE) AS twa
        |        FROM pieces GROUP BY 1, 2),
        |mm AS (SELECT event_type,
        |         epoch_ms(ts) - (epoch_ms(ts) - 18000000) % 86400000
        |           AS bucket_ms,
        |         min(value) AS min_value, max(value) AS max_value
        |       FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
        |SELECT COALESCE(t.event_type, m.event_type) AS event_type,
        |       COALESCE(t.bucket_ms, m.bucket_ms) AS bucket_ms,
        |       t.twa AS twa, m.min_value AS min_value,
        |       m.max_value AS max_value
        |FROM twa t FULL OUTER JOIN mm m
        |  ON t.event_type = m.event_type AND t.bucket_ms = m.bucket_ms""".stripMargin,
    // the COUNTER compaction gate: the daily counter row computed
    // directly from the per-sample delta chain (grid-independent)
    "events_counter_stats_daily" -> counterStatsDailySql,
    "events_counter_stats_daily_persisted" -> counterStatsDailySql,
    "events_counter_stats_weekly_chained" -> counterStatsWeeklySql,
    // the shifted COUNTER compaction gate: the LOCAL-midnight daily
    // counter row computed directly from the per-sample delta chain
    // (bucket(t) = t - ((t - 5h) mod 24h)) vs Spark compacting the
    // epoch-hourly partials onto the shifted coarse grid
    "events_counter_stats_daily_local" ->
      """WITH s0 AS (SELECT user_id, epoch_ms(ts) AS ms,
        |              CAST(value AS DECIMAL(18,2)) AS v0 FROM events
        |            WHERE value IS NOT NULL),
        |s AS (SELECT user_id, ms, max(v0) AS v FROM s0 GROUP BY 1, 2),
        |d AS (SELECT user_id, ms, v, lag(v) OVER w AS pv
        |      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
        |g AS (SELECT user_id,
        |        ms - (ms - 18000000) % 86400000 AS bucket_start_ms,
        |        SUM(CASE WHEN pv IS NULL THEN CAST(0 AS DECIMAL(18,2))
        |                 WHEN v >= pv THEN v - pv ELSE v END) AS inc_d,
        |        arg_max(v, ms) AS state_d
        |      FROM d GROUP BY 1, 2)
        |SELECT user_id, bucket_start_ms,
        |  CAST(state_d AS DOUBLE) AS state,
        |  CAST(inc_d AS DOUBLE) AS increase,
        |  CAST(SUM(inc_d) OVER (PARTITION BY user_id ORDER BY bucket_start_ms
        |                        ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |    AS sum_total
        |FROM g""".stripMargin,
    // the energy-dashboard range read gate: the same delta chain, the
    // cumulative sum differenced at the [Jan 8, Jan 22) endpoints — the
    // pre-range endpoint via arg_max over nulled-out slots (NULL when the
    // series starts inside the range → baseline 0)
    "events_energy_range" -> energyRangeSql,
    "events_energy_range_persisted" -> energyRangeSql,
    // the bar-series gate: per-(series, grid-anchored 2-day bar) increase
    // computed directly from the delta chain (pmod emulated — DuckDB %
    // keeps the sign), filtered to [Jan 8, Jan 22)
    "events_energy_bars" ->
      """WITH s0 AS (SELECT user_id, epoch_ms(ts) AS ms,
        |              CAST(value AS DECIMAL(18,2)) AS v0 FROM events
        |            WHERE value IS NOT NULL),
        |s AS (SELECT user_id, ms, max(v0) AS v FROM s0 GROUP BY 1, 2),
        |d AS (SELECT user_id, ms, v, lag(v) OVER w AS pv
        |      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
        |g AS (SELECT user_id,
        |        ms - (((ms - 1704672000000) % 172800000) + 172800000)
        |          % 172800000 AS bucket_start_ms,
        |        SUM(CASE WHEN pv IS NULL THEN CAST(0 AS DECIMAL(18,2))
        |                 WHEN v >= pv THEN v - pv ELSE v END) AS inc_d
        |      FROM d GROUP BY 1, 2)
        |SELECT user_id, bucket_start_ms, CAST(inc_d AS DOUBLE) AS energy
        |FROM g
        |WHERE bucket_start_ms >= 1704672000000
        |  AND bucket_start_ms < 1705881600000""".stripMargin,
    "events_statistics_range_tiered" -> statisticsRangeTieredSql,
    "events_counter_stats_tiered" -> counterStatsTieredSql,
    "events_energy_range_tiered" -> energyRangeTieredSql,
    // the COUNTER statistics row: chain over per-(user, ms)-deduped
    // samples (max v), reset-aware DECIMAL deltas to the later bucket,
    // arg_max last reading, ONE bucket-level cumulative window
    "events_counter_stats_hourly" ->
      """WITH s0 AS (SELECT user_id, epoch_ms(ts) AS ms,
        |              CAST(value AS DECIMAL(18,2)) AS v0 FROM events
        |            WHERE value IS NOT NULL),
        |s AS (SELECT user_id, ms, max(v0) AS v FROM s0 GROUP BY 1, 2),
        |d AS (SELECT user_id, ms, v, lag(v) OVER w AS pv
        |      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
        |g AS (SELECT user_id, (ms // 3600000) * 3600000 AS bucket_start_ms,
        |        SUM(CASE WHEN pv IS NULL THEN CAST(0 AS DECIMAL(18,2))
        |                 WHEN v >= pv THEN v - pv ELSE v END) AS inc_d,
        |        arg_max(v, ms) AS state_d
        |      FROM d GROUP BY 1, 2)
        |SELECT user_id, bucket_start_ms,
        |  CAST(state_d AS DOUBLE) AS state,
        |  CAST(inc_d AS DOUBLE) AS increase,
        |  CAST(SUM(inc_d) OVER (PARTITION BY user_id ORDER BY bucket_start_ms
        |                        ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |    AS sum_total
        |FROM g""".stripMargin,
    "events_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
        |f AS (SELECT user_id, ms, event_id,
        |        CASE WHEN lag(ms) OVER w IS NULL OR ms - lag(ms) OVER w > 1800000
        |             THEN 1 ELSE 0 END AS new_session
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |g AS (SELECT user_id, ms,
        |        SUM(new_session) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |                               ROWS UNBOUNDED PRECEDING) AS session_idx
        |      FROM f)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  min(ms) AS session_start_ms, max(ms) AS session_end_ms
        |FROM g GROUP BY user_id, session_idx""".stripMargin,
    "events_moving_avg" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ms, value FROM events)
        |SELECT event_id, user_id, ms,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    / COUNT(*) OVER w AS mov_avg
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id
        |                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin,
    "events_lag_delta" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ms FROM events)
        |SELECT event_id, user_id, ms, ms - lag(ms) OVER w AS delta_ms
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)""".stripMargin,
    // time-in-state: lead() closes each LOCF interval; whole interval
    // attributes to its start day; open last samples excluded (integer
    // epoch-ms arithmetic throughout — bit-exact)
    "events_state_durations" ->
      """WITH e AS (SELECT user_id, event_type,
        |    epoch_ms(date_trunc('day', ts)) AS day_ms, epoch_ms(ts) AS ms,
        |    lead(epoch_ms(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ms(ts), event_id) AS next_ms
        |  FROM events)
        |SELECT day_ms, event_type, CAST(count(*) AS BIGINT) AS n_intervals,
        |  CAST(sum(next_ms - ms) AS BIGINT) AS dur_ms,
        |  CAST(max(next_ms - ms) AS BIGINT) AS max_dur_ms
        |FROM e WHERE next_ms IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,
    // counter rate: CASE order and the two divisions mirror the Spark
    // expression op-for-op (increase, then increase / (Δms/1000.0))
    "events_rate" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ms, value
        |           FROM events),
        |p AS (SELECT event_id, user_id, ms, value,
        |             lag(value) OVER w AS prev_v, lag(ms) OVER w AS prev_ms
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id))
        |SELECT event_id, user_id, ms,
        |  CASE WHEN value >= prev_v THEN value - prev_v ELSE value END
        |    AS increase,
        |  CASE WHEN value >= prev_v THEN value - prev_v ELSE value END
        |    / ((ms - prev_ms) / 1000.0) AS rate_per_sec
        |FROM p WHERE prev_ms IS NOT NULL AND ms > prev_ms""".stripMargin,
    // bucketed increase: DECIMAL-exact delta accumulation (associative —
    // immune to fold order), one terminal double cast + one division
    "events_rate_hourly" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ms,
        |                  CAST(value AS DECIMAL(18,2)) AS v FROM events),
        |p AS (SELECT user_id, ms, v, lag(v) OVER w AS pv
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id))
        |SELECT user_id, (ms // 3600000) * 3600000 AS bucket_start_ms,
        |  CAST(SUM(CASE WHEN pv IS NULL THEN CAST(0 AS DECIMAL(18,2))
        |                WHEN v >= pv THEN v - pv ELSE v END) AS DOUBLE)
        |    AS increase,
        |  CAST(SUM(CASE WHEN pv IS NULL THEN CAST(0 AS DECIMAL(18,2))
        |                WHEN v >= pv THEN v - pv ELSE v END) AS DOUBLE)
        |    / 3600.0 AS rate_per_sec
        |FROM p GROUP BY user_id, (ms // 3600000) * 3600000""".stripMargin,
    // journey trigrams; e3 NOT NULL implies e2 NOT NULL (ordered frame),
    // so DuckDB's null-poisoning || and Spark's null-skipping concat_ws
    // agree on every surviving row
    "events_top_paths" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type
        |           FROM events),
        |t AS (SELECT event_type || '>' || lead(event_type, 1) OVER w
        |               || '>' || lead(event_type, 2) OVER w AS path,
        |             lead(event_type, 2) OVER w AS e3
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id))
        |SELECT path, CAST(count(*) AS BIGINT) AS n FROM t
        |WHERE e3 IS NOT NULL
        |GROUP BY path ORDER BY n DESC, path LIMIT 25""".stripMargin,
    // integer hour-of-week bucket (epoch-hour mod 168, no calendar fns);
    // floor-quantized milli-values, single terminal division for the mean
    "events_seasonal" ->
      """WITH e AS (SELECT epoch_ms(ts) // 3600000 % 168 AS hour_of_week,
        |             CAST(floor(value * 1000) AS BIGINT) AS mv FROM events),
        |g AS (SELECT hour_of_week, CAST(count(*) AS BIGINT) AS n_events,
        |             CAST(sum(mv) AS BIGINT) AS sum_mv
        |      FROM e GROUP BY hour_of_week)
        |SELECT hour_of_week, n_events,
        |       CAST(sum_mv AS DOUBLE) / CAST(n_events * 1000 AS DOUBLE)
        |         AS mean_value
        |FROM g""".stripMargin,
    // native session_window twin: same islands construction and the SAME
    // strict-> boundary as events_sessionize — measured empirically, the
    // builtin merges an exactly-gap event (inclusive window end), spec'd
    "events_sessionize_native" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
        |f AS (SELECT user_id, ms, event_id,
        |        CASE WHEN lag(ms) OVER w IS NULL OR ms - lag(ms) OVER w > 1800000
        |             THEN 1 ELSE 0 END AS new_session
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |g AS (SELECT user_id, ms,
        |        SUM(new_session) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |                               ROWS UNBOUNDED PRECEDING) AS session_idx
        |      FROM f)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  min(ms) AS session_start_ms, max(ms) AS session_end_ms
        |FROM g GROUP BY user_id, session_idx""".stripMargin,
    // EWMA fold: list_reduce seeds from the first element and folds the
    // rest — identical semantics to Spark's aggregate(slice(h, 2, ...))
    "events_ewma" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms,
        |        CAST(floor(value * 1000) AS BIGINT) AS vm
        |      FROM events),
        |h AS (SELECT user_id, count(*) AS n_events,
        |        list(vm ORDER BY ms, event_id) AS vs
        |      FROM e GROUP BY user_id)
        |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
        |  CAST(list_reduce(vs, (acc, x) -> (acc + x) // 2) AS BIGINT)
        |    AS ewma_milli
        |FROM h""".stripMargin,
    // CDC fixtures: old = keys %7<>0; new = keys %5<>0 with price+1 on %3=0.
    // The engine compares a null-safe row hash; the oracle compares values —
    // identical classification (the hash exists only to keep the exchange
    // narrow, it never reaches the output)
    "snapshot_diff" ->
      """WITH o AS (SELECT o_orderkey AS k, o_totalprice AS p, o_orderstatus AS s
        |           FROM orders WHERE o_orderkey % 7 <> 0),
        |n AS (SELECT o_orderkey AS k,
        |        CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1
        |             ELSE o_totalprice END AS p, o_orderstatus AS s
        |      FROM orders WHERE o_orderkey % 5 <> 0)
        |SELECT coalesce(o.k, n.k) AS o_orderkey,
        |  CASE WHEN o.k IS NULL THEN 'insert'
        |       WHEN n.k IS NULL THEN 'delete'
        |       WHEN o.p IS DISTINCT FROM n.p OR o.s IS DISTINCT FROM n.s
        |         THEN 'update'
        |       ELSE 'unchanged' END AS change_type
        |FROM o FULL OUTER JOIN n ON o.k = n.k""".stripMargin,
    "snapshot_scd2" ->
      """WITH o AS (SELECT o_orderkey AS k, o_totalprice AS p, o_orderstatus AS s
        |           FROM orders WHERE o_orderkey % 7 <> 0),
        |n AS (SELECT o_orderkey AS k,
        |        CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1
        |             ELSE o_totalprice END AS p, o_orderstatus AS s
        |      FROM orders WHERE o_orderkey % 5 <> 0),
        |j AS (SELECT coalesce(o.k, n.k) AS k, o.p AS op, o.s AS os,
        |             n.p AS np, n.s AS ns,
        |             o.k IS NULL AS ins, n.k IS NULL AS del,
        |             (o.k IS NOT NULL AND n.k IS NOT NULL AND
        |              (o.p IS DISTINCT FROM n.p OR o.s IS DISTINCT FROM n.s)) AS upd
        |      FROM o FULL OUTER JOIN n ON o.k = n.k)
        |SELECT k AS o_orderkey, op AS o_totalprice, os AS o_orderstatus,
        |       CAST(1000 AS BIGINT) AS valid_from, CAST(2000 AS BIGINT) AS valid_to,
        |       FALSE AS is_current
        |FROM j WHERE del OR upd
        |UNION ALL
        |SELECT k, CASE WHEN ins OR upd THEN np ELSE op END,
        |       CASE WHEN ins OR upd THEN ns ELSE os END,
        |       CAST(CASE WHEN ins OR upd THEN 2000 ELSE 1000 END AS BIGINT),
        |       CAST(NULL AS BIGINT), TRUE
        |FROM j WHERE NOT del""".stripMargin,
    // MERGE compaction: latest-by-seq per key ((key, seq) unique by the
    // fixture's one-seq-per-op-class construction, so the row_number tie
    // order never engages)
    "snapshot_apply_log" ->
      """WITH base AS (SELECT o_orderkey AS k, o_totalprice AS p, o_orderstatus AS s
        |              FROM orders WHERE o_orderkey % 7 <> 0),
        |lg AS (
        |  SELECT o_orderkey AS k, 2 AS seq, 'U' AS op,
        |         o_totalprice + 2 AS p, o_orderstatus AS s
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 3, 'D', NULL, NULL
        |  FROM orders WHERE o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 1, 'I', o_totalprice, o_orderstatus
        |  FROM orders WHERE o_orderkey % 7 = 0),
        |latest AS (SELECT k, op, p, s FROM (
        |  SELECT k, op, p, s,
        |         row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        |  FROM lg) WHERE rn = 1)
        |SELECT coalesce(b.k, l.k) AS o_orderkey,
        |       CASE WHEN l.k IS NOT NULL THEN l.p ELSE b.p END AS o_totalprice,
        |       CASE WHEN l.k IS NOT NULL THEN l.s ELSE b.s END AS o_orderstatus
        |FROM base b FULL OUTER JOIN latest l ON b.k = l.k
        |WHERE l.op IS NULL OR l.op <> 'D'""".stripMargin,
    // fresh recompute over the post-changelog table — the maintained
    // incremental state must be bit-identical (sum via exact DECIMAL)
    "events_agg_maintain" ->
      """WITH survivors AS (
        |  SELECT event_type, ts, value FROM events
        |  WHERE event_id % 13 <> 0 AND event_id % 7 <> 0
        |  UNION ALL
        |  SELECT event_type, ts, value FROM events WHERE event_id % 13 = 0)
        |SELECT event_type, epoch_ms(date_trunc('hour', ts)) AS hour_ms,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(25,10))) AS DOUBLE) AS sum_value,
        |  min(value) AS min_value
        |FROM survivors GROUP BY 1, 2""".stripMargin,
    "events_transitions" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, event_id, event_type
        |           FROM events),
        |t AS (SELECT event_type AS from_type,
        |        lead(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ms, event_id) AS to_type
        |      FROM e),
        |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |      FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  CAST(n AS DOUBLE) /
        |  CAST(CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS DOUBLE)
        |    AS p
        |FROM c""".stripMargin,
    "events_sliding_distinct" ->
      """WITH ph AS (SELECT DISTINCT user_id,
        |              epoch_ms(date_trunc('hour', ts)) // 3600000 AS h
        |            FROM events),
        |hours AS (SELECT DISTINCT h AS win_h FROM ph),
        |f AS (SELECT p.user_id, p.h + x.i AS win_h
        |      FROM ph p CROSS JOIN (SELECT unnest(range(24)) AS i) x)
        |SELECT CAST(win_h * 3600000 AS BIGINT) AS win_end_hour_ms,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM f WHERE win_h IN (SELECT win_h FROM hours)
        |GROUP BY 1""".stripMargin,
    // same register contract as hllRegistersSql (p=6 over the 32-bit md5
    // prefix of the stringified user id), fanned per window exactly like
    // the Spark side — the merged registers cross bit-exactly
    "events_sliding_distinct_hll" ->
      """WITH v AS (SELECT
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS v,
        |    epoch_ms(date_trunc('hour', ts)) // 3600000 AS h
        |  FROM events),
        |b AS (SELECT h, v >> 26 AS bucket,
        |        CASE WHEN (v & 67108863) = 0 THEN 27
        |             ELSE 27 - len(bin(v & 67108863)) END AS rho FROM v),
        |hr AS (SELECT h, bucket, max(rho) AS r FROM b GROUP BY 1, 2),
        |hours AS (SELECT DISTINCT h AS win_h FROM hr),
        |f AS (SELECT hr.h + x.i AS win_h, bucket, r
        |      FROM hr CROSS JOIN (SELECT unnest(range(24)) AS i) x)
        |SELECT CAST(win_h * 3600000 AS BIGINT) AS win_end_hour_ms, bucket,
        |       CAST(max(r) AS BIGINT) AS r
        |FROM f WHERE win_h IN (SELECT win_h FROM hours)
        |GROUP BY 1, 2""".stripMargin,
    // LOCF: grid ticks (ms - ms%step buckets) ASOF-joined to per-(user,ms)
    // deduped clicks; inclusive >= match on both engines. The grid origin
    // mirrors Spark's pmod with the sign-safe double-% (DuckDB's bare % is
    // truncating, pmod is flooring — they diverge on pre-1970 epochs)
    "events_resample_locf" ->
      """WITH c AS (SELECT user_id, epoch_ms(ts) AS ms, value FROM events
        |           WHERE event_type = 'click'),
        |cd AS (SELECT user_id, ms, max(value) AS locf_value FROM c GROUP BY 1, 2),
        |b AS (SELECT user_id,
        |        min(ms) - ((min(ms) % 3600000) + 3600000) % 3600000 AS t0,
        |        max(ms) - ((max(ms) % 3600000) + 3600000) % 3600000 AS t1
        |      FROM c GROUP BY user_id),
        |g AS (SELECT user_id, unnest(range(t0, t1 + 1, 3600000)) AS ms FROM b)
        |SELECT g.user_id, g.ms, cd.locf_value
        |FROM g ASOF LEFT JOIN cd ON g.user_id = cd.user_id AND g.ms >= cd.ms""".stripMargin,
    // the direct as-of bracket (the second algebra against Spark's
    // bucketed lerp): milli-quantized BIGINT numerator and denominator,
    // ONE terminal division — bit-exact cross-engine. Numeric samples
    // only: a NULL-valued click neither brackets a tick nor widens the
    // grid. Grid origin: sign-safe double-% mirroring Spark's pmod (see
    // resample_locf)
    "events_resample_linear" ->
      """WITH c AS (SELECT user_id, epoch_ms(ts) AS ms,
        |             CAST(floor(value * 1000) AS BIGINT) AS vm
        |           FROM events
        |           WHERE event_type = 'click' AND value IS NOT NULL),
        |s AS (SELECT user_id, ms, max(vm) AS vm FROM c GROUP BY 1, 2),
        |b AS (SELECT user_id,
        |        min(ms) - ((min(ms) % 3600000) + 3600000) % 3600000 AS t0,
        |        max(ms) - ((max(ms) % 3600000) + 3600000) % 3600000 AS t1
        |      FROM c GROUP BY user_id),
        |g AS (SELECT user_id, unnest(range(t0, t1 + 1, 3600000)) AS ms FROM b),
        |u AS (SELECT user_id, ms, 1 AS kind, vm FROM s
        |      UNION ALL
        |      SELECT user_id, ms, 0 AS kind, NULL AS vm FROM g),
        |w AS (SELECT user_id, ms, kind,
        |        last_value(CASE WHEN kind = 1 THEN vm END IGNORE NULLS)
        |          OVER (PARTITION BY user_id ORDER BY ms, kind DESC
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pvm,
        |        last_value(CASE WHEN kind = 1 THEN ms END IGNORE NULLS)
        |          OVER (PARTITION BY user_id ORDER BY ms, kind DESC
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pms,
        |        first_value(CASE WHEN kind = 1 THEN vm END IGNORE NULLS)
        |          OVER (PARTITION BY user_id ORDER BY ms, kind DESC
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nvm,
        |        first_value(CASE WHEN kind = 1 THEN ms END IGNORE NULLS)
        |          OVER (PARTITION BY user_id ORDER BY ms, kind DESC
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nms
        |      FROM u)
        |SELECT user_id, ms,
        |  CASE WHEN pms IS NULL THEN CAST(nvm AS DOUBLE) / 1000.0
        |       WHEN nms IS NULL THEN CAST(pvm AS DOUBLE) / 1000.0
        |       WHEN nms = pms THEN CAST(pvm AS DOUBLE) / 1000.0
        |       ELSE CAST(pvm * (nms - ms) + nvm * (ms - pms) AS DOUBLE)
        |            / CAST((nms - pms) * 1000 AS DOUBLE)
        |  END AS interp_value
        |FROM w WHERE kind = 0""".stripMargin,
    // bucketed LOCF panel: per (user, hour-bucket) newest click (per-ms
    // max dedup first, so max_by's ordering key is unique), ASOF-matched
    // to the tick grid on avail = bucket + step ≤ tick — the ASOF brings
    // the whole row, so (value, last_seen) move as an atomic pair, same
    // as Spark's last(struct) carry. Grid origin: sign-safe double-%
    "events_locf_panel" ->
      """WITH c AS (SELECT user_id, epoch_ms(ts) AS ms, value FROM events
        |           WHERE event_type = 'click'),
        |cd AS (SELECT user_id, ms, max(value) AS v FROM c GROUP BY 1, 2),
        |bk AS (SELECT user_id,
        |         ms - ((ms % 3600000) + 3600000) % 3600000 AS b,
        |         max_by(v, ms) AS lv, max(ms) AS last_ms
        |       FROM cd GROUP BY 1, 2),
        |bk2 AS (SELECT user_id, b + 3600000 AS avail, lv, last_ms FROM bk),
        |bo AS (SELECT user_id, min(b) + 3600000 AS t0, max(b) + 3600000 AS t1
        |       FROM bk GROUP BY 1),
        |g AS (SELECT user_id, unnest(range(t0, t1 + 1, 3600000)) AS tick_ms
        |      FROM bo)
        |SELECT g.user_id, g.tick_ms, bk2.lv AS locf_value,
        |       bk2.last_ms AS last_seen_ms
        |FROM g ASOF LEFT JOIN bk2
        |  ON g.user_id = bk2.user_id AND g.tick_ms >= bk2.avail""".stripMargin,
    // identical double tail over DECIMAL-exact sums on both sides; x is
    // centered on the fixture origin (2024-01-01) so every statistic stays
    // under 2^53 — the range where decimal→double casts are exact in BOTH
    // engines (DuckDB's hugeint→double is not correctly rounded above it)
    "events_user_trend" ->
      """WITH s AS (SELECT user_id,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(x * y) AS DOUBLE) AS sxy,
        |    CAST(SUM(x * x) AS DOUBLE) AS sxx
        |  FROM (SELECT user_id,
        |          CAST((epoch_ms(ts) - epoch_ms(ts) % 1000) / 1000 - 1704067200
        |               AS DECIMAL(19,0)) AS x,
        |          CAST(value AS DECIMAL(18,2)) AS y
        |        FROM events) GROUP BY user_id)
        |SELECT user_id, CAST(n AS BIGINT) AS n_events,
        |  (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope_per_sec,
        |  (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
        |    AS intercept
        |FROM s WHERE (n * sxx - sx * sx) <> 0""".stripMargin,
    "events_retention" ->
      """WITH f AS (SELECT user_id,
        |        min(epoch_ms(date_trunc('day', ts))) AS cohort_ms
        |      FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT user_id,
        |        epoch_ms(date_trunc('day', ts)) AS day_ms FROM events)
        |SELECT cohort_ms,
        |       CAST((day_ms - cohort_ms) / 86400000 AS BIGINT) AS day_offset,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM a JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin,
    // same DECIMAL-exact-sums + identical-IEEE-tail contract as the trend
    "events_anomaly" ->
      """WITH s AS (SELECT user_id,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
        |         AS DOUBLE) AS syy
        |  FROM events GROUP BY user_id),
        |t AS (SELECT user_id, sy / n AS m,
        |        syy / n - (sy / n) * (sy / n) AS vr FROM s)
        |SELECT e.event_id, e.user_id, (e.value - t.m) / sqrt(t.vr) AS z
        |FROM events e JOIN t USING (user_id)
        |WHERE t.vr > 0 AND abs((e.value - t.m) / sqrt(t.vr)) >= 1.6""".stripMargin,
    // bit-interleave: dimension c's bit b lands at output bit b*2+c
    "events_zorder" ->
      """SELECT event_id,
        |  CAST(list_sum(list_transform(range(31), b ->
        |    (((CAST(user_id AS BIGINT) >> b) & 1) << (2*b)) +
        |    (((CAST(floor(value) AS BIGINT) >> b) & 1) << (2*b+1)))) AS BIGINT) AS zkey
        |FROM events""".stripMargin,
    "events_hilbert" -> hilbertSql,
    "events_type_rank" ->
      """SELECT event_type, event_id, value, rank FROM (
        |  SELECT event_type, event_id, value,
        |    CAST(rank() OVER (PARTITION BY event_type
        |                      ORDER BY value DESC, event_id ASC) AS BIGINT) AS rank
        |  FROM events)
        |WHERE rank <= 10""".stripMargin,
    "events_group_topn" ->
      """SELECT event_type, event_id, value, rn FROM (
        |  SELECT event_type, event_id, value,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |                            ORDER BY value DESC, event_id ASC) AS BIGINT) AS rn
        |  FROM events)
        |WHERE rn <= 5""".stripMargin,
    "events_pivot_counts" ->
      ("""SELECT user_id, """ +
        EventsExt.eventTypes.map(t =>
          s"CAST(count(CASE WHEN event_type = '$t' THEN 1 END) AS BIGINT) AS n_$t")
          .mkString(", ") +
        " FROM events GROUP BY user_id"),
    "events_cube" ->
      """WITH e AS (SELECT event_type, epoch_ms(date_trunc('day', ts)) AS day_ms,
        |                  value FROM events)
        |SELECT event_type, day_ms, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM e GROUP BY CUBE (event_type, day_ms)""".stripMargin,
    "events_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
        |v AS (SELECT user_id, min(ms) AS s FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ms) AS s FROM e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ms > v.s GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ms) AS s FROM e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ms > c.s GROUP BY e.user_id)
        |SELECT 'view' AS step, CAST((SELECT count(*) FROM v) AS BIGINT) AS n_users
        |UNION ALL
        |SELECT 'view>click', CAST((SELECT count(*) FROM c) AS BIGINT)
        |UNION ALL
        |SELECT 'view>click>purchase', CAST((SELECT count(*) FROM p) AS BIGINT)""".stripMargin,
    "events_cohort_overlap" ->
      """WITH d AS (SELECT DISTINCT user_id, event_type FROM events)
        |SELECT a.event_type AS t1, b.event_type AS t2,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM d a JOIN d b ON a.user_id = b.user_id AND a.event_type < b.event_type
        |GROUP BY a.event_type, b.event_type""".stripMargin,
    "events_asof_click" -> asofSql,
    "events_asof_exec" -> asofSql,
    "events_click_not_error" ->
      """SELECT user_id FROM events WHERE event_type = 'click' AND event_id < 500
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'error' AND event_id < 500""".stripMargin,
    "events_click_and_error" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'error'""".stripMargin,
    "events_rollup" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY ROLLUP (event_type)""".stripMargin,
    "events_last_per_user" ->
      """SELECT user_id, event_id, event_type, ms AS ts_ms FROM (
        |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,

    // the rule predicates are written IDENTICALLY on both engines so the
    // shared three-valued NULL logic can't diverge
    "dq_rules" ->
      """WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS r1,
        |  CAST(sum(CASE WHEN NOT (l_quantity >= 1 AND l_quantity <= 50) THEN 1 ELSE 0 END) AS BIGINT) AS r2,
        |  CAST(sum(CASE WHEN NOT (l_discount >= 0 AND l_discount <= 0.1) THEN 1 ELSE 0 END) AS BIGINT) AS r3,
        |  CAST(sum(CASE WHEN NOT (l_tax >= 0 AND l_tax <= 0.08) THEN 1 ELSE 0 END) AS BIGINT) AS r4,
        |  CAST(sum(CASE WHEN NOT (l_extendedprice > 0) THEN 1 ELSE 0 END) AS BIGINT) AS r5,
        |  CAST(sum(CASE WHEN NOT (l_returnflag IN ('A','N','R')) THEN 1 ELSE 0 END) AS BIGINT) AS r6
        |  FROM lineitem)
        |SELECT u.rule_id, m.n_rows, u.n_violations,
        |  CAST(CASE WHEN u.n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass
        |FROM m, (
        |  SELECT 'orderkey_not_null' AS rule_id, r1 AS n_violations FROM m
        |  UNION ALL SELECT 'quantity_1_50', r2 FROM m
        |  UNION ALL SELECT 'discount_0_0.1', r3 FROM m
        |  UNION ALL SELECT 'tax_0_0.08', r4 FROM m
        |  UNION ALL SELECT 'extendedprice_pos', r5 FROM m
        |  UNION ALL SELECT 'returnflag_domain', r6 FROM m) u""".stripMargin,
    // NOT EXISTS ≡ LEFT ANTI: a NULL child key never matches ⇒ orphan
    "dq_referential" ->
      """WITH lo AS (SELECT CAST(count(*) AS BIGINT) AS n_orphans
        |  FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
        |oc AS (SELECT CAST(count(*) AS BIGINT) AS n_orphans
        |  FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |SELECT 'lineitem->orders' AS relation,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_rows,
        |  n_orphans,
        |  CAST(CASE WHEN n_orphans = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass
        |FROM lo
        |UNION ALL
        |SELECT 'orders->customer',
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders),
        |  n_orphans,
        |  CAST(CASE WHEN n_orphans = 0 THEN 1 ELSE 0 END AS BIGINT)
        |FROM oc""".stripMargin,
    // the Bloom pre-screen is an exact-preserving routing optimization —
    // the oracle is IDENTICAL to dq_referential's NOT EXISTS
    "dq_referential_bloom" ->
      """WITH lo AS (SELECT CAST(count(*) AS BIGINT) AS n_orphans
        |  FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
        |oc AS (SELECT CAST(count(*) AS BIGINT) AS n_orphans
        |  FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |SELECT 'lineitem->orders' AS relation,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_rows,
        |  n_orphans,
        |  CAST(CASE WHEN n_orphans = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass
        |FROM lo
        |UNION ALL
        |SELECT 'orders->customer',
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders),
        |  n_orphans,
        |  CAST(CASE WHEN n_orphans = 0 THEN 1 ELSE 0 END AS BIGINT)
        |FROM oc""".stripMargin,
    "dq_uniqueness" ->
      """SELECT 'orders.o_orderkey' AS table_key,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
        |  CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT) AS n_dupes,
        |  CAST(CASE WHEN count(o_orderkey) = count(DISTINCT o_orderkey)
        |    THEN 1 ELSE 0 END AS BIGINT) AS pass FROM orders
        |UNION ALL
        |SELECT 'customer.c_custkey', CAST(count(*) AS BIGINT),
        |  CAST(count(DISTINCT c_custkey) AS BIGINT),
        |  CAST(count(c_custkey) - count(DISTINCT c_custkey) AS BIGINT),
        |  CAST(CASE WHEN count(c_custkey) = count(DISTINCT c_custkey)
        |    THEN 1 ELSE 0 END AS BIGINT) FROM customer
        |UNION ALL
        |SELECT 'events.event_id', CAST(count(*) AS BIGINT),
        |  CAST(count(DISTINCT event_id) AS BIGINT),
        |  CAST(count(event_id) - count(DISTINCT event_id) AS BIGINT),
        |  CAST(CASE WHEN count(event_id) = count(DISTINCT event_id)
        |    THEN 1 ELSE 0 END AS BIGINT) FROM events
        |UNION ALL
        |SELECT 'documents.doc_id', CAST(count(*) AS BIGINT),
        |  CAST(count(DISTINCT doc_id) AS BIGINT),
        |  CAST(count(doc_id) - count(DISTINCT doc_id) AS BIGINT),
        |  CAST(CASE WHEN count(doc_id) = count(DISTINCT doc_id)
        |    THEN 1 ELSE 0 END AS BIGINT) FROM documents""".stripMargin,
    "dq_docs_rules" ->
      """WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS r1,
        |  CAST(sum(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS r2,
        |  CAST(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT) AS r3,
        |  CAST(sum(CASE WHEN NOT (lang IN ('de','en','es','fr','zh')) THEN 1 ELSE 0 END) AS BIGINT) AS r4,
        |  CAST(sum(CASE WHEN NOT regexp_matches(source, '^src[0-9]+$') THEN 1 ELSE 0 END) AS BIGINT) AS r5,
        |  CAST(sum(CASE WHEN NOT (n_chars >= 1 AND n_chars <= 10000) THEN 1 ELSE 0 END) AS BIGINT) AS r6
        |  FROM documents)
        |SELECT u.rule_id, m.n_rows, u.n_violations,
        |  CAST(CASE WHEN u.n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass
        |FROM m, (
        |  SELECT 'doc_id_not_null' AS rule_id, r1 AS n_violations FROM m
        |  UNION ALL SELECT 'text_not_empty', r2 FROM m
        |  UNION ALL SELECT 'nchars_consistent', r3 FROM m
        |  UNION ALL SELECT 'lang_domain', r4 FROM m
        |  UNION ALL SELECT 'source_format', r5 FROM m
        |  UNION ALL SELECT 'nchars_1_10000', r6 FROM m) u""".stripMargin,
    "dq_events_rules" ->
      """WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS r1,
        |  CAST(sum(CASE WHEN NOT (ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts < TIMESTAMP '2025-01-01 00:00:00') THEN 1 ELSE 0 END) AS BIGINT) AS r2,
        |  CAST(sum(CASE WHEN NOT (event_type IN ('click','error','purchase','signup','view')) THEN 1 ELSE 0 END) AS BIGINT) AS r3,
        |  CAST(sum(CASE WHEN NOT (value > 0) THEN 1 ELSE 0 END) AS BIGINT) AS r4,
        |  CAST(sum(CASE WHEN NOT (user_id >= 0) THEN 1 ELSE 0 END) AS BIGINT) AS r5
        |  FROM events)
        |SELECT u.rule_id, m.n_rows, u.n_violations,
        |  CAST(CASE WHEN u.n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass
        |FROM m, (
        |  SELECT 'event_id_not_null' AS rule_id, r1 AS n_violations FROM m
        |  UNION ALL SELECT 'ts_in_retention', r2 FROM m
        |  UNION ALL SELECT 'event_type_domain', r3 FROM m
        |  UNION ALL SELECT 'value_positive', r4 FROM m
        |  UNION ALL SELECT 'user_id_nonneg', r5 FROM m) u""".stripMargin,
    "dq_events_referential" ->
      """WITH eo AS (SELECT CAST(count(*) AS BIGINT) AS n_orphans
        |  FROM events e WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id))
        |SELECT 'events->customer' AS relation,
        |  (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_rows,
        |  n_orphans,
        |  CAST(CASE WHEN n_orphans = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass
        |FROM eo""".stripMargin,
    // the salted join is ALGEBRAICALLY the plain join (every salt bucket
    // sees the full replicated side) — so the oracle is the plain join
    "join_skew_salted" ->
      """SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1""".stripMargin,
    // bucketing changes the LAYOUT, never the relation — plain-join oracle
    "tpch_bucketed_join" ->
      """SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,
    "text_ngram_counts" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS l FROM documents),
        |tg AS (SELECT doc_id, unnest(l[1:len(l)-2]) AS t1,
        |              unnest(l[2:len(l)-1]) AS t2,
        |              unnest(l[3:len(l)]) AS t3
        |  FROM t WHERE len(l) >= 3)
        |SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM tg GROUP BY 1, 2, 3 HAVING count(*) >= 3""".stripMargin,
    "events_hist_quantiles" ->
      """WITH b AS (SELECT event_type, CAST(floor(value * 10) AS BIGINT) AS bin,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, bin, n,
        |    SUM(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
        |    SUM(n) OVER (PARTITION BY event_type) AS total FROM b)
        |SELECT event_type, CAST(max(total) AS BIGINT) AS n_events,
        |  (min(CASE WHEN cum >= CAST(ceil(0.5 * total) AS BIGINT) THEN bin END) + 1) / 10.0 AS p50_est,
        |  (min(CASE WHEN cum >= CAST(ceil(0.9 * total) AS BIGINT) THEN bin END) + 1) / 10.0 AS p90_est,
        |  (min(CASE WHEN cum >= CAST(ceil(0.99 * total) AS BIGINT) THEN bin END) + 1) / 10.0 AS p99_est
        |FROM c GROUP BY event_type""".stripMargin,
    "events_hist_quantiles_w100" ->
      """WITH b AS (SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS bin,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, bin, n,
        |    SUM(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
        |    SUM(n) OVER (PARTITION BY event_type) AS total FROM b)
        |SELECT event_type, CAST(max(total) AS BIGINT) AS n_events,
        |  (min(CASE WHEN cum >= CAST(ceil(0.5 * total) AS BIGINT) THEN bin END) + 1) / 100.0 AS p50_est,
        |  (min(CASE WHEN cum >= CAST(ceil(0.9 * total) AS BIGINT) THEN bin END) + 1) / 100.0 AS p90_est,
        |  (min(CASE WHEN cum >= CAST(ceil(0.99 * total) AS BIGINT) THEN bin END) + 1) / 100.0 AS p99_est
        |FROM c GROUP BY event_type""".stripMargin,
    // bucket key: Spark `div` and DuckDB `//` BOTH truncate toward zero
    // (verified: -7 div 2 = -7 // 2 = -3), so the two engines agree on
    // every epoch, negative included — unlike bare %, no pmod mirror needed
    "events_downsample_last" ->
      """WITH d AS (SELECT event_type, epoch_ms(ts) AS ms, max(value) AS v
        |           FROM events GROUP BY 1, 2)
        |SELECT event_type, ms // 3600000 AS hour_bucket,
        |  CAST(count(*) AS BIGINT) AS n_points,
        |  arg_max(v, ms) AS last_value, max(ms) AS last_ms
        |FROM d GROUP BY 1, 2""".stripMargin,
    "tpch_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(COUNT(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-06-30 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "tpch_shipping_priority" ->
      """SELECT l.l_orderkey,
        |  epoch_ms(o.o_orderdate) AS o_orderdate_ms, o.o_orderpriority,
        |  CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |  AND l.l_shipdate > TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,
    "tpch_local_supplier" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin,
    "tpch_top_orders" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "tpch_forecast_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 24""".stripMargin,
    "tpch_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_1', 'NATION_2')
        |  AND n2.n_name IN ('NATION_1', 'NATION_2')
        |  AND n1.n_name <> n2.n_name
        |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1, 2, 3""".stripMargin,
    "tpch_market_share" ->
      """WITH v AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS volume,
        |    n1.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  JOIN region ON n2.n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
        |SELECT o_year,
        |  CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN volume
        |                ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |    / CAST(SUM(volume) AS DOUBLE) AS mkt_share
        |FROM v GROUP BY 1""".stripMargin,
    "tpch_returned_items" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,
    "tpch_promo_revenue" ->
      """SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |  / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        |  AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'""".stripMargin,
    "tpch_disc_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "tpch_parts_by_brand" ->
      """SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
        |FROM part GROUP BY p_brand""".stripMargin,
    "tpch_order_priority" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority""".stripMargin,
    "tpch_cust_no_orders" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_acctbal
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment""".stripMargin,
    // Q17 shape: the per-part threshold mirrors Spark op-for-op —
    // DECIMAL sum → double ÷ double count → ×0.2, then the boundary
    // compare; final answer one DECIMAL sum with a single /7.0
    "tpch_small_qty_revenue" ->
      """WITH t AS (SELECT l_partkey,
        |    (CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |     / CAST(count(*) AS DOUBLE)) * 0.2 AS qty_threshold
        |  FROM lineitem GROUP BY 1)
        |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |       / 7.0 AS avg_yearly
        |FROM lineitem JOIN t USING (l_partkey)
        |WHERE l_quantity < qty_threshold""".stripMargin,
    // Q18 shape: DECIMAL-exact HAVING cut, deterministic top-20
    "tpch_big_orders" ->
      """WITH big AS (SELECT l_orderkey,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS tq
        |  FROM lineitem GROUP BY 1
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150)
        |SELECT c_custkey, c_name, o_orderkey,
        |  epoch_ms(o_orderdate) AS o_orderdate_ms, o_totalprice,
        |  CAST(tq AS DOUBLE) AS total_qty
        |FROM big JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |ORDER BY total_qty DESC, o_orderkey ASC LIMIT 20""".stripMargin,
    // Q21 shape: EXISTS + NOT EXISTS over the same child table
    "tpch_returned_settled" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_returnflag = 'R')
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l2
        |                  WHERE l2.l_orderkey = o.o_orderkey
        |                    AND l2.l_shipdate >= TIMESTAMP '1999-01-01 00:00:00')
        |GROUP BY o_orderpriority""".stripMargin,
    // Q22 shape: global scalar subquery threshold (same DECIMAL-sum/count
    // division as Spark) + NOT EXISTS anti join
    "tpch_rich_idle_customers" ->
      """WITH a AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS avg_bal
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer, a
        |WHERE c_acctbal > a.avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment""".stripMargin,
    // Q12 shape: CASE-sum service audit (returnflag stands in for shipmode)
    "tpch_shipping_class" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_returnflag""".stripMargin,
    // Q13 shape: zero bucket included via the LEFT OUTER + count(o_custkey)
    "tpch_cust_order_dist" ->
      """WITH per_cust AS (SELECT c_custkey,
        |    count(o_custkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM per_cust GROUP BY c_count""".stripMargin,
    // Q15 shape: the max cut happens on the DECIMAL-exact revenue; the
    // double cast is display-only, after the comparison
    "tpch_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
        |    sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
        |      AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM rev JOIN supplier ON s_suppkey = l_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)""".stripMargin,

    "media_dedup" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id,
        |       count(*) AS n_dups
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "media_stats" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS sha
        |FROM documents""".stripMargin,
    "media_decode_meta" ->
      """WITH m AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image'
        |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |    sha256(text) AS sha256
        |  FROM documents)
        |SELECT doc_id, kind, n_bytes, sha256,
        |  CAST(CASE kind WHEN 'image' THEN 64 + n_bytes % 512
        |                 WHEN 'audio' THEN 1 ELSE 320 END AS INT) AS width,
        |  CAST(CASE kind WHEN 'image' THEN 64 + (n_bytes // 2) % 512
        |                 WHEN 'audio' THEN 1 ELSE 240 END AS INT) AS height,
        |  CAST(CASE kind WHEN 'image' THEN 1
        |                 WHEN 'audio' THEN n_bytes * 100
        |                 ELSE 1 + n_bytes % 300 END AS INT) AS n_frames
        |FROM m""".stripMargin,
    "media_resize_dims" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n
        |  FROM documents WHERE doc_id % 3 = 0),
        |d AS (SELECT doc_id,
        |    CAST(64 + n % 512 AS INT) AS width,
        |    CAST(64 + (n // 2) % 512 AS INT) AS height FROM m)
        |SELECT doc_id, width, height,
        |  CAST(floor(width * (CASE WHEN greatest(width, height) > 256
        |    THEN 256.0 / greatest(width, height) ELSE 1.0 END)) AS INT) AS out_width,
        |  CAST(floor(height * (CASE WHEN greatest(width, height) > 256
        |    THEN 256.0 / greatest(width, height) ELSE 1.0 END)) AS INT) AS out_height
        |FROM d""".stripMargin,
    "media_frame_sample" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(1 + octet_length(encode(text)) % 300 AS BIGINT) AS n_frames
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT doc_id, n_frames, unnest(range(0, n_frames, 10)) AS frame_idx
        |FROM m""".stripMargin,
    // per-dim byte sums over residue classes (positions are 1-based in
    // substr; blob index i ≡ dim (mod 8) ⇔ position i+1 ∈ range(dim+1, …, 8));
    // exact BIGINT sums, one terminal double division — matches the Spark
    // stub bit-for-bit (text is ASCII, so ord(char) == utf-8 byte)
    "media_features" ->
      """SELECT doc_id, CAST(d AS BIGINT) AS dim,
        |  coalesce(list_sum(list_transform(
        |     range((d + 1)::INT, len(text) + 1, 8),
        |     p -> ord(substr(text, p::INT, 1))::BIGINT)), 0) / 255.0 AS feature
        |FROM documents, range(8) t(d)""".stripMargin,
    "media_feature_neardup" ->
      """WITH f AS (SELECT doc_id, CAST(d AS BIGINT) AS dim,
        |    coalesce(list_sum(list_transform(
        |       range((d + 1)::INT, len(text) + 1, 8),
        |       p -> ord(substr(text, p::INT, 1))::BIGINT)), 0) / 255.0 AS feature
        |  FROM documents, range(8) t(d) WHERE doc_id % 2 = 0),
        |v AS (SELECT doc_id, list(feature ORDER BY dim) AS fv FROM f GROUP BY doc_id),
        |e AS (SELECT doc_id, fv, sqrt(list_dot_product(fv, fv)) AS nrm FROM v)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       round(list_dot_product(a.fv, b.fv) / (a.nrm * b.nrm), 6) AS cosine
        |FROM e a JOIN e b ON a.doc_id < b.doc_id
        |WHERE round(list_dot_product(a.fv, b.fv) / (a.nrm * b.nrm), 6) >= 0.9999""".stripMargin,
    "core_points" -> corePointsSql
    ))(_.oracle)
    // both names run the bucketed lerp; the oracle is the direct as-of
    // bracket — two algebras, one answer, so ONE oracle text; likewise the
    // persisted monthly bars and the raw ones compute the same months
    m ++ Seq("events_lerp_panel" -> m("events_resample_linear"),
      "events_energy_bars_monthly_persisted" -> m("events_energy_bars_monthly"))
  }

  /** The map-typed point build as oracle SQL: DuckDB rebuilds the exact
    * to_json text. Key order mirrors the Spark maps — tags are a map()
    * literal (source, domain, entity_id, friendly_name); fields_num is
    * map_concat(value?, numeric attrs in shared_attrs key order:
    * temperature, battery); fields_str is map_concat(state?, string attrs:
    * friendly_name, unit_of_measurement, icon). Doubles render through the
    * engines' shortest-roundtrip double→string, identical for these values.
    */
  private def corePointsSql: String =
    s"""$haCte,
       |j AS (
       |  SELECT s.event_id, s.state, s.last_updated_ms, sm.entity_id,
       |         CASE WHEN json_valid(sa.shared_attrs) THEN sa.shared_attrs END AS attrs
       |  FROM ha_states s
       |  JOIN ha_meta sm USING (metadata_id)
       |  LEFT JOIN ha_attrs sa USING (attributes_id)
       |  WHERE s.state NOT IN ('unknown','unavailable','None')),
       |p AS (
       |  SELECT event_id, state, last_updated_ms,
       |    regexp_matches(state,'$numRe') AS state_is_num,
       |    split_part(entity_id,'.',1) AS domain,
       |    substr(entity_id, strpos(entity_id,'.')+1) AS eshort,
       |    json_extract_string(attrs,'$$.friendly_name') AS fname,
       |    json_extract_string(attrs,'$$.unit_of_measurement') AS uom,
       |    json_extract_string(attrs,'$$.temperature') AS temp,
       |    json_extract_string(attrs,'$$.battery') AS batt,
       |    json_extract_string(attrs,'$$.icon') AS icon
       |  FROM j)
       |SELECT event_id,
       |  CASE WHEN coalesce(uom,'default_measurement') = '' THEN 'count'
       |       ELSE coalesce(uom,'default_measurement') END AS measurement,
       |  '{"source":"HA","domain":"' || domain || '","entity_id":"' || eshort ||
       |    '","friendly_name":"' || coalesce(fname, eshort) || '"}' AS tags_json,
       |  '{' || concat_ws(',',
       |    CASE WHEN state_is_num THEN '"value":' || CAST(CAST(state AS DOUBLE) AS VARCHAR) END,
       |    CASE WHEN temp IS NOT NULL AND TRY_CAST(temp AS DOUBLE) IS NOT NULL
       |         THEN '"temperature":' || CAST(CAST(temp AS DOUBLE) AS VARCHAR) END,
       |    CASE WHEN batt IS NOT NULL AND regexp_matches(batt,'$numRe')
       |         THEN '"battery":' || CAST(CAST(batt AS DOUBLE) AS VARCHAR) END
       |  ) || '}' AS fields_num_json,
       |  '{' || concat_ws(',',
       |    CASE WHEN NOT state_is_num THEN '"state":"' || state || '"' END,
       |    CASE WHEN fname IS NOT NULL THEN '"friendly_name":"' || fname || '"' END,
       |    CASE WHEN uom IS NOT NULL THEN '"unit_of_measurement":"' || uom || '"' END,
       |    CASE WHEN icon IS NOT NULL THEN '"icon":"' || icon || '"' END
       |  ) || '}' AS fields_str_json,
       |  last_updated_ms AS time_ms
       |FROM p""".stripMargin

  /** Brute-force cosine top-k oracle — used for both the Window and the
    * bounded-heap Aggregator implementations (they must agree exactly). */
  private lazy val topkSql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
      |           FROM embeddings ORDER BY vec_id LIMIT 8),
      |pairs AS (
      |  SELECT q.query_id, e.vec_id,
      |    list_dot_product(q.qvec, e.embedding::DOUBLE[]) /
      |    (sqrt(list_dot_product(q.qvec, q.qvec)) *
      |     sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS cos_raw
      |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
      |ranked AS (SELECT query_id, vec_id, cos_raw,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |                            ORDER BY cos_raw DESC, vec_id ASC) AS BIGINT) AS rank
      |  FROM pairs)
      |SELECT query_id, vec_id, round(cos_raw, 6) AS cosine, rank
      |FROM ranked WHERE rank <= 10""".stripMargin

  // ---- portable-hash dedup oracles -------------------------------------
  // The hash-family constants are read from PortableDedup so the Spark path
  // and the oracle can never drift. DuckDB computes the identical 32-bit
  // value from the md5 hex prefix: ('0x' || substr(md5(s),1,8))::BIGINT.

  private def mhExpr(i: Int): String = {
    import graft.ext.PortableDedup.{hashA, hashB, P}
    s"min((${hashA(i)} * x + ${hashB(i)}) % $P) AS mh_$i"
  }

  /** Shared CTE prefix: distinct word-2-shingles → 32-bit md5-prefix hash,
    * mirroring PortableDedup.shingleHashes (docs with <2 tokens dropped). */
  private lazy val portableShingleCte: String =
    """d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |      WHERE len(string_split(text, ' ')) >= 2),
      |sh AS (SELECT doc_id,
      |         unnest(list_distinct(list_transform(range(1, len(toks)),
      |                i -> toks[i] || ' ' || toks[i+1]))) AS s
      |       FROM d),
      |x AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS x FROM sh),
      |sig AS (SELECT doc_id, %MH% FROM x GROUP BY doc_id)"""
      .stripMargin.replace("%MH%", (0 until 8).map(mhExpr).mkString(",\n        "))

  /** Banded candidate pairs from the portable signature: band key packs the
    * band's two signature rows (mh_a·P + mh_b), buckets capped at 1000. */
  private lazy val portablePairsCte: String = {
    val P = graft.ext.PortableDedup.P
    val banded = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, mh_${2 * b} * $P + mh_${2 * b + 1} AS bucket FROM sig")
      .mkString("\n  UNION ALL ")
    s"""banded AS (
       |  $banded),
       |bsz AS (SELECT band, bucket, count(*) AS n FROM banded GROUP BY 1, 2),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a
       |  JOIN banded b USING (band, bucket)
       |  JOIN bsz USING (band, bucket)
       |  WHERE a.doc_id < b.doc_id AND bsz.n BETWEEN 2 AND 1000)""".stripMargin
  }

  /** Three unrolled integer PageRank rounds over the portable LSH pair
    * graph. sum() is CAST from HUGEINT back to BIGINT (memory rule);
    * `//` floor-division equals Spark's `div` truncation on the
    * non-negative ranks. */
  /** Shared by `dedup_jaccard` (all-pairs posting join) and
    * `dedup_jaccard_prefix` (AllPairs/PPJoin prefix filtering): the
    * blocking is SOUND, so both must hash-match this one all-pairs SQL. */
  private lazy val jaccardAllPairsSql: String =
    """WITH d AS (SELECT doc_id, lang, list_distinct(string_split(text,' ')) AS toks
      |           FROM documents WHERE doc_id % 10 = 0),
      |t AS (SELECT doc_id, lang, unnest(toks) AS tok FROM d),
      |cnt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n FROM d),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS i
      |  FROM t a JOIN t b ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (na + nb - i) AS jaccard
      |FROM inter
      |JOIN (SELECT doc_id AS doc_a, n AS na FROM cnt) USING (doc_a)
      |JOIN (SELECT doc_id AS doc_b, n AS nb FROM cnt) USING (doc_b)
      |WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.2""".stripMargin

  private lazy val pageRankSql: String = {
    val rounds = (1 to 3).map { i =>
      val prev = if (i == 1) "r0" else s"i${i - 1}"
      s"""c$i AS (SELECT e.dst, CAST(sum(r.rank // d.outdeg) AS BIGINT) AS m
         |      FROM edges e JOIN $prev r ON r.doc_id = e.src
         |      JOIN deg d ON d.src = e.src
         |      GROUP BY e.dst),
         |i$i AS (SELECT r.doc_id, 150000 + (85 * coalesce(c.m, 0)) // 100 AS rank
         |      FROM r0 r LEFT JOIN c$i c ON c.dst = r.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $portableShingleCte,
       |$portablePairsCte,
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
       |r0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS rank FROM documents),
       |$rounds
       |SELECT doc_id, CAST(rank AS BIGINT) AS rank FROM i3""".stripMargin
  }

  private lazy val minhashSigSql: String =
    s"WITH $portableShingleCte\nSELECT * FROM sig"

  private lazy val lshPairsSql: String =
    s"WITH $portableShingleCte,\n$portablePairsCte\nSELECT doc_a, doc_b FROM pairs"

  /** MinHash estimate (matching components / 8) and exact Jaccard (over
    * the distinct shingle-hash sets) per LSH candidate pair. est is an
    * integer over a power of two and the truth is one terminal integer
    * division — both exact doubles in either engine. */
  private lazy val jaccardEstSql: String =
    s"""WITH $portableShingleCte,
       |$portablePairsCte,
       |sarr AS (SELECT doc_id, [${(0 until 8).map(i => s"mh_$i").mkString(", ")}] AS sig
       |         FROM sig),
       |sets AS (SELECT doc_id, list_sort(list(x)) AS xs FROM x GROUP BY doc_id),
       |j AS (SELECT p.doc_a, p.doc_b,
       |        len(list_filter(range(1, 9), i -> a.sig[i] = b.sig[i])) AS matches,
       |        len(list_intersect(sa.xs, sb.xs)) AS inter,
       |        len(sa.xs) AS na, len(sb.xs) AS nb
       |      FROM pairs p
       |      JOIN sarr a ON a.doc_id = p.doc_a
       |      JOIN sarr b ON b.doc_id = p.doc_b
       |      JOIN sets sa ON sa.doc_id = p.doc_a
       |      JOIN sets sb ON sb.doc_id = p.doc_b)
       |SELECT doc_a, doc_b, matches / 8.0 AS est_jaccard,
       |       CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
       |FROM j""".stripMargin

  /** LSH precision/recall audit: truth = all-pairs posting join over the
    * same distinct-shingle-hash universe the signatures sign; counts
    * BIGINT, metrics one terminal division each. */
  private lazy val lshQualitySql: String =
    s"""WITH $portableShingleCte,
       |$portablePairsCte,
       |tj AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |              CAST(count(*) AS BIGINT) AS i
       |       FROM x a JOIN x b ON a.x = b.x AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM x GROUP BY 1),
       |truth AS (SELECT doc_a, doc_b FROM tj
       |          JOIN (SELECT doc_id AS doc_a, n AS na FROM sz) USING (doc_a)
       |          JOIN (SELECT doc_id AS doc_b, n AS nb FROM sz) USING (doc_b)
       |          WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.3),
       |m AS (SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_candidates,
       |  (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
       |  (SELECT CAST(count(*) AS BIGINT)
       |   FROM pairs JOIN truth USING (doc_a, doc_b)) AS n_tp)
       |SELECT n_candidates, n_true, n_tp,
       |       CAST(n_tp AS DOUBLE) / CAST(n_candidates AS DOUBLE) AS prec,
       |       CAST(n_tp AS DOUBLE) / CAST(n_true AS DOUBLE) AS rec
       |FROM m""".stripMargin

  /** Exact integer Gram matrix: embeddings quantized by floor(f·2^10)
    * (float→double and the power-of-two multiply are both exact, floor
    * agrees cross-engine), products summed as BIGINT — no IEEE tail
    * anywhere, so the d×d matrix hash-matches bit-for-bit. */
  private lazy val embGramSql: String =
    """WITH q AS (SELECT list_transform(embedding,
      |             f -> CAST(floor(CAST(f AS DOUBLE) * 1024.0) AS BIGINT)) AS q
      |           FROM embeddings),
      |p AS (SELECT u1.i - 1 AS i, u2.j - 1 AS j, q[u1.i] * q[u2.j] AS v
      |      FROM q, range(1, 65) u1(i), range(1, 65) u2(j)
      |      WHERE u2.j >= u1.i)
      |SELECT i, j, CAST(sum(v) AS BIGINT) AS s FROM p GROUP BY i, j""".stripMargin

  /** Portable HLL registers: bucket = top 6 bits of the md5-prefix hash,
    * ρ = 27 − bitlength of the 26-bit suffix (27 when the suffix is 0) —
    * bin()/len have identical no-leading-zeros semantics in both engines. */
  private lazy val hllRegistersSql: String =
    """WITH v AS (SELECT ('0x' || substr(md5(text), 1, 8))::BIGINT AS v
      |           FROM documents),
      |b AS (SELECT v >> 26 AS bucket,
      |        CASE WHEN (v & 67108863) = 0 THEN 27
      |             ELSE 27 - len(bin(v & 67108863)) END AS rho FROM v)
      |SELECT bucket, CAST(max(rho) AS BIGINT) AS r FROM b GROUP BY bucket""".stripMargin

  /** Raw HLL estimate: Σ 2^-r is exact in double (terms are multiples of
    * 2^-27, total < 2^7), and α·m²/Z is the same multiply-then-divide
    * sequence Spark runs — est and rel_err cross engines bit-exactly. */
  private lazy val hllEstimateSql: String = {
    val est = "(CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + " +
      "CAST(1.079 AS DOUBLE) / CAST(64.0 AS DOUBLE))) * CAST(4096.0 AS DOUBLE)" +
      " / (z_present + CAST(64 - n_present AS DOUBLE))"
    s"""WITH v AS (SELECT ('0x' || substr(md5(text), 1, 8))::BIGINT AS v
       |           FROM documents),
       |b AS (SELECT v >> 26 AS bucket,
       |        CASE WHEN (v & 67108863) = 0 THEN 27
       |             ELSE 27 - len(bin(v & 67108863)) END AS rho FROM v),
       |regs AS (SELECT bucket, max(rho) AS r FROM b GROUP BY bucket),
       |z AS (SELECT sum(CAST(1.0 AS DOUBLE) /
       |               (CAST(1 AS BIGINT) << CAST(r AS INT))) AS z_present,
       |             count(*) AS n_present FROM regs),
       |e AS (SELECT count(DISTINCT text) AS n_exact FROM documents)
       |SELECT $est AS est_distinct,
       |       n_exact,
       |       CAST(64 - n_present AS BIGINT) AS n_zero_regs,
       |       ($est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) AS rel_err
       |FROM z, e""".stripMargin
  }

  /** HLL inclusion-exclusion oracle: three sketch pipelines (cohort A,
    * cohort B, max-merged union) with the SAME est formula as
    * [[hllEstimateSql]], combined left-assoc — every output double is the
    * identical IEEE op sequence Spark runs. */
  private lazy val hllIntersectSql: String = {
    def regs(alias: String, pred: String): String =
      s"""v$alias AS (SELECT ('0x' || substr(md5(text), 1, 8))::BIGINT AS v
         |           FROM documents WHERE $pred),
         |b$alias AS (SELECT v >> 26 AS bucket,
         |        CASE WHEN (v & 67108863) = 0 THEN 27
         |             ELSE 27 - len(bin(v & 67108863)) END AS rho FROM v$alias),
         |r$alias AS (SELECT bucket, max(rho) AS r FROM b$alias GROUP BY bucket)""".stripMargin
    def z(alias: String, src: String): String =
      s"""z$alias AS (SELECT sum(CAST(1.0 AS DOUBLE) /
         |               (CAST(1 AS BIGINT) << CAST(r AS INT))) AS zp_$alias,
         |             count(*) AS np_$alias FROM $src)""".stripMargin
    def est(alias: String): String =
      "(CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + " +
        "CAST(1.079 AS DOUBLE) / CAST(64.0 AS DOUBLE))) * CAST(4096.0 AS DOUBLE)" +
        s" / (zp_$alias + CAST(64 - np_$alias AS DOUBLE))"
    s"""WITH ${regs("a", "doc_id % 3 <> 0")},
       |${regs("b", "doc_id % 2 <> 0")},
       |ru AS (SELECT bucket, max(r) AS r FROM
       |        (SELECT * FROM ra UNION ALL SELECT * FROM rb) GROUP BY bucket),
       |${z("a", "ra")},
       |${z("b", "rb")},
       |${z("u", "ru")},
       |x AS (SELECT count(*) AS n_exact_inter FROM
       |        (SELECT text FROM documents WHERE doc_id % 3 <> 0
       |         INTERSECT
       |         SELECT text FROM documents WHERE doc_id % 2 <> 0))
       |SELECT ${est("a")} AS est_a, ${est("b")} AS est_b,
       |       ${est("u")} AS est_union,
       |       ${est("a")} + ${est("b")} - ${est("u")} AS est_intersect,
       |       n_exact_inter
       |FROM za, zb, zu, x""".stripMargin
  }

  /** Hilbert xy2d as 31 unrolled CTE levels (the fixed-iteration
    * technique the PageRank oracle uses) over the FSM formulation:
    * orientation state 0..3 carried per level, coordinates never mutated
    * — digit and transition come from 16-entry lookup lists indexed by
    * (state, bit-pair). Equivalent to the classic reflect-and-swap
    * descent HilbertKey.compute runs (HilbertSpec pins the equivalence
    * against an independent FSM reference). A list_reduce fold would be
    * the natural shape, but DuckDB v1.0's lambda mis-evaluates one struct
    * field deep in a 31-step fold — the unrolled integer CTE chain
    * sidesteps the bug with pure column arithmetic. */
  private lazy val hilbertSql: String = {
    val dg = "[0,1,3,2, 0,3,1,2, 2,1,3,0, 2,3,1,0]" // digit[state*4 + bits]
    val tr = "[1,0,2,0, 0,3,1,1, 2,2,0,3, 3,1,3,2]" // next state
    val levels = (30 to 0 by -1).map { b =>
      val k = 30 - b
      val idx = s"((x >> $b) & 1) * 2 + ((y >> $b) & 1)"
      s"""h${k + 1} AS (SELECT event_id, x, y,
         |  CAST($tr[CAST(st$k * 4 + $idx AS INT) + 1] AS BIGINT) AS st${k + 1},
         |  d$k + $dg[CAST(st$k * 4 + $idx AS INT) + 1] *
         |    (CAST(1 AS BIGINT) << ${2 * b}) AS d${k + 1}
         |  FROM h$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH h0 AS (SELECT event_id,
       |    CAST(user_id AS BIGINT) & 2147483647 AS x,
       |    CAST(floor(value) AS BIGINT) & 2147483647 AS y,
       |    CAST(0 AS BIGINT) AS st0, CAST(0 AS BIGINT) AS d0 FROM events),
       |$levels
       |SELECT event_id, d31 AS hkey FROM h31""".stripMargin
  }

  /** Count-Min cells per hash row as UNION ALL branches, mirroring
    * [[graft.ext.Sketches.cmsCounts]]'s affine family literally. */
  private def cmsCellsSql(src: String): String =
    (0 until 4).map { j =>
      import graft.ext.PortableDedup.{hashA, hashB, P}
      s"SELECT *, CAST($j AS BIGINT) AS cms_row, " +
        s"((${hashA(j)} * x + ${hashB(j)}) % $P) % 256 AS cms_col FROM $src"
    }.mkString("\n  UNION ALL ")

  /** Portable Count-Min counter table: every token occurrence increments
    * one cell per hash row; all-BIGINT, same md5+affine family as Spark. */
  private lazy val cmsCountsSql: String =
    s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
       |x AS (SELECT ('0x' || substr(md5(token), 1, 8))::BIGINT AS x FROM t),
       |cells AS (
       |  ${cmsCellsSql("x")})
       |SELECT cms_row, cms_col, count(*) AS cnt FROM cells
       |GROUP BY cms_row, cms_col""".stripMargin

  /** CMS point estimates for the exact top-10 tokens: est = min over the
    * token's depth cells; overcount = est − exact (≥ 0 by the CMS
    * guarantee). Deterministic candidate pick: (count DESC, token ASC). */
  private lazy val cmsEstimateSql: String =
    s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
       |x AS (SELECT ('0x' || substr(md5(token), 1, 8))::BIGINT AS x FROM t),
       |cells AS (
       |  ${cmsCellsSql("x")}),
       |cms AS (SELECT cms_row, cms_col, count(*) AS cnt FROM cells
       |        GROUP BY cms_row, cms_col),
       |cnts AS (SELECT token, count(*) AS exact_cnt FROM t GROUP BY token),
       |top AS (SELECT token, exact_cnt FROM cnts
       |        ORDER BY exact_cnt DESC, token ASC LIMIT 10),
       |tx AS (SELECT token, exact_cnt,
       |         ('0x' || substr(md5(token), 1, 8))::BIGINT AS x FROM top),
       |probes AS (
       |  ${cmsCellsSql("tx")})
       |SELECT p.token, p.exact_cnt, min(c.cnt) AS est_cnt,
       |       min(c.cnt) - p.exact_cnt AS overcount
       |FROM probes p
       |JOIN cms c ON c.cms_row = p.cms_row AND c.cms_col = p.cms_col
       |GROUP BY p.token, p.exact_cnt""".stripMargin

  /** 5-token-window twin of the portable shingle pipeline: distinct window
    * strings per doc (list_distinct, first-occurrence), same md5-prefix
    * hash; a window is duplicated when >= 2 distinct docs contain it.
    * sum() over BIGINT is HUGEINT in DuckDB — cast back; dup_frac is one
    * terminal division of exact integers on both sides. */
  private lazy val substringSpansSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |           WHERE len(string_split(text, ' ')) >= 5),
      |sh AS (SELECT doc_id,
      |         unnest(list_distinct(list_transform(range(1, len(toks) - 3),
      |                i -> array_to_string(toks[i:i+4], ' ')))) AS s
      |       FROM d),
      |x AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS x FROM sh),
      |shared AS (SELECT x FROM x GROUP BY x HAVING count(DISTINCT doc_id) >= 2),
      |f AS (SELECT a.doc_id, CASE WHEN s.x IS NULL THEN 0 ELSE 1 END AS is_dup
      |      FROM x a LEFT JOIN shared s USING (x))
      |SELECT doc_id, count(*) AS n_windows,
      |       CAST(sum(is_dup) AS BIGINT) AS n_dup,
      |       CAST(sum(is_dup) AS DOUBLE) / count(*) AS dup_frac
      |FROM f GROUP BY doc_id""".stripMargin

  /** DuckDB-native ASOF LEFT JOIN — the oracle for both the composed and
    * the physical-operator as-of queries. */
  private lazy val asofSql: String =
    """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events
      |           WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, epoch_us(ts) AS us, value AS last_click_value
      |      FROM events WHERE event_type = 'click')
      |SELECT p.event_id, p.user_id, p.us, c.last_click_value
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.us >= c.us""".stripMargin

  /** Surviving corpus after near-dup dedup: recursive-CTE connected
    * components (label = min reachable doc_id, what min-label propagation
    * converges to), then NOT IN over the non-canonical members. */
  private lazy val survivorsSql: String =
    s"""WITH RECURSIVE $portableShingleCte,
       |$portablePairsCte,
       |nodes AS (SELECT doc_a AS doc_id FROM pairs
       |          UNION SELECT doc_b FROM pairs),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT doc_id, doc_id AS comp FROM nodes
       |  UNION
       |  SELECT e.dst AS doc_id, r.comp FROM reach r
       |  JOIN edges e ON e.src = r.doc_id),
       |labels AS (SELECT doc_id, min(comp) AS canonical_id
       |           FROM reach GROUP BY doc_id)
       |SELECT dd.doc_id, dd.source, dd.lang FROM documents dd
       |WHERE dd.doc_id NOT IN
       |  (SELECT doc_id FROM labels WHERE doc_id <> canonical_id)""".stripMargin

  /** survivors → token/quality stats → per-lang budget pack, composed into
    * one statement (the CTE chain mirrors the Spark pipeline stage for
    * stage: recursive-CTE components for the dedup labels, then the
    * docs_budget_pack arithmetic over the surviving rows only). */
  private lazy val pipelinePackSql: String =
    s"""WITH RECURSIVE $portableShingleCte,
       |$portablePairsCte,
       |nodes AS (SELECT doc_a AS doc_id FROM pairs
       |          UNION SELECT doc_b FROM pairs),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT doc_id, doc_id AS comp FROM nodes
       |  UNION
       |  SELECT e.dst AS doc_id, r.comp FROM reach r
       |  JOIN edges e ON e.src = r.doc_id),
       |labels AS (SELECT doc_id, min(comp) AS canonical_id
       |           FROM reach GROUP BY doc_id),
       |surv AS (SELECT dd.doc_id, dd.lang, dd.text FROM documents dd
       |         WHERE dd.doc_id NOT IN
       |           (SELECT doc_id FROM labels WHERE doc_id <> canonical_id)),
       |st AS (${tokenStatsSql.replace("FROM documents", "FROM surv")}),
       |q AS (SELECT doc_id, lang, n_tokens,
       |      CAST((CASE WHEN n_tokens >= 20 THEN 1 ELSE 0 END) +
       |           (CASE WHEN CAST(n_distinct AS DOUBLE) / n_tokens > 0.3
       |                 THEN 1 ELSE 0 END) +
       |           (CASE WHEN stopword_ratio < 0.5 THEN 1 ELSE 0 END)
       |        AS BIGINT) AS quality_score
       |      FROM st)
       |SELECT doc_id, lang, n_tokens, quality_score,
       |       CAST(sum(n_tokens) OVER (PARTITION BY lang
       |            ORDER BY quality_score DESC, doc_id ASC) AS BIGINT)
       |         AS cum_tokens
       |FROM q QUALIFY cum_tokens <= 2000""".stripMargin

  private lazy val rangeJoinSql: String =
    """SELECT e.event_id, e.user_id, CAST(count(*) AS BIGINT) AS n_near
      |FROM events e JOIN events c
      |  ON c.user_id = e.user_id AND c.event_type = 'click'
      | AND epoch_ms(c.ts) BETWEEN epoch_ms(e.ts) - 3600000
      |                        AND epoch_ms(e.ts) + 3600000
      |WHERE e.event_type = 'error'
      |GROUP BY 1, 2""".stripMargin

  /** Connected components over the portable LSH pairs — recursive-CTE
    * transitive closure; component label = min doc_id reachable, exactly
    * what min-label propagation (Dedup.canonicalClusters) converges to. */
  private lazy val clustersCcSql: String =
    s"""WITH RECURSIVE $portableShingleCte,
       |$portablePairsCte,
       |nodes AS (SELECT doc_a AS doc_id FROM pairs
       |          UNION SELECT doc_b FROM pairs),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT doc_id, doc_id AS comp FROM nodes
       |  UNION
       |  SELECT e.dst AS doc_id, r.comp FROM reach r
       |  JOIN edges e ON e.src = r.doc_id)
       |SELECT doc_id, min(comp) AS canonical_id FROM reach GROUP BY doc_id""".stripMargin

  /** Portable 32-bit SimHash: per-bit ±1 token votes over the md5-prefix
    * token hash; bit set iff the vote sum is strictly positive. */
  private lazy val simhashSigSql: String = {
    val sums = (0 until 32)
      .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s_$b")
      .mkString(",\n       ")
    val sig = (0 until 32)
      .map(b => s"(CASE WHEN s_$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH t AS (
       |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |        FROM documents)),
       |s AS (SELECT doc_id,
       |       $sums
       |      FROM t GROUP BY doc_id)
       |SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM s""".stripMargin
  }

  /** Same split hash as splitCounts; same cosine convention (6dp round on
    * the identical multiply/divide tail) as embeddingExactSql. */
  private lazy val embContaminationSql: String =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm,
      |    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 100
      |      AS bucket
      |  FROM embeddings)
      |SELECT a.vec_id AS train_id, b.vec_id AS eval_id,
      |       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
      |FROM e a JOIN e b ON a.bucket < 90 AND b.bucket >= 90
      |WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.2""".stripMargin

  private lazy val embeddingExactSql: String =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings WHERE vec_id % 2 = 0)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.2""".stripMargin
}
