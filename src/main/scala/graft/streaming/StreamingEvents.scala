package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType

/** Structured Streaming twins of the batch event queries (SURVEY §2.10).
  * The reference's `while True: fetchmany(BATCH_SIZE)` pull loop
  * (sqllite2influxdb.py:183-189) is exactly a micro-batch source; its
  * watermark-resume behavior maps to checkpointed offsets + withWatermark.
  *
  * These take any streaming DataFrame with the `events` schema (tests feed a
  * MemoryStream; production would readStream from files/Kafka/Delta — JDBC
  * is not a streaming source, SURVEY §2.10-T1).
  */
object StreamingEvents {

  /** X6 streaming: tumbling 1-hour windows per event_type with a 2-hour
    * event-time watermark for state eviction. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))

  /** Stream-stream interval self-join twin of `EventsExt.bandedRangeCount`:
    * every (error, click) pair for the same user within ±`windowMs` of
    * each other. Both sides carry event-time watermarks and the join
    * condition bounds each side's event time relative to the other, so the
    * state store evicts rows as the watermark passes — state is
    * O(events-per-window), not unbounded. Spark runs this as a streaming
    * symmetric hash join on user_id with the time bound as the state
    * cleanup predicate — the streaming analogue of the batch path's
    * (user, time-bin) equi-join. */
  def intervalJoinStream(events: DataFrame, windowMs: Long = 3600000L): DataFrame = {
    val errors = events.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"), col("ts").as("ets"))
      .withWatermark("ets", "2 hours")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("cts"))
      .withWatermark("cts", "2 hours")
    errors.join(clicks,
      expr(s"""click_user = user_id AND
              |cts BETWEEN ets - INTERVAL $windowMs MILLISECONDS
              |        AND ets + INTERVAL $windowMs MILLISECONDS""".stripMargin))
      .select(col("error_id"), col("user_id"), col("click_id"),
        col("ets"), col("cts"))
  }

  /** Streaming per-hour distinct-user HLL registers: the windowed twin of
    * [[graft.ext.Sketches.hllRegisters]] over user_id. Register max is
    * merge-ORDER-INVARIANT (unlike a Misra–Gries summary), so the flushed
    * windows are BIT-IDENTICAL to the batch computation, not merely
    * approximately equal — the strongest possible streaming/batch
    * equivalence for a sketch. State per window is ≤ 2^p registers no
    * matter how many events arrive (the sketch property is exactly what
    * makes unbounded-cardinality streaming aggregation safe); the 2-hour
    * event-time watermark evicts windows as they finalize. */
  def hllDistinctUsersStream(events: DataFrame, p: Int = 6): DataFrame = {
    val (bucket, rho) = graft.ext.Sketches.hllBucketRho(
      graft.ext.PortableDedup.md5Hash32(col("user_id").cast("string")), p)
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), bucket.as("bucket"))
      .agg(max(rho).as("r"))
  }

  /** Streaming dedup on event_id within the watermark horizon (T3: the
    * batch reference has no in-run dedup; the sink's point-overwrite
    * idempotence covers replays — this is the explicit streaming version). */
  def dedupedStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicates("event_id")

  /** Continuous-ingest dedup — the streaming twin of
    * [[graft.ext.Dedup.incrementalDedup]] (X2): an arriving doc is kept
    * iff its content fingerprint is unseen in BOTH the static base corpus
    * and the stream so far. First stream occurrence wins
    * (`dropDuplicatesWithinWatermark` keyed by the 16-byte fp, so dedup
    * state ages out with the horizon instead of growing with the stream);
    * base membership is a stream-static LEFT ANTI join against the base's
    * distinct fp keys — the base contributes keys only, never text, is
    * loaded once, and at scale would be a broadcast (bounded fp set) or a
    * shuffled stream-static join Spark re-uses across micro-batches. */
  def incrementalDedupStream(docs: DataFrame, base: DataFrame,
                             horizon: String = "2 hours"): DataFrame = {
    val fp = graft.ext.TextAnalysis.prefixFingerprint(col("text"))
    val baseFps = base.select(fp.as("fp")).distinct()
    docs.select(col("doc_id"), col("ts"), fp.as("fp"))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("fp")
      .join(baseFps, Seq("fp"), "left_anti")
  }

  final case class SessionUpdate(user_id: Long, session_start_ms: Long,
                                 session_end_ms: Long, n_events: Long,
                                 closed: Boolean)
  final case class SessionState(startMs: Long, endMs: Long, n: Long)

  final case class HeavyHitterUpdate(lang: String, token: String,
                                     est_count: Long, rank: Long)

  /** Streaming heavy hitters — the stateful twin of
    * [[graft.ext.TextAnalysis.heavyHittersPerLang]] (trending tokens): a
    * running per-language Misra–Gries summary via mapGroupsWithState.
    * State is the summary itself — AT MOST k counters per language, fixed
    * forever, which is the whole point: an exact running top-k would hold
    * the full per-language vocabulary in the state store. Feeding batches
    * through [[graft.functions.HeavyHittersAggregator.reduce]] is
    * literally the sequential MG algorithm resumed from state, so the
    * n/(k+1) undercount bound holds over the entire stream prefix — the
    * spec asserts it against exact counts after multiple micro-batches.
    * No watermark/timeout: the summary never evicts by time. */
  def heavyHittersStream(docs: DataFrame, k: Int): Dataset[HeavyHitterUpdate] = {
    import docs.sparkSession.implicits._
    val agg = new graft.functions.HeavyHittersAggregator(k)
    docs.select(col("lang"), explode(split(col("text"), " ")).as("token"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[Map[String, Long], Seq[HeavyHitterUpdate]](
        GroupStateTimeout.NoTimeout) {
        (lang: String, rows: Iterator[(String, String)],
         state: GroupState[Map[String, Long]]) =>
          val buf = scala.collection.mutable.Map(
            state.getOption.getOrElse(Map.empty).toSeq: _*)
          rows.foreach { case (_, tok) => agg.reduce(buf, tok) }
          state.update(buf.toMap)
          agg.finish(buf).zipWithIndex.map { case ((t, c), i) =>
            HeavyHitterUpdate(lang, t, c, i + 1L) }
      }
      .flatMap(identity)
  }

  /** Streaming sessionization — the stateful twin of
    * [[graft.ext.EventsExt.sessionize]]: per-user custom state via
    * flatMapGroupsWithState with an EVENT-TIME timeout. A session closes
    * after `gapMinutes` of inactivity (strict >, matching the batch
    * operator): inline when the same user's next event arrives past the
    * gap, or via watermark-driven timeout for users who never return.
    * In-flight sessions emit running updates (`closed = false`).
    *
    * Event-time (not processing-time) timeouts matter operationally too:
    * batches are only triggered by data, so `processAllAvailable` — and
    * any availableNow backfill run — terminates instead of self-triggering
    * empty timeout-check batches forever. State is O(1) per active user.
    */
  def sessionizeStream(events: DataFrame, gapMinutes: Int = 30): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      // keep the watermarked event-time column itself in the projection —
      // the analyzer requires it on the stateful operator's input
      .selectExpr("user_id", "ts")
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionUpdate(userId, s.startMs, s.endMs, s.n, closed = true))
          } else {
            val sorted = rows.map(_._2.getTime).toSeq.sorted
            var cur = state.getOption
            val out = Seq.newBuilder[SessionUpdate]
            sorted.foreach { ms =>
              cur match {
                case Some(s) if ms - s.endMs > gapMs =>
                  out += SessionUpdate(userId, s.startMs, s.endMs, s.n, closed = true)
                  cur = Some(SessionState(ms, ms, 1))
                case Some(s) =>
                  cur = Some(SessionState(s.startMs, math.max(s.endMs, ms), s.n + 1))
                case None =>
                  cur = Some(SessionState(ms, ms, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // must be strictly beyond the current watermark or Spark
              // rejects it for an already-late session
              state.setTimeoutTimestamp(
                math.max(s.endMs + gapMs, state.getCurrentWatermarkMs() + 1))
              out += SessionUpdate(userId, s.startMs, s.endMs, s.n, closed = false)
            }
            out.result().iterator
          }
      }
  }

  final case class AsofMatch(event_id: Long, user_id: Long, us: Long,
                             last_click_value: Option[Double])
  final case class AsofState(pending: Seq[(Long, Long)],
                             clicks: Seq[(Long, Double)])

  /** Streaming twin of [[graft.ext.EventsExt.asofJoin]] /
    * [[graft.plans.AsofJoinExec]]: per user, each purchase is matched to
    * the latest click at-or-before its event time. A purchase can only be
    * FINALIZED once the watermark passes its event time (an earlier click
    * may still arrive until then), so purchases buffer in state and emit
    * on watermark advance (event-time timeout). Bounded state: clicks at
    * or before the watermark compact to the single latest one — the only
    * one any future purchase can match — so per-user state is
    * O(in-horizon rows + pending purchases), never the history. */
  def asofStream(events: DataFrame): Dataset[AsofMatch] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .selectExpr("event_id", "user_id", "event_type", "ts", "value")
      .as[(Long, Long, String, java.sql.Timestamp, Double)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[AsofState, AsofMatch](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long,
         rows: Iterator[(Long, Long, String, java.sql.Timestamp, Double)],
         state: GroupState[AsofState]) =>
          // µs like the batch twins (Timestamp.getTime is ms; keep the
          // sub-ms part from getNanos). Buffers are mutable while filling —
          // Seq :+ on the deserialized List would be quadratic per batch.
          def micros(t: java.sql.Timestamp): Long =
            t.getTime / 1000 * 1000000L + t.getNanos / 1000
          val prev = state.getOption.getOrElse(AsofState(Nil, Nil))
          val pendingBuf = scala.collection.mutable.ArrayBuffer.from(prev.pending)
          val clicksBuf = scala.collection.mutable.ArrayBuffer.from(prev.clicks)
          rows.foreach { case (eid, _, typ, t, v) =>
            if (typ == "purchase") pendingBuf += (eid -> micros(t))
            else if (typ == "click") clicksBuf += (micros(t) -> v)
          }
          val pending = pendingBuf.toSeq
          val clicks = clicksBuf.toSeq
          // the runtime watermark is ms; buffered times are µs
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val sortedClicks = clicks.sortBy(_._1)
          val (ready, still) = pending.partition(_._2 <= wmUs)
          val out = ready.sortBy(_._2).map { case (eid, pts) =>
            val m = sortedClicks.takeWhile(_._1 <= pts).lastOption
            AsofMatch(eid, userId, pts, m.map(_._2))
          }
          // compact: future purchases have pts > wm, so of the clicks at or
          // before wm only the latest can ever win again
          val cut = sortedClicks.lastIndexWhere(_._1 <= wmUs)
          val compacted = if (cut <= 0) sortedClicks else sortedClicks.drop(cut)
          if (still.isEmpty && compacted.isEmpty) {
            state.remove()
          } else {
            state.update(AsofState(still, compacted))
            if (still.nonEmpty) {
              // wake when the ms watermark reaches the earliest pending
              // purchase: ceil to ms so the timeout is never early, and
              // keep it strictly above the current watermark
              val wakeMs = (still.map(_._2).min + 999L) / 1000L
              state.setTimeoutTimestamp(
                math.max(wakeMs, state.getCurrentWatermarkMs() + 1))
            }
          }
          out.iterator
      }
  }

  final case class TopkRow(event_type: String, event_id: Long,
                           value: Double, rank: Long, n_seen: Long)
  final case class TopkState(entries: Seq[(Double, Long)], n: Long)

  /** Streaming twin of [[graft.ext.EventsExt.typeRank]] — the maintained
    * per-group LEADERBOARD: state is a bounded k-entry set of
    * (value, event_id) per event_type, merged under the same total order
    * the batch window uses (value DESC, event_id ASC — the tie-break
    * makes rank ≡ row_number, so the maintained set is unique and
    * deterministic). Each micro-batch folds its rows into the heap and
    * emits the group's CURRENT top-k as a changelog; after all data the
    * last emission per group is row-identical to the batch rank()-filter.
    * State is k pairs per group forever — no history — because bounded
    * top-k is a mergeable monoid: fold(fold(S, a), b) = fold(S, a∪b). */
  def topkStream(events: DataFrame, k: Int = 10): Dataset[TopkRow] = {
    import events.sparkSession.implicits._
    implicit val ord: Ordering[(Double, Long)] =
      Ordering.Tuple2(Ordering[Double].reverse, Ordering[Long])
    events
      .select(col("event_type"), col("event_id"), col("value"))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TopkState, TopkRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (tpe: String, rows: Iterator[(String, Long, Double)],
         state: GroupState[TopkState]) =>
          val prior = state.getOption.getOrElse(TopkState(Nil, 0L))
          val batch = rows.map(r => (r._3, r._2)).toSeq
          // dedup by event_id BEFORE the cut: an at-least-once source can
          // re-deliver a row already on the board, and without this a
          // duplicate would occupy two slots and permanently evict the
          // legitimate k-th entry (prior entries listed first, so they win)
          val merged = (prior.entries ++ batch)
            .distinctBy(_._2).sorted.take(k)
          // n_seen marks emission recency in the append changelog — the
          // max per group identifies the final leaderboard
          val n = prior.n + batch.length
          state.update(TopkState(merged, n))
          merged.iterator.zipWithIndex.map { case ((v, eid), i) =>
            TopkRow(tpe, eid, v, i + 1L, n)
          }
      }
  }

  final case class InfluxTopkRow(group: String, time_ms: Long, value: Double,
                                 rank: Long, n_seen: Long)
  final case class InfluxTopkState(entries: Seq[(Double, Long, String)],
                                   n: Long)

  /** Maintained per-group value leaderboard over the INFLUX sample stream
    * — the streaming consumer of the grouped-TopN narrowing
    * ([[graft.sources.InfluxTable.groupTopN]]): each trigger's scan pulls
    * only the per-group `top(n:)`/`bottom(n:)` superset, and this fold
    * maintains the exact running top-k because bounded top-k is a
    * mergeable monoid — rows outside a trigger's per-group top-k can
    * never enter the merged board, so superset-fed ≡ full-fed. A sample
    * is identified by its full Influx point key — (measurement, field,
    * tags, time) — so at-least-once redelivery dedups by the (canonical
    * SERIES key, time_ms) composite before the cut, mirroring
    * [[topkStream]]'s event-id dedup. Deduping by time alone would
    * collapse two DISTINCT same-timestamp samples whenever the group
    * expression is coarser than the series key (e.g. a per-measurement
    * board over many entities), diverging from the batch row_number twin.
    * Ties on (value, time) across series break on the series key — the
    * board is a deterministic total order. NULL-valued (string) samples
    * never rank: the board is the numeric-population leaderboard, exactly
    * the narrowed top()/bottom() pull's population. `desc = false`
    * maintains the bottom-k board. */
  def influxTopkStream(samples: DataFrame,
                       groupExpr: org.apache.spark.sql.Column,
                       k: Int = 10, desc: Boolean = true)
      : Dataset[InfluxTopkRow] = {
    import samples.sparkSession.implicits._
    implicit val ord: Ordering[(Double, Long, String)] =
      if (desc)
        Ordering.Tuple3(Ordering[Double].reverse, Ordering[Long],
          Ordering[String])
      else
        Ordering.Tuple3(Ordering[Double], Ordering[Long], Ordering[String])
    // canonical series key: measurement + field + key-sorted tag pairs
    // (map iteration order is not a contract; sorting makes a redelivered
    // row encode identically)
    val seriesKey = concat_ws("\u0001", col("measurement"), col("field"),
      concat_ws("\u0002", transform(array_sort(map_entries(col("tags"))),
        e => concat_ws("\u0003", e.getField("key"), e.getField("value")))))
    samples
      .filter(col("value").isNotNull && groupExpr.isNotNull)
      .select(groupExpr.cast("string").as("g"), col("time_ms"), col("value"),
        seriesKey.as("series"))
      .as[(String, Long, Double, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[InfluxTopkState, InfluxTopkRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (g: String, rows: Iterator[(String, Long, Double, String)],
         state: GroupState[InfluxTopkState]) =>
          val prior = state.getOption.getOrElse(InfluxTopkState(Nil, 0L))
          val batch = rows.map(r => (r._3, r._2, r._4)).toSeq
          val merged = (prior.entries ++ batch)
            .distinctBy(e => (e._3, e._2)).sorted.take(k)
          val n = prior.n + batch.length
          state.update(InfluxTopkState(merged, n))
          merged.iterator.zipWithIndex.map { case ((v, ts, _), i) =>
            InfluxTopkRow(g, ts, v, i + 1L, n)
          }
      }
  }

  final case class InfluxDistinctRow(group: String, bucket_start_ms: Long,
                                     n_distinct: Long, n_seen: Long)
  final case class InfluxDistinctState(seen: Set[String], n: Long)

  /** STREAMING distinct-count over the pushed rollup read — the live
    * "distinct sensors reporting per hour" panel, and the streaming twin
    * of the batch COUNT(DISTINCT tags['k']) rollup push. Feed it the
    * partial stream of a rollup spec whose `rollup.group` includes the
    * counted key (e.g. `tag:entity_id`): each trigger's shards POST one
    * partial row per (value, bucket) — values × buckets move, never
    * samples — and Spark's own streaming aggregation cannot finish the
    * job (DISTINCT aggregates are unsupported on streams), so this fold
    * maintains the exact per-(residual-group, bucket) distinct set in
    * state. NULL counted cells (absent tag) never count, like the batch
    * count(distinct). Emissions are a changelog with the n_seen recency
    * marker (final answer = max n_seen per key, the board convention).
    * State per (group, bucket) is the distinct-value set — bounded by
    * the counted key's cardinality, the same bound as the batch answer
    * itself; a production deployment retiring old buckets would add a
    * state timeout, which changes nothing about the maintained values. */
  def influxDistinctStream(partials: DataFrame,
                           spec: graft.sources.InfluxRollupRead.Spec,
                           countedKey: String)
      : Dataset[InfluxDistinctRow] = {
    import partials.sparkSession.implicits._
    val countedCol = graft.sources.InfluxRollupRead.groupColName(countedKey)
    require(spec.groupCols.contains(countedKey),
      s"influxDistinctStream: rollup.group must include $countedKey")
    val rest = spec.groupCols.filterNot(_ == countedKey)
    val restKey = concat_ws("\u0001", rest.map(c =>
      coalesce(col(graft.sources.InfluxRollupRead.groupColName(c))
        .cast("string"), lit("\u0000"))): _*)
    partials
      .filter(col(countedCol).isNotNull)
      .select(restKey.as("g"), col("bucket_start_ms"),
        col(countedCol).cast("string").as("v"))
      .as[(String, Long, String)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[InfluxDistinctState, InfluxDistinctRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: (String, Long), rows: Iterator[(String, Long, String)],
         state: GroupState[InfluxDistinctState]) =>
          val st0 = state.getOption.getOrElse(InfluxDistinctState(Set.empty, 0L))
          var seen = st0.seen
          var n = st0.n
          rows.foreach { r => seen += r._3; n += 1 }
          state.update(InfluxDistinctState(seen, n))
          Iterator.single(
            InfluxDistinctRow(key._1, key._2, seen.size.toLong, n))
      }
  }

  final case class InfluxRatePoint(series: String, bucket_start_ms: Long,
                                   increase: Double, rate_per_sec: Double,
                                   n_seen: Long)
  final case class InfluxRateState(lastTime: Long, lastValue: Double,
                                   hasLast: Boolean,
                                   open: Map[Long, Double], n: Long)

  /** STREAMING counter-rate over the pushed rollup read — the last rung of
    * the Influx pushdown ladder's streaming side. Feed it the partial
    * stream of a [[graft.sources.InfluxRollupRead.rateOptions]] spec
    * (`spark.readStream.format("influx")` + those options): each trigger's
    * shards POST per-segment `increase()` partials with their numeric
    * boundary samples, and this fold maintains the EXACT global per-bucket
    * increase — the streaming twin of [[graft.sources.InfluxRollupRead
    * .rateMerge]]. State per series is the last numeric sample (the
    * cross-TRIGGER stitch key, exactly the role the segment stitch plays
    * across shards in batch) plus the still-open bucket totals. Because
    * trigger offsets advance monotonically, a trigger's segments are
    * time-ordered after the previous trigger's — so folding within-trigger
    * segments by first_num_time against the carried last-sample replays
    * precisely the batch Window's lag chain, and the last emission per
    * (series, bucket) — max n_seen, the board convention — equals the
    * batch merge row for row. Buckets strictly before the last numeric
    * sample's bucket can never change again (future samples are later, and
    * a stitch attributes to the LATER sample's bucket) and are evicted:
    * state is one sample + O(1) open buckets per series, forever.
    * Null-boundary segments contribute their coalesced increase without
    * entering the stitch chain, mirroring rateMerge. The `series` key is
    * the group-column values \u0001-joined (NULL cells as \u0000). */
  def influxRateStream(partials: DataFrame,
                       spec: graft.sources.InfluxRollupRead.Spec)
      : Dataset[InfluxRatePoint] = {
    import partials.sparkSession.implicits._
    val everyMs = spec.everyMs
    val series = concat_ws("\u0001", spec.groupCols.map(c =>
      coalesce(col(graft.sources.InfluxRollupRead.groupColName(c))
        .cast("string"), lit("\u0000"))): _*)
    partials
      .select(series.as("g"), col("bucket_start_ms"), col("increase"),
        col("first_num_time"), col("first_num_value"),
        col("last_num_time"), col("last_num_value"))
      .as[(String, Long, Option[Double], Option[Long], Option[Double],
        Option[Long], Option[Double])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[InfluxRateState, InfluxRatePoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (g: String,
         rows: Iterator[(String, Long, Option[Double], Option[Long],
           Option[Double], Option[Long], Option[Double])],
         state: GroupState[InfluxRateState]) =>
          val st0 = state.getOption.getOrElse(
            InfluxRateState(0L, 0.0, hasLast = false, Map.empty, 0L))
          var lastT = st0.lastTime
          var lastV = st0.lastValue
          var has = st0.hasLast
          var open = st0.open
          val touched = scala.collection.mutable.LinkedHashSet.empty[Long]
          val segs = rows.toSeq
          // a NUMERIC segment needs all FOUR boundary slots — matching
          // rateMerge's numericSeg contract. A partial/lying server that
          // fills one end of a boundary pair but not the other must fold
          // as boundaryless (increase kept, stitch skipped), not crash
          // the .get calls below
          val (numeric, boundaryless) = segs.partition(s =>
            s._4.isDefined && s._5.isDefined &&
              s._6.isDefined && s._7.isDefined)
          boundaryless.foreach { s =>
            open = open.updated(s._2,
              open.getOrElse(s._2, 0.0) + s._3.getOrElse(0.0))
            touched += s._2
          }
          numeric.sortBy(_._4.get).foreach {
            case (_, bucket, inc, _, fnv, lnt, lnv) =>
              val stitch =
                if (!has) 0.0
                else if (fnv.get >= lastV) fnv.get - lastV
                else fnv.get
              open = open.updated(bucket,
                open.getOrElse(bucket, 0.0) + inc.getOrElse(0.0) + stitch)
              touched += bucket
              lastT = lnt.get; lastV = lnv.get; has = true
          }
          val n = st0.n + segs.length
          // eviction horizon on the SPEC'S bucket grid — shifted by
          // offsetMs when the read uses timezone-aligned windows. The
          // epoch grid would place the horizon up to offsetMs above the
          // still-open shifted bucket's start and evict it mid-fill;
          // re-accumulation from zero would then win the max-n_seen
          // changelog convention with an understated increase.
          // A series with no numeric sample yet (string-only) would
          // otherwise never evict (horizon stuck at MinValue) and grow
          // one boundaryless open-bucket entry per trigger forever.
          // Trigger offsets advance monotonically, so a future shard's
          // range starts at/after this trigger's end and any open bucket
          // strictly below the GREATEST open bucket is already closed
          // (b + everyMs ≤ maxBucket ≤ the range bound that produced
          // maxBucket's partial) — keep only the max, which may still be
          // cut by the next trigger boundary. O(1) state either way.
          val openBucket =
            if (has)
              Math.floorDiv(lastT - spec.offsetMs, everyMs) * everyMs +
                spec.offsetMs
            else if (open.nonEmpty) open.keysIterator.max
            else Long.MinValue
          state.update(InfluxRateState(lastT, lastV, has,
            open.filter { case (b, _) => b >= openBucket }, n))
          touched.iterator.map(b =>
            InfluxRatePoint(g, b, open(b), open(b) / (everyMs / 1000.0), n))
      }
  }

  final case class InfluxIntegralPoint(series: String, bucket_start_ms: Long,
                                       integral: Double, n_seen: Long)

  /** STREAMING trapezoid integral over the pushed rollup read — the
    * streaming twin of [[graft.sources.InfluxRollupRead.integralMerge]].
    * Feed it the partial stream of an
    * [[graft.sources.InfluxRollupRead.integralOptions]] spec: each
    * trigger's shards POST per-segment `integral(unit: 1ms)` partials
    * with their numeric boundary samples, and this fold maintains the
    * exact per-(series, bucket) area. State per series is the last
    * numeric sample (the cross-TRIGGER stitch key) plus the still-open
    * bucket totals; a new segment in the SAME bucket as the carried
    * sample adds the trapezoid of the boundary pair, and a segment in a
    * later bucket adds nothing across the line — Flux's
    * windowed-integral convention, the same rule integralMerge applies
    * across shards. Buckets strictly before the carried sample's bucket
    * can never grow again (future pairs land in the LATER sample's
    * bucket, which only advances) and are evicted: state is one sample
    * + O(1) open buckets per series, forever. Null-boundary segments
    * contribute their coalesced area without entering the stitch chain.
    * Emissions are a changelog (final answer = max n_seen per key). */
  def influxIntegralStream(partials: DataFrame,
                           spec: graft.sources.InfluxRollupRead.Spec)
      : Dataset[InfluxIntegralPoint] = {
    import partials.sparkSession.implicits._
    val everyMs = spec.everyMs
    val series = concat_ws("\u0001", spec.groupCols.map(c =>
      coalesce(col(graft.sources.InfluxRollupRead.groupColName(c))
        .cast("string"), lit("\u0000"))): _*)
    partials
      .select(series.as("g"), col("bucket_start_ms"), col("integral"),
        col("first_num_time"), col("first_num_value"),
        col("last_num_time"), col("last_num_value"))
      .as[(String, Long, Option[Double], Option[Long], Option[Double],
        Option[Long], Option[Double])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[InfluxRateState, InfluxIntegralPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (g: String,
         rows: Iterator[(String, Long, Option[Double], Option[Long],
           Option[Double], Option[Long], Option[Double])],
         state: GroupState[InfluxRateState]) =>
          val st0 = state.getOption.getOrElse(
            InfluxRateState(0L, 0.0, hasLast = false, Map.empty, 0L))
          var lastT = st0.lastTime
          var lastV = st0.lastValue
          var has = st0.hasLast
          var open = st0.open
          val touched = scala.collection.mutable.LinkedHashSet.empty[Long]
          val segs = rows.toSeq
          // the four-slot numericSeg contract, as in influxRateStream
          val (numeric, boundaryless) = segs.partition(s =>
            s._4.isDefined && s._5.isDefined &&
              s._6.isDefined && s._7.isDefined)
          boundaryless.foreach { s =>
            open = open.updated(s._2,
              open.getOrElse(s._2, 0.0) + s._3.getOrElse(0.0))
            touched += s._2
          }
          // the carried sample's bucket on the spec's (possibly shifted)
          // grid — the stitch pairs only within it
          def bucketOf(t: Long): Long =
            Math.floorDiv(t - spec.offsetMs, everyMs) * everyMs +
              spec.offsetMs
          numeric.sortBy(_._4.get).foreach {
            case (_, bucket, area, fnt, fnv, lnt, lnv) =>
              val stitch =
                if (has && bucketOf(lastT) == bucket)
                  (lastV + fnv.get) * (fnt.get - lastT) / 2.0
                else 0.0
              open = open.updated(bucket,
                open.getOrElse(bucket, 0.0) + area.getOrElse(0.0) + stitch)
              touched += bucket
              lastT = lnt.get; lastV = lnv.get; has = true
          }
          val n = st0.n + segs.length
          // string-only-series eviction: as in influxRateStream, a series
          // that has never produced a numeric sample keeps only its
          // greatest open bucket (older buckets are closed by the
          // monotone trigger ranges) — the documented one-sample +
          // O(1)-buckets state bound holds for boundaryless series too
          val openBucket =
            if (has) bucketOf(lastT)
            else if (open.nonEmpty) open.keysIterator.max
            else Long.MinValue
          state.update(InfluxRateState(lastT, lastV, has,
            open.filter { case (b, _) => b >= openBucket }, n))
          touched.iterator.map(b =>
            InfluxIntegralPoint(g, b, open(b), n))
      }
  }

  final case class InfluxTwaPoint(series: String, bucket_start_ms: Long,
                                  covered_ms: Long, twa: Double, n_seen: Long)
  final case class InfluxTwaState(lastTime: Long, lastValue: Double,
                                  hasLast: Boolean,
                                  buckets: Map[Long, (Double, Long)],
                                  n: Long)

  /** STREAMING time-weighted average over the pushed locf_area read — the
    * live Home Assistant long-term-statistics `mean` panel, and the
    * streaming twin of [[graft.sources.InfluxRollupRead.twaMerge]]. Feed
    * it the partial stream of an
    * [[graft.sources.InfluxRollupRead.twaOptions]] spec: each trigger's
    * shards POST per-segment within-window LOCF rectangle areas
    * (locf_area) with their numeric boundary samples, and this fold
    * maintains the exact per-(series, bucket) (value·ms, covered-ms)
    * pair. A segment's within-window piece covers
    * [first_num_time, last_num_time) of its own bucket; the hold the
    * windows miss runs from the CARRIED last sample to the new segment's
    * first (LOCF value = the earlier sample's), possibly spanning whole
    * empty buckets, and splits across the buckets it overlaps — the same
    * algebra twaMerge applies across shards, replayed across triggers
    * because trigger offsets advance monotonically. Buckets strictly
    * before the carried sample's bucket can never grow again (future
    * holds start AT the carried sample, whose bucket only advances) and
    * are evicted AFTER this trigger's emission: state is one sample +
    * O(1) open buckets per series, forever — with the rate/integral
    * twins' string-only-series eviction (keep only the greatest open
    * bucket when no numeric sample exists yet). Null-boundary segments
    * keep their coalesced area with zero coverage and stay out of the
    * chain, mirroring twaMerge. A single hold spanning more than 2^20
    * buckets fails loudly (the twaHourly/twaMerge guard), not by
    * executor OOM. Emissions are a changelog of covered buckets
    * (covered_ms > 0, the batch filter) with twa = Σ value·ms / Σ ms —
    * ONE terminal division per emission; final answer = max n_seen per
    * key, the board convention. */
  def influxTwaStream(partials: DataFrame,
                      spec: graft.sources.InfluxRollupRead.Spec)
      : Dataset[InfluxTwaPoint] = {
    // the full five-slot twaOptions contract: the fold reads the four
    // numeric boundary columns beside locf_area, so a hand-built Spec
    // missing any of them must fail HERE, not as an opaque
    // unresolved-column error inside the select below
    locally {
      import graft.sources.InfluxScan._
      val missing = Seq(AggLocfArea -> "locf_area",
        AggFirstNumTime -> "first_num_time",
        AggFirstNumValue -> "first_num_value",
        AggLastNumTime -> "last_num_time",
        AggLastNumValue -> "last_num_value")
        .collect { case (a, n) if !spec.aggs.exists(_._1 == a) => n }
      require(missing.isEmpty,
        "influxTwaStream: spec must carry the locf_area aggregate AND its " +
          s"four numeric boundary slots (see twaOptions); missing: " +
          missing.mkString(", "))
    }
    import partials.sparkSession.implicits._
    val everyMs = spec.everyMs
    val offsetMs = spec.offsetMs
    val series = concat_ws("\u0001", spec.groupCols.map(c =>
      coalesce(col(graft.sources.InfluxRollupRead.groupColName(c))
        .cast("string"), lit("\u0000"))): _*)
    partials
      .select(series.as("g"), col("bucket_start_ms"), col("locf_area"),
        col("first_num_time"), col("first_num_value"),
        col("last_num_time"), col("last_num_value"))
      .as[(String, Long, Option[Double], Option[Long], Option[Double],
        Option[Long], Option[Double])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[InfluxTwaState, InfluxTwaPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (g: String,
         rows: Iterator[(String, Long, Option[Double], Option[Long],
           Option[Double], Option[Long], Option[Double])],
         state: GroupState[InfluxTwaState]) =>
          val st0 = state.getOption.getOrElse(
            InfluxTwaState(0L, 0.0, hasLast = false, Map.empty, 0L))
          var lastT = st0.lastTime
          var lastV = st0.lastValue
          var has = st0.hasLast
          // ONE map holds the per-bucket (value·ms, covered-ms) pair so
          // the key-sync invariant is structural, not by convention
          var buckets = st0.buckets
          val touched = scala.collection.mutable.LinkedHashSet.empty[Long]
          def bucketOf(t: Long): Long =
            Math.floorDiv(t - offsetMs, everyMs) * everyMs + offsetMs
          def add(b: Long, dn: Double, dc: Long): Unit = {
            val (n0, c0) = buckets.getOrElse(b, (0.0, 0L))
            buckets = buckets.updated(b, (n0 + dn, c0 + dc))
            touched += b
          }
          val segs = rows.toSeq
          // the four-slot numericSeg contract, as in influxRateStream
          val (numeric, boundaryless) = segs.partition(s =>
            s._4.isDefined && s._5.isDefined &&
              s._6.isDefined && s._7.isDefined)
          boundaryless.foreach(s => add(s._2, s._3.getOrElse(0.0), 0L))
          numeric.sortBy(_._4.get).foreach {
            case (_, bucket, area, fnt0, _, lnt, lnv) =>
              val fnt = fnt0.get
              if (has && fnt > lastT) {
                // the cross-segment hold [lastT, fnt) at lastV, split
                // across the buckets it spans (whole empty buckets get
                // their rows here — the batch gapPieces transform)
                val bStart = bucketOf(lastT)
                val bEnd = bucketOf(fnt - 1)
                val holdBuckets = (bEnd - bStart) / everyMs + 1
                if (holdBuckets > (1L << 20))
                  throw new IllegalStateException(
                    s"influxTwaStream: a single LOCF hold spans " +
                      s"$holdBuckets buckets at everyMs=$everyMs (limit " +
                      "2^20) — widen everyMs or pre-split the hold")
                var bb = bStart
                while (bb <= bEnd) {
                  val piece =
                    math.min(fnt, bb + everyMs) - math.max(lastT, bb)
                  add(bb, lastV * piece, piece)
                  bb += everyMs
                }
              }
              add(bucket, area.getOrElse(0.0), lnt.get - fnt)
              lastT = lnt.get; lastV = lnv.get; has = true
          }
          val n = st0.n + segs.length
          val openBucket =
            if (has) bucketOf(lastT)
            else if (buckets.nonEmpty) buckets.keysIterator.max
            else Long.MinValue
          // evict AFTER capturing emission values: `buckets` stays the
          // pre-eviction map, so a bucket closed by this very trigger
          // still emits its final row
          state.update(InfluxTwaState(lastT, lastV, has,
            buckets.filter { case (b, _) => b >= openBucket }, n))
          touched.iterator.filter(b =>
            buckets.get(b).exists(_._2 > 0L)).map { b =>
            val (bn, bc) = buckets(b)
            InfluxTwaPoint(g, b, bc, bn / bc.toDouble, n)
          }
      }
  }

  final case class InfluxStatPoint(series: String, bucket_start_ms: Long,
                                   covered_ms: Long, twa: Option[Double],
                                   min_value: Option[Double],
                                   max_value: Option[Double], n_seen: Long)
  final case class InfluxStatBucket(num: Double, cov: Long,
                                    mn: Option[Double], mx: Option[Double])
  final case class InfluxStatState(lastTime: Long, lastValue: Double,
                                   hasLast: Boolean,
                                   buckets: Map[Long, InfluxStatBucket],
                                   n: Long)

  /** STREAMING Home Assistant long-term-statistics panel — the live twin
    * of [[graft.sources.InfluxRollupRead.statisticsRead]]: per
    * (series, bucket) (covered_ms, twa, min, max) maintained over the
    * [[graft.sources.InfluxRollupRead.statisticsOptions]] partial
    * stream. The mean replays [[influxTwaStream]]'s cross-trigger hold
    * split exactly (the same algebra, the same 2^20 guard, the same
    * O(1)-state eviction); min/max ride each segment's pushed
    * min_value/max_value and fold by plain min/max — exactly associative
    * on doubles, so trigger boundaries cannot move them. A hold-covered
    * EMPTY bucket emits a mean with NULL min/max; a bucket holding only
    * the series' carried LAST sample emits min/max with a NULL mean
    * (zero covered ms) — the batch read's two asymmetries, live.
    * Emissions are a changelog (final answer = max n_seen per key, the
    * board convention); ONE state map keyed by bucket holds all four
    * slots, the structural key-sync posture. */
  def influxStatisticsStream(partials: DataFrame,
                             spec: graft.sources.InfluxRollupRead.Spec)
      : Dataset[InfluxStatPoint] = {
    locally {
      import graft.sources.InfluxScan._
      val missing = Seq(AggLocfArea -> "locf_area",
        AggFirstNumTime -> "first_num_time",
        AggFirstNumValue -> "first_num_value",
        AggLastNumTime -> "last_num_time",
        AggLastNumValue -> "last_num_value",
        AggMinValue -> "min_value",
        AggMaxValue -> "max_value")
        .collect { case (a, n) if !spec.aggs.exists(_._1 == a) => n }
      require(missing.isEmpty,
        "influxStatisticsStream: spec must carry the full statisticsOptions " +
          s"slot set; missing: " + missing.mkString(", "))
    }
    import partials.sparkSession.implicits._
    val everyMs = spec.everyMs
    val offsetMs = spec.offsetMs
    val series = concat_ws("\u0001", spec.groupCols.map(c =>
      coalesce(col(graft.sources.InfluxRollupRead.groupColName(c))
        .cast("string"), lit("\u0000"))): _*)
    partials
      .select(series.as("g"), col("bucket_start_ms"), col("locf_area"),
        col("first_num_time"), col("first_num_value"),
        col("last_num_time"), col("last_num_value"),
        col("min_value"), col("max_value"))
      .as[(String, Long, Option[Double], Option[Long], Option[Double],
        Option[Long], Option[Double], Option[Double], Option[Double])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[InfluxStatState, InfluxStatPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (g: String,
         rows: Iterator[(String, Long, Option[Double], Option[Long],
           Option[Double], Option[Long], Option[Double], Option[Double],
           Option[Double])],
         state: GroupState[InfluxStatState]) =>
          val st0 = state.getOption.getOrElse(
            InfluxStatState(0L, 0.0, hasLast = false, Map.empty, 0L))
          var lastT = st0.lastTime
          var lastV = st0.lastValue
          var has = st0.hasLast
          var buckets = st0.buckets
          val touched = scala.collection.mutable.LinkedHashSet.empty[Long]
          def bucketOf(t: Long): Long =
            Math.floorDiv(t - offsetMs, everyMs) * everyMs + offsetMs
          def addCov(b: Long, dn: Double, dc: Long): Unit = {
            val x = buckets.getOrElse(b, InfluxStatBucket(0.0, 0L, None, None))
            buckets = buckets.updated(b,
              x.copy(num = x.num + dn, cov = x.cov + dc))
            touched += b
          }
          def addMm(b: Long, mn: Option[Double], mx: Option[Double]): Unit =
            if (mn.isDefined || mx.isDefined) {
              val x = buckets.getOrElse(b,
                InfluxStatBucket(0.0, 0L, None, None))
              def m2(a: Option[Double], c: Option[Double],
                     f: (Double, Double) => Double) = (a, c) match {
                case (Some(p), Some(q)) => Some(f(p, q))
                case (p, q) => p.orElse(q)
              }
              buckets = buckets.updated(b, x.copy(
                mn = m2(x.mn, mn, math.min), mx = m2(x.mx, mx, math.max)))
              touched += b
            }
          val segs = rows.toSeq
          val (numeric, boundaryless) = segs.partition(s =>
            s._4.isDefined && s._5.isDefined &&
              s._6.isDefined && s._7.isDefined)
          boundaryless.foreach { s =>
            addCov(s._2, s._3.getOrElse(0.0), 0L); addMm(s._2, s._8, s._9)
          }
          numeric.sortBy(_._4.get).foreach {
            case (_, bucket, area, fnt0, _, lnt, lnv, mn, mx) =>
              val fnt = fnt0.get
              if (has && fnt > lastT) {
                val bStart = bucketOf(lastT)
                val bEnd = bucketOf(fnt - 1)
                val holdBuckets = (bEnd - bStart) / everyMs + 1
                if (holdBuckets > (1L << 20))
                  throw new IllegalStateException(
                    s"influxStatisticsStream: a single LOCF hold spans " +
                      s"$holdBuckets buckets at everyMs=$everyMs (limit " +
                      "2^20) — widen everyMs or pre-split the hold")
                var bb = bStart
                while (bb <= bEnd) {
                  val piece =
                    math.min(fnt, bb + everyMs) - math.max(lastT, bb)
                  addCov(bb, lastV * piece, piece)
                  bb += everyMs
                }
              }
              addCov(bucket, area.getOrElse(0.0), lnt.get - fnt)
              addMm(bucket, mn, mx)
              lastT = lnt.get; lastV = lnv.get; has = true
          }
          val n = st0.n + segs.length
          val openBucket =
            if (has) bucketOf(lastT)
            else if (buckets.nonEmpty) buckets.keysIterator.max
            else Long.MinValue
          state.update(InfluxStatState(lastT, lastV, has,
            buckets.filter { case (b, _) => b >= openBucket }, n))
          touched.iterator.filter { b =>
            buckets.get(b).exists(x =>
              x.cov > 0L || x.mn.isDefined || x.mx.isDefined)
          }.map { b =>
            val x = buckets(b)
            InfluxStatPoint(g, b, x.cov,
              if (x.cov > 0L) Some(x.num / x.cov.toDouble) else None,
              x.mn, x.mx, n)
          }
      }
  }

  final case class InfluxCounterStatPoint(series: String,
                                          bucket_start_ms: Long,
                                          state: Option[Double],
                                          increase: Double,
                                          sum_total: Double, n_seen: Long)
  final case class InfluxCounterBucket(inc: Double, stT: Long, stV: Double,
                                       hasState: Boolean)
  final case class InfluxCounterStatState(lastTime: Long, lastValue: Double,
                                          hasLast: Boolean,
                                          buckets: Map[Long,
                                            InfluxCounterBucket],
                                          cumBase: Double, n: Long)

  /** STREAMING Home Assistant COUNTER long-term-statistics panel — the
    * live twin of
    * [[graft.sources.InfluxRollupRead.counterStatisticsRead]]: per
    * (series, bucket) (state, increase, sum_total) maintained over the
    * [[graft.sources.InfluxRollupRead.counterStatisticsOptions]] partial
    * stream (the rateOptions spec). The increase replays
    * [[influxRateStream]]'s cross-trigger reset-aware stitch exactly;
    * `state` is the bucket's LAST numeric reading (a later segment's
    * last_num_time always wins — segments of one series are disjoint
    * ordered intervals, and trigger ranges advance monotonically);
    * `sum_total` is HA's cumulative `sum` column: closed buckets evicted
    * by the rate family's horizon fold their increase into a single
    * running `cumBase` double (in ascending bucket order — the batch
    * window's association), and each emission adds the still-open
    * buckets at or below its own — so state stays one sample + O(1) open
    * buckets + ONE double per series, forever, while every emission
    * carries the full running total since the start of the stream.
    * Buckets holding only string samples emit their coalesced increase
    * with a NULL state, the rate family's numericSeg contract.
    * Emissions are a changelog (final answer = max n_seen per key): a
    * bucket's total can only change if a new segment touches it, which
    * re-emits it — data landing in LATER buckets cannot move an earlier
    * bucket's cumulative total. */
  def influxCounterStatStream(partials: DataFrame,
                              spec: graft.sources.InfluxRollupRead.Spec)
      : Dataset[InfluxCounterStatPoint] = {
    // the full five-slot rateOptions contract: the fold reads the four
    // numeric boundary columns beside increase, so a hand-built Spec
    // missing any of them must fail HERE, not as an opaque
    // unresolved-column error inside the select below
    locally {
      import graft.sources.InfluxScan._
      val missing = Seq(AggIncrease -> "increase",
        AggFirstNumTime -> "first_num_time",
        AggFirstNumValue -> "first_num_value",
        AggLastNumTime -> "last_num_time",
        AggLastNumValue -> "last_num_value")
        .collect { case (a, n) if !spec.aggs.exists(_._1 == a) => n }
      require(missing.isEmpty,
        "influxCounterStatStream: spec must carry the increase aggregate " +
          "AND its four numeric boundary slots (see " +
          "counterStatisticsOptions); missing: " + missing.mkString(", "))
    }
    import partials.sparkSession.implicits._
    val everyMs = spec.everyMs
    val offsetMs = spec.offsetMs
    val series = concat_ws("\u0001", spec.groupCols.map(c =>
      coalesce(col(graft.sources.InfluxRollupRead.groupColName(c))
        .cast("string"), lit("\u0000"))): _*)
    partials
      .select(series.as("g"), col("bucket_start_ms"), col("increase"),
        col("first_num_time"), col("first_num_value"),
        col("last_num_time"), col("last_num_value"))
      .as[(String, Long, Option[Double], Option[Long], Option[Double],
        Option[Long], Option[Double])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[InfluxCounterStatState,
        InfluxCounterStatPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (g: String,
         rows: Iterator[(String, Long, Option[Double], Option[Long],
           Option[Double], Option[Long], Option[Double])],
         state: GroupState[InfluxCounterStatState]) =>
          val st0 = state.getOption.getOrElse(
            InfluxCounterStatState(0L, 0.0, hasLast = false, Map.empty,
              0.0, 0L))
          var lastT = st0.lastTime
          var lastV = st0.lastValue
          var has = st0.hasLast
          var buckets = st0.buckets
          val cumBase0 = st0.cumBase
          val touched = scala.collection.mutable.LinkedHashSet.empty[Long]
          def addInc(b: Long, d: Double): Unit = {
            val x = buckets.getOrElse(b,
              InfluxCounterBucket(0.0, 0L, 0.0, hasState = false))
            buckets = buckets.updated(b, x.copy(inc = x.inc + d))
            touched += b
          }
          val segs = rows.toSeq
          // the four-slot numericSeg contract, as in influxRateStream
          val (numeric, boundaryless) = segs.partition(s =>
            s._4.isDefined && s._5.isDefined &&
              s._6.isDefined && s._7.isDefined)
          boundaryless.foreach(s => addInc(s._2, s._3.getOrElse(0.0)))
          numeric.sortBy(_._4.get).foreach {
            case (_, bucket, inc, _, fnv, lnt, lnv) =>
              val stitch =
                if (!has) 0.0
                else if (fnv.get >= lastV) fnv.get - lastV
                else fnv.get
              addInc(bucket, inc.getOrElse(0.0) + stitch)
              // the bucket's last reading: later segments carry later
              // last_num_time, so an unconditional-on-ties max keeps the
              // winner deterministic
              val x = buckets(bucket)
              if (!x.hasState || lnt.get >= x.stT)
                buckets = buckets.updated(bucket,
                  x.copy(stT = lnt.get, stV = lnv.get, hasState = true))
              lastT = lnt.get; lastV = lnv.get; has = true
          }
          val n = st0.n + segs.length
          val openBucket =
            if (has)
              Math.floorDiv(lastT - offsetMs, everyMs) * everyMs + offsetMs
            else if (buckets.nonEmpty) buckets.keysIterator.max
            else Long.MinValue
          // closed buckets fold into cumBase in ASCENDING bucket order —
          // the batch cumulative window's association — and are dropped;
          // `buckets`/cumBase0 stay pre-eviction for this emission
          val (closed, kept) = buckets.partition(_._1 < openBucket)
          val cumBase1 = closed.toSeq.sortBy(_._1)
            .foldLeft(cumBase0)((acc, kv) => acc + kv._2.inc)
          state.update(InfluxCounterStatState(lastT, lastV, has, kept,
            cumBase1, n))
          touched.iterator.map { b =>
            val x = buckets(b)
            val sumTo = buckets.toSeq.filter(_._1 <= b).sortBy(_._1)
              .foldLeft(cumBase0)((acc, kv) => acc + kv._2.inc)
            InfluxCounterStatPoint(g, b,
              if (x.hasState) Some(x.stV) else None, x.inc, sumTo, n)
          }
      }
  }

  final case class StatPartialPoint(event_type: String, bucket_ms: Long,
                                    num: Long, cov: Long,
                                    mn: Option[Double], mx: Option[Double],
                                    n_seen: Long)
  final case class StatPartialBucket(num: Long, cov: Long,
                                     mn: Option[Double], mx: Option[Double])
  final case class StatPartialsState(lastMs: Long, lastVm: Long,
                                     hasLast: Boolean,
                                     buckets: Map[Long, StatPartialBucket],
                                     n: Long)

  /** LIVE maintenance of the parquet statistics PARTIALS
    * ([[graft.ext.EventsExt.statisticsPartialsHourly]]) from raw events —
    * the incremental long-term-statistics pipeline WITHOUT a remote
    * source: new events arrive, the per-(series, bucket) (Σ value·ms
    * BIGINT, Σ covered-ms, min, max) row updates, and
    * [[graft.ext.EventsExt.statisticsCompact]] serves any coarse panel
    * off the maintained table without ever re-reading raw samples. Per
    * series the fold carries ONE sample (the open LOCF hold's left end):
    * a later arrival closes the hold [last, new) at the last sample's
    * milli-quantized value, split across the buckets it spans (the batch
    * hold-split verbatim, 2^20 guard); an equal-timestamp arrival folds
    * into the carried sample by max value (the per-(series, ms) dedup);
    * min/max fold every RAW arrival into its own bucket — the batch mm
    * side aggregates pre-dedup rows, and min/max are exactly associative.
    * In-order-per-series arrival contract (the rate/EWMA convention);
    * intra-batch disorder absorbed by the (ms, value desc) sort. Every
    * slot is integer or an exact extreme, so the maintained table is
    * BIT-equal to the batch partials — no tolerance anywhere. Buckets
    * strictly before the carried sample's can never change (holds start
    * AT the carried sample; arrivals land at or after it) and evict
    * after emission: one sample + O(1) open buckets per series,
    * forever. Emissions are a changelog (final answer = max n_seen). */
  def statisticsPartialsStream(events: DataFrame,
                               stepMs: Long = 3600000L)
      : Dataset[StatPartialPoint] = {
    require(stepMs > 0,
      s"statisticsPartialsStream: stepMs must be positive, got $stepMs")
    import events.sparkSession.implicits._
    events
      // NULL-valued rows carry no sample (batch min/max skip them; the
      // LOCF chain is defined over values) — filter before the non-Option
      // decode instead of crashing the task
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        unix_millis(date_trunc("MILLISECOND", col("ts"))).as("ms"),
        floor(col("value") * 1000).cast("long").as("vm"),
        col("value"))
      .as[(String, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[StatPartialsState, StatPartialPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (g: String, rows: Iterator[(String, Long, Long, Double)],
         state: GroupState[StatPartialsState]) =>
          val st0 = state.getOption.getOrElse(
            StatPartialsState(0L, 0L, hasLast = false, Map.empty, 0L))
          var lastMs = st0.lastMs
          var lastVm = st0.lastVm
          var has = st0.hasLast
          var buckets = st0.buckets
          val touched = scala.collection.mutable.LinkedHashSet.empty[Long]
          def bucketOf(t: Long): Long = Math.floorDiv(t, stepMs) * stepMs
          def get(b: Long): StatPartialBucket =
            buckets.getOrElse(b, StatPartialBucket(0L, 0L, None, None))
          // sort by (ms, vm desc): the per-(series, ms) max-value dedup
          // sees its winner first, duplicates fold in by max either way
          // (explicit reverse ordering — negation would overflow at
          // Long.MinValue)
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))(
            Ordering.Tuple2(Ordering.Long, Ordering.Long.reverse))
          var count = 0L
          sorted.foreach { case (_, ms, vm, raw) =>
            count += 1
            // min/max fold EVERY raw arrival (the batch mm side is
            // pre-dedup) into the arrival's own bucket
            val mb = bucketOf(ms)
            val x0 = get(mb)
            def m2(a: Option[Double], f: (Double, Double) => Double) =
              a.map(f(_, raw)).orElse(Some(raw))
            buckets = buckets.updated(mb,
              x0.copy(mn = m2(x0.mn, math.min), mx = m2(x0.mx, math.max)))
            touched += mb
            if (!has) { lastMs = ms; lastVm = vm; has = true }
            else if (ms == lastMs) { lastVm = math.max(lastVm, vm) }
            else if (ms > lastMs) {
              val bStart = bucketOf(lastMs)
              val bEnd = bucketOf(ms - 1)
              val holdBuckets = (bEnd - bStart) / stepMs + 1
              if (holdBuckets > (1L << 20))
                throw new IllegalStateException(
                  s"statisticsPartialsStream: a single LOCF hold spans " +
                    s"$holdBuckets buckets at stepMs=$stepMs (limit 2^20) " +
                    "— widen stepMs or pre-split the hold")
              var bb = bStart
              while (bb <= bEnd) {
                val piece = math.min(ms, bb + stepMs) - math.max(lastMs, bb)
                val x = get(bb)
                buckets = buckets.updated(bb,
                  x.copy(num = x.num + lastVm * piece, cov = x.cov + piece))
                touched += bb
                bb += stepMs
              }
              lastMs = ms; lastVm = vm
            }
            // ms < lastMs: cross-batch disorder — excluded by the
            // in-order arrival contract this family shares
          }
          val n = st0.n + count
          val openBucket =
            if (has) bucketOf(lastMs)
            else if (buckets.nonEmpty) buckets.keysIterator.max
            else Long.MinValue
          state.update(StatPartialsState(lastMs, lastVm, has,
            buckets.filter { case (b, _) => b >= openBucket }, n))
          touched.iterator.map { b =>
            val x = buckets(b)
            StatPartialPoint(g, b, x.num, x.cov, x.mn, x.mx, n)
          }
      }
  }

  final case class CounterStatsPoint(user_id: Long, bucket_start_ms: Long,
                                     state: Double, increase: Double,
                                     sum_total: Double, n_seen: Long)
  final case class CounterStatsBucket(incC: Long, stMs: Long, stVc: Long)
  final case class CounterStatsState(lastMs: Long, lastVc: Long,
                                     hasLast: Boolean,
                                     prevVc: Long, hasPrev: Boolean,
                                     buckets: Map[Long, CounterStatsBucket],
                                     cumBaseC: Long, n: Long)

  /** LIVE counter statistics from RAW events — the parquet twin of
    * [[influxCounterStatStream]] and the streaming half of
    * [[graft.ext.EventsExt.counterStatsHourly]]: per (series, bucket)
    * (state = last reading, reset-aware increase, cumulative sum_total)
    * maintained without a remote source. All arithmetic runs in integer
    * CENTS — values quantize through Spark's own
    * `cast(DECIMAL(18,2)) * 100 → long` in the plan, so the fold is
    * bit-equal to the batch operator's DECIMAL algebra (integer sums,
    * three terminal /100.0 renders — the same doubles the batch casts
    * produce). Per series the state is one carried sample, O(1) open
    * bucket slots and ONE running cumBase long: equal-timestamp
    * arrivals dedup by max value — a winner arriving in a LATER trigger
    * replaces the delta its ms already folded (the batch chain dedups
    * BEFORE the lag, so only the winner's delta exists; the carried
    * predecessor value makes the adjustment exact) — a later arrival
    * adds the PromQL reset-aware delta to ITS OWN bucket (the lag()
    * convention), and closed buckets fold their increase into cumBase
    * and evict after emission.
    * In-order-per-series arrival contract; intra-batch disorder
    * absorbed by the (ms, cents desc) sort. Changelog emissions (final
    * answer = max n_seen) — a bucket's totals can only change if a new
    * arrival touches it, which re-emits it. */
  def counterStatsStream(events: DataFrame,
                         everyMs: Long = 3600000L)
      : Dataset[CounterStatsPoint] = {
    require(everyMs > 0,
      s"counterStatsStream: everyMs must be positive, got $everyMs")
    import events.sparkSession.implicits._
    events
      // NULL-valued rows carry no reading — filter before the non-Option
      // decode, the statisticsPartialsStream posture
      .filter(col("value").isNotNull)
      .select(col("user_id"),
        unix_millis(date_trunc("MILLISECOND", col("ts"))).as("ms"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) *
          100).cast("long").as("vc"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CounterStatsState, CounterStatsPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (g: Long, rows: Iterator[(Long, Long, Long)],
         state: GroupState[CounterStatsState]) =>
          val st0 = state.getOption.getOrElse(
            CounterStatsState(0L, 0L, hasLast = false, 0L, hasPrev = false,
              Map.empty, 0L, 0L))
          var lastMs = st0.lastMs
          var lastVc = st0.lastVc
          var has = st0.hasLast
          var prevVc = st0.prevVc
          var hasPrev = st0.hasPrev
          var buckets = st0.buckets
          val cumBase0 = st0.cumBaseC
          val touched = scala.collection.mutable.LinkedHashSet.empty[Long]
          def bucketOf(t: Long): Long = Math.floorDiv(t, everyMs) * everyMs
          def deltaFromPrev(vc: Long): Long =
            if (!hasPrev) 0L
            else if (vc >= prevVc) vc - prevVc
            else vc
          def fold(b: Long, dInc: Long, ms: Long, vc: Long): Unit = {
            val x = buckets.getOrElse(b,
              CounterStatsBucket(0L, Long.MinValue, 0L))
            val wins = ms > x.stMs || (ms == x.stMs && vc > x.stVc)
            buckets = buckets.updated(b, CounterStatsBucket(
              x.incC + dInc,
              if (wins) ms else x.stMs, if (wins) vc else x.stVc))
            touched += b
          }
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))(
            Ordering.Tuple2(Ordering.Long, Ordering.Long.reverse))
          var count = 0L
          sorted.foreach { case (_, ms, vc) =>
            count += 1
            if (!has) {
              fold(bucketOf(ms), 0L, ms, vc)
              lastMs = ms; lastVc = vc; has = true
            } else if (ms == lastMs) {
              // per-(series, ms) dedup by max value: a winning duplicate
              // REPLACES the carried sample — including, when it arrives
              // in a later trigger, the delta its ms already folded (the
              // batch chain dedups BEFORE the lag, so only the winner's
              // delta exists); the carried predecessor value makes the
              // adjustment exact
              if (vc > lastVc) {
                fold(bucketOf(ms), deltaFromPrev(vc) - deltaFromPrev(lastVc),
                  ms, vc)
                lastVc = vc
              }
            } else if (ms > lastMs) {
              prevVc = lastVc; hasPrev = true
              fold(bucketOf(ms), deltaFromPrev(vc), ms, vc)
              lastMs = ms; lastVc = vc
            }
            // ms < lastMs: cross-batch disorder — excluded by the
            // in-order arrival contract this family shares
          }
          val n = st0.n + count
          val openBucket =
            if (has) bucketOf(lastMs)
            else if (buckets.nonEmpty) buckets.keysIterator.max
            else Long.MinValue
          val (closed, kept) = buckets.partition(_._1 < openBucket)
          val cumBase1 = closed.valuesIterator.map(_.incC).sum + cumBase0
          state.update(CounterStatsState(lastMs, lastVc, has,
            prevVc, hasPrev, kept, cumBase1, n))
          touched.iterator.map { b =>
            val x = buckets(b)
            val sumC = cumBase0 +
              buckets.iterator.filter(_._1 <= b).map(_._2.incC).sum
            CounterStatsPoint(g, b, x.stVc / 100.0, x.incC / 100.0,
              sumC / 100.0, n)
          }
      }
  }

  final case class RatePoint(user_id: Long, event_id: Long, ms: Long,
                             increase: Double, rate_per_sec: Double)
  final case class RateState(ms: Long, v: Double)

  /** Streaming twin of [[graft.ext.EventsExt.counterRate]]: the per-user
    * reset-aware rate carried across micro-batches. State is ONE
    * (last_ms, last_value) pair per user forever — the rate of each
    * sample depends only on its immediate predecessor, so the batch
    * lag() fold equals the stream's pairwise fold under the same
    * in-order arrival contract as [[ewmaStream]] (rows re-sorted by
    * (ms, event_id) within a micro-batch). An equal-timestamp successor
    * emits nothing — Δt = 0 has no rate — but still ADVANCES the state,
    * exactly like lag() over the (ms, event_id) total order; the
    * arithmetic is the identical IEEE op sequence, so stream rows are
    * bit-equal to the batch operator's. */
  def rateStream(events: DataFrame): Dataset[RatePoint] = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id"), col("event_id"), col("value"),
        unix_millis(date_trunc("MILLISECOND", col("ts"))).as("ms"))
      .as[(Long, Long, Double, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[RateState, RatePoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Double, Long)],
         state: GroupState[RateState]) =>
          var st = state.getOption.orNull
          val out = Seq.newBuilder[RatePoint]
          rows.toSeq.sortBy(r => (r._4, r._2)).foreach { case (_, eid, v, ms) =>
            if (st != null && ms > st.ms) {
              val inc = if (v >= st.v) v - st.v else v
              out += RatePoint(uid, eid, ms, inc,
                inc / ((ms - st.ms) / 1000.0))
            }
            st = RateState(ms, v)
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class StateInterval(user_id: Long, day_ms: Long,
                                 event_type: String, dur_ms: Long)
  final case class LastState(ms: Long, day_ms: Long, event_type: String)

  /** Streaming twin of [[graft.ext.EventsExt.stateDurations]]'s interval
    * construction — the real-time "how long has each state held" feed: a
    * user's NEXT sample closes the interval their previous sample opened
    * (LOCF state semantics), and the closed interval is emitted with its
    * start-day attribution the moment it closes. State is ONE sample per
    * user forever (the open interval — the only thing the batch lead()
    * can see that the stream cannot). In-order arrival per user across
    * batches is the contract (the rate/EWMA convention; intra-batch
    * disorder is absorbed by the (ms, event_id) sort), under which the
    * emitted intervals are EXACTLY the batch operator's lead() pairs —
    * integer arithmetic, so downstream (day, state) rollups are
    * bit-equal, zero-length equal-timestamp intervals included. The
    * still-open last sample is simply not yet emitted, exactly the batch
    * exclusion. */
  def stateDurationsStream(events: DataFrame): Dataset[StateInterval] = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(date_trunc("MILLISECOND", col("ts"))).as("ms"),
        unix_millis(date_trunc("DAY", col("ts"))).as("day_ms"))
      .as[(Long, Long, String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[LastState, StateInterval](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, String, Long, Long)],
         state: GroupState[LastState]) =>
          var st = state.getOption.orNull
          val out = Seq.newBuilder[StateInterval]
          rows.toSeq.sortBy(r => (r._4, r._2)).foreach {
            case (_, _, et, ms, dms) =>
              if (st != null)
                out += StateInterval(uid, st.day_ms, st.event_type,
                  ms - st.ms)
              st = LastState(ms, dms, et)
          }
          if (st != null) state.update(st)
          out.result().iterator
      }
  }

  final case class BandAlert(event_id: Long, event_type: String,
                             bucket_ms: Long, value: Double, breach: String)
  final case class BandBucketMoments(svm: Long, s2vm: String, cnt: Long)
  final case class BandState(openBucket: Long,
                             moments: Map[Long, BandBucketMoments],
                             buffer: Seq[(Long, Double)])

  /** Streaming band-excursion alerts — the LIVE half of
    * [[graft.ext.EventsExt.bandExcursions]]: every event outside its
    * (type, bucket)'s trailing Bollinger band, emitted the moment the
    * bucket CLOSES (a later-bucket event of the same type arrives — the
    * point at which the band is final, since the trailing frame only
    * looks backward). The per-(type, bucket) raw moments (Σvm BIGINT,
    * Σvm² exact — the same milli-quantized integers the batch panel
    * sums, so trailing-frame re-sums are association-free) accumulate in
    * flatMapGroupsWithState state together with the OPEN bucket's event
    * buffer; on close, the band finishes with the batch panel's exact
    * IEEE op sequence (mid = Σvm/(n·1000), σ via the raw-moment identity,
    * ±k·σ), so alert rows are bit-equal to the batch operator's on every
    * closed bucket. State per type: ≤ `lookback` moment entries (older
    * buckets evict — the trailing frame can never reach them again) plus
    * one open-bucket buffer, bounded by arrival rate × bucket width —
    * the same bound any stream-stream interval join carries. In-order
    * arrival per type across batches is the contract (the rate/EWMA
    * convention; intra-batch disorder absorbed by the (ms, event_id)
    * sort). Windows with < 2 samples have NULL bands and never alert;
    * the still-open last bucket per type is simply not yet emitted,
    * exactly the batch restriction to closed windows. NULL values join
    * nothing in batch (NULL comparisons never alert) and are skipped
    * here. */
  def bandExcursionsStream(events: DataFrame, stepMs: Long = 3600000L,
                           lookback: Int = 24, k: Double = 2.0)
      : Dataset[BandAlert] = {
    require(lookback >= 1,
      s"bandExcursionsStream: lookback must be ≥ 1, got $lookback")
    import events.sparkSession.implicits._
    events
      .filter(col("value").isNotNull) // batch: NULL never counts nor alerts
      .select(col("event_type"), col("event_id"), col("value"),
        unix_millis(col("ts")).as("ms"))
      .as[(String, Long, Double, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[BandState, BandAlert](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (tpe: String, rows: Iterator[(String, Long, Double, Long)],
         state: GroupState[BandState]) =>
          val st0 = state.getOption.getOrElse(
            BandState(Long.MinValue, Map.empty, Seq.empty))
          var open = st0.openBucket
          var moments = st0.moments
          var buffer = st0.buffer.toVector
          val out = Seq.newBuilder[BandAlert]
          // close `open`: finish its trailing band exactly like the batch
          // panel and emit the buffered events that breach it
          def flush(): Unit = {
            val lo = open - (lookback - 1L) * stepMs
            val inFrame = moments.view
              .filter { case (b, _) => b >= lo && b <= open }.values.toSeq
            val n = inFrame.map(_.cnt).sum
            if (n >= 2L) {
              val s = inFrame.map(_.svm).sum
              val s2 = inFrame.map(m => BigInt(m.s2vm)).sum
              val sD = s.toDouble
              val nD = n.toDouble
              val s2D = BigDecimal(s2).doubleValue
              val mid = sD / (nD * 1000.0)
              val sigma =
                math.sqrt((s2D - sD * sD / nD) / (n - 1L).toDouble) / 1000.0
              val upper = mid + k * sigma
              val lower = mid - k * sigma
              buffer.foreach { case (eid, v) =>
                if (v > upper)
                  out += BandAlert(eid, tpe, open, v, "above")
                else if (v < lower)
                  out += BandAlert(eid, tpe, open, v, "below")
              }
            }
            buffer = Vector.empty
          }
          rows.toSeq.sortBy(r => (r._4, r._2)).foreach {
            case (_, eid, v, ms) =>
              val b = ms - Math.floorMod(ms, stepMs)
              if (open != Long.MinValue && b > open) {
                flush()
                // the trailing frame of any future bucket ≥ b starts at
                // b-(lookback-1)·step — older moments can never be read
                moments = moments.filter {
                  case (mb, _) => mb >= b - (lookback - 1L) * stepMs }
              }
              if (open == Long.MinValue || b > open) open = b
              val vm = math.floor(v * 1000).toLong
              val m0 = moments.getOrElse(b, BandBucketMoments(0L, "0", 0L))
              moments = moments.updated(b, BandBucketMoments(
                m0.svm + vm,
                (BigInt(m0.s2vm) + BigInt(vm) * BigInt(vm)).toString,
                m0.cnt + 1L))
              buffer = buffer :+ ((eid, v))
          }
          state.update(BandState(open, moments, buffer))
          out.result().iterator
      }
  }

  final case class FunnelProgress(user_id: Long, stage: Int, step: String,
                                  ms: Long)
  final case class FunnelState(times: Seq[Long])

  /** Streaming funnel — the real-time half of
    * [[graft.ext.EventsExt.funnel]]: each user advances through the step
    * sequence, a stage counting only when its event lands STRICTLY after
    * the previous stage's time (the batch `ms > s` contract). Under
    * in-order-per-user arrival (the rate/EWMA convention; intra-batch
    * disorder absorbed by the (ms, event_id) sort) the greedy in-time
    * fold IS the batch min-chain: the first step-k event after t_{k−1}
    * is exactly `min(ms of step-k > t_{k−1})`, inductively per stage —
    * so final per-stage survivor counts are integer-exact equal to the
    * batch operator. State is at most one timestamp per STAGE per user
    * (≤ |steps| longs, forever); each stage advance emits one
    * FunnelProgress row the moment it happens — the live conversion
    * dashboard the batch query can only backfill. */
  def funnelStream(events: DataFrame,
                   steps: Seq[String] = Seq("view", "click", "purchase"))
      : Dataset[FunnelProgress] = {
    require(steps.nonEmpty, "funnelStream needs at least one step")
    import events.sparkSession.implicits._
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelProgress](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, String, Long)],
         state: GroupState[FunnelState]) =>
          var ts = state.getOption.map(_.times.toVector)
            .getOrElse(Vector.empty[Long])
          val out = Seq.newBuilder[FunnelProgress]
          rows.toSeq.sortBy(r => (r._4, r._2)).foreach { case (_, _, et, ms) =>
            val k = ts.length
            if (k < steps.length && et == steps(k) &&
              (ts.isEmpty || ms > ts.last)) {
              ts = ts :+ ms
              out += FunnelProgress(uid, ts.length,
                steps.take(ts.length).mkString(">"), ms)
            }
          }
          state.update(FunnelState(ts))
          out.result().iterator
      }
  }

  final case class EwmaLevel(user_id: Long, n_events: Long, ewma_milli: Long)
  final case class EwmaState(n: Long, level: Long)

  /** Streaming twin of [[graft.ext.EventsExt.ewmaLevel]]: the per-user
    * α=1/2 integer smoothing recursion carried across micro-batches in
    * flatMapGroupsWithState. State is TWO numbers per user forever (count
    * + current milli-level) — no history buffer, because the EWMA fold is
    * associative-with-state: the batch fold over (sorted) history equals
    * the stream's per-event fold as long as arrival order is event-time
    * order per user (the same in-order contract as [[anomaliesStream]];
    * rows within a micro-batch are re-sorted by (ms, event_id) so
    * intra-batch disorder is absorbed). Each batch emits the user's
    * updated level — a changelog whose LAST row per user is bit-identical
    * to the batch operator on the same rows: integer arithmetic, so the
    * equivalence is exact, not approximate. */
  def ewmaStream(events: DataFrame): Dataset[EwmaLevel] = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id"), col("event_id"),
        floor(col("value") * 1000).cast("long").as("vm"),
        unix_millis(col("ts")).as("ms"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[EwmaState, EwmaLevel](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Long, Long)],
         state: GroupState[EwmaState]) =>
          var st = state.getOption.getOrElse(EwmaState(0L, 0L))
          rows.toSeq.sortBy(r => (r._4, r._2)).foreach { case (_, _, vm, _) =>
            // positive milli-values: Scala's truncating / ≡ Spark's div
            st = if (st.n == 0L) EwmaState(1L, vm)
            else EwmaState(st.n + 1, (st.level + vm) / 2)
          }
          state.update(st)
          Iterator.single(EwmaLevel(uid, st.n, st.level))
      }
  }

  final case class AnomalyAlert(user_id: Long, event_id: Long, z: Double)
  /** Welford running moments: mean + M2 (sum of squared deviations).
    * Numerically stable where a raw Σv² accumulator loses the variance to
    * cancellation (values around a large offset with small spread — e.g. a
    * cumulative counter — exhaust double's 16 significant digits). */
  final case class RunStats(n: Long, mean: Double, m2: Double)

  /** Streaming anomaly detection — the stateful counterpart of
    * [[graft.ext.EventsExt.valueAnomalies]]: each event is scored against
    * its user's running mean/std at ARRIVAL (events are ordered by
    * (ms, event_id) within a micro-batch for determinism, but an event
    * arriving in a later batch scores against everything already folded —
    * an online detector's semantics; it does NOT re-sort history for late
    * data). Constant state per user — Welford's (n, mean, M2) — forever;
    * no watermark needed because nothing evicts by time. A user's first
    * events (n < 2, or zero variance so far) never alert, like the batch
    * op's zero-variance filter. The spec asserts equivalence against a
    * sequential arrival-order reference model, including late arrivals. */
  def anomaliesStream(events: DataFrame, sigmas: Double = 3.0): Dataset[AnomalyAlert] = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id"), col("event_id"), col("value"),
        unix_millis(col("ts")).as("ms"))
      .as[(Long, Long, Double, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[RunStats, AnomalyAlert](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Double, Long)],
         state: GroupState[RunStats]) =>
          var st = state.getOption.getOrElse(RunStats(0L, 0.0, 0.0))
          val out = Seq.newBuilder[AnomalyAlert]
          rows.toSeq.sortBy(r => (r._4, r._2)).foreach { case (_, id, v, _) =>
            if (st.n >= 2) {
              val variance = st.m2 / st.n
              if (variance > 0) {
                val z = (v - st.mean) / math.sqrt(variance)
                if (math.abs(z) >= sigmas) out += AnomalyAlert(uid, id, z)
              }
            }
            val n1 = st.n + 1
            val d = v - st.mean
            val mean1 = st.mean + d / n1
            st = RunStats(n1, mean1, st.m2 + d * (v - mean1))
          }
          state.update(st)
          out.result().iterator
      }
  }
}
