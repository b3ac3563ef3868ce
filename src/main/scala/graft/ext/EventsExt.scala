package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** X5/X6 over the `events` fixture: semi-structured JSON props and
  * event-time aggregation — the batch shapes whose streaming twins live in
  * graft.streaming.
  *
  * Money-typed sums go through DECIMAL(18,2) for exact (associativity-free)
  * arithmetic, then cast back to double — matches the DuckDB oracle
  * bit-for-bit regardless of partition/summation order.
  */
object EventsExt {

  /** X5: extract props.k (JSON string column, e.g. '{"k": 87}'). */
  def jsonProps(events: DataFrame): DataFrame =
    events.select(col("event_id"),
      get_json_object(col("props"), "$.k").cast("int").as("k"))

  /** X6 (batch): tumbling 1-hour event-time windows per event_type. The
    * window start is emitted as an epoch-ms BIGINT (exact in both engines;
    * a timestamp column would compare at different physical precisions). */
  def hourlyWindows(events: DataFrame): DataFrame =
    events.groupBy(
        unix_millis(date_trunc("HOUR", col("ts"))).as("hour_ms"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))

  /** Hourly dispersion panel — the raw-moment variance/stddev rollup
    * (the parquet twin of the pushed Influx read's
    * [[graft.sources.InfluxRollupRead.stddevPanel]] algebra): per hour,
    * n + Σv + Σv² accumulate as DECIMAL (order-free, exact cross-engine),
    * then ONE fixed IEEE op sequence finishes var_samp = (Σv² − (Σv)²/n)
    * / (n−1) and its sqrt. n < 2 → NULL (no sample variance of a
    * singleton). Raw moments, NOT Welford: the three partials merge
    * across shards/buckets by plain addition — the property that lets
    * the same panel push server-side and maintain across stream
    * triggers. One partial-aggregated exchange, width = hours. */
  def stddevHourly(events: DataFrame): DataFrame = {
    val v = col("value").cast(DecimalType(18, 2))
    events
      .groupBy(unix_millis(date_trunc("HOUR", col("ts"))).as("hour_ms"))
      .agg(count(col("value")).as("n"),
        sum(v).as("sdec"), sum(v * v).as("s2dec"))
      .select(col("hour_ms"), col("n"),
        when(col("n") < 2, lit(null).cast("double")).otherwise(
          (col("s2dec").cast("double") -
            col("sdec").cast("double") * col("sdec").cast("double") /
              col("n").cast("double")) /
            (col("n") - 1).cast("double")).as("var_samp"),
        when(col("n") < 2, lit(null).cast("double")).otherwise(sqrt(
          (col("s2dec").cast("double") -
            col("sdec").cast("double") * col("sdec").cast("double") /
              col("n").cast("double")) /
            (col("n") - 1).cast("double"))).as("stddev_samp"))
  }

  /** Sessionization: a new session starts after a gap > `gapMinutes` of
    * inactivity per user. Classic lag + cumulative-sum-of-flags — shuffles
    * once on user_id; both window frames AND the final groupBy reuse the
    * same partitioning (asserted single-Exchange in EventsExtSpec).
    *
    * Skew posture: a user's whole timeline does serialize into one task —
    * unavoidable for gap-based boundaries, which are a sequential scan of
    * that timeline — but per-user cardinality is bounded by event RATE, not
    * corpus size (10× the corpus is ~10× the users, not 10× the events per
    * user), so the per-task sort stays flat as data grows; that is why the
    * sf0.01→sf0.1 scaling row grows sub-linearly (3.9× at 10× data, fixed
    * overhead dominating) rather than collapsing onto one reducer. A
    * genuinely pathological key (one bot user = half the corpus) is a
    * data-quality problem to filter upstream, not a partitioning to salt:
    * salting would split the timeline mid-gap and change the answer. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    // order on the ms-truncated epoch (+ event_id tie-break) so the oracle,
    // which only sees ms precision, sorts identically
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ms").asc, col("event_id").asc)
    val gapMs = gapMinutes * 60000L
    val withFlag = events
      .withColumn("ms", unix_millis(date_trunc("MILLISECOND", col("ts"))))
      .withColumn("prev_ms", lag(col("ms"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > gapMs, 1)
          .otherwise(0))
    withFlag
      .withColumn("session_idx", sum(col("new_session"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ms")).as("session_start_ms"),
        max(col("ms")).as("session_end_ms"))
  }

  /** As-of join via the custom physical operator
    * ([[graft.plans.AsofJoinExec]]): same semantics as [[asofJoin]], but
    * planned as a co-partitioned per-side sort + single-pass merge instead
    * of a union + window over the combined stream. Key and time columns
    * must be LongType on both sides. The right side gets fresh aliases
    * internally (left and right usually derive from the same scan —
    * duplicate ExprIds across the two children would corrupt binding). */
  def asofJoinExec(left: DataFrame, right: DataFrame, key: String,
                   timeCol: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val sfx = "__graft_asof_r"
    // the output strips the internal suffix from right value columns, so a
    // right value column named like any left column would emit duplicate
    // output names — same precondition the composed asofJoin documents
    val rightValueNames =
      right.columns.filterNot(c => c == key || c == timeCol).toSet
    val collisions = rightValueNames.intersect(left.columns.toSet)
    require(collisions.isEmpty,
      s"asofJoinExec: right value column(s) ${collisions.mkString(", ")} " +
        "collide with left column names; rename before joining")
    val rAliased = right.select(
      right.columns.toSeq.map(c => col(c).as(c + sfx)): _*)
    val lp = left.queryExecution.analyzed
    val rp = rAliased.queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             n: String) = p.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"column $n not found"))
    val (lk, lt) = (attr(lp, key), attr(lp, timeCol))
    val (rk, rt) = (attr(rp, key + sfx), attr(rp, timeCol + sfx))
    require(Seq(lk, lt, rk, rt).forall(_.dataType == LongType),
      s"asofJoinExec requires LongType key/time columns")
    val out = org.apache.spark.sql.GraftColumnBridge.ofRows(
      left.sparkSession, graft.plans.AsofJoinPlan(lp, rp, lk, rk, lt, rt))
    val keep = out.columns.toSeq
      .filterNot(c => c == key + sfx || c == timeCol + sfx)
    out.select(keep.map(c =>
      if (c.endsWith(sfx)) col(c).as(c.dropRight(sfx.length)) else col(c)): _*)
  }

  /** As-of join: for each left row, fill in the single most recent right
    * row (right.time <= left.time) per key. Spark has no native as-of join;
    * this composes it as tagged union + partitioned last_value(ignoreNulls)
    * — ONE shuffle on the key, no intermediate row explosion (a range join
    * + dedup would inflate to every qualifying pair first, which at
    * time-series scale is quadratic in events-per-key).
    *
    * `right` must have exactly (key, timeCol, value columns); value column
    * names must not collide with left's. Right rows at the same timestamp
    * as a left row DO match (>= semantics, like DuckDB/kdb asof).
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               timeCol: String): DataFrame = {
    val valueCols = right.columns.filterNot(c => c == key || c == timeCol).toSeq
    val src = "__graft_asof_src"
    val lTagged = valueCols.foldLeft(left.withColumn(src, lit(1))) { (df, c) =>
      df.withColumn(c, lit(null).cast(right.schema(c).dataType))
    }
    val leftOnly = left.columns.filterNot(c => c == key || c == timeCol).toSeq
    val rTagged = leftOnly.foldLeft(right.withColumn(src, lit(0))) { (df, c) =>
      df.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }
    // right sorts before left at equal time → inclusive (>=) match
    val w = Window.partitionBy(col(key))
      .orderBy(col(timeCol).asc, col(src).asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val filled = valueCols.foldLeft(lTagged.unionByName(rTagged)) { (df, c) =>
      df.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
    filled.filter(col(src) === 1).drop(src)
  }

  /** LOCF panel fill over GRID-ALIGNED bucket rows — the shared algebra
    * behind [[resampleLocf]]'s pushed sibling
    * ([[graft.sources.InfluxRollupRead.locfPanel]]) and the parquet
    * `events_locf_panel` query: input is one row per (keys...,
    * bucket_start_ms) carrying the bucket's newest observation
    * (`valueCol`, its timestamp `timeCol`); output is the dense per-key
    * tick grid where tick t = bucket_start + everyMs reports the
    * observation current at time t (the newest sample strictly before t,
    * since a sample AT t lives in the bucket STARTING at t).
    *
    * SINGLE-PASS: each bucket row explodes exactly the ticks its
    * observation covers — from its own tick (bucket + everyMs) through
    * the tick before the next occupied bucket's (lead() over the key
    * partition) — so the (value, last_seen) pair rides the row and is
    * atomic BY CONSTRUCTION (a bucket whose newest sample has a NULL
    * value — the Influx ladder's string-typed samples — carries that
    * NULL with its timestamp, never an older numeric value under a
    * newer time). One shuffle (the lead window on the keys), a map-side
    * explode, and the input is read ONCE — a union-plus-carry shape
    * would read `buckets` twice (grid bounds + observations), which on
    * the pushed Influx path would re-POST every shard's rollup to the
    * server. Ticks before a key's first occupied bucket are not emitted
    * (same posture as [[resampleLocf]]). `stopMs` EXTENDS the final
    * bucket's span to the greatest grid tick ≤ stop (the "current value
    * per sensor now" dashboard row, stale values carried); it never
    * trims below the key's own last occupied tick. Precondition:
    * (keys, bucket_start_ms) rows are unique — both callers aggregate
    * first. */
  def locfFill(buckets: DataFrame, keys: Seq[String], everyMs: Long,
               valueCol: String = "last_value",
               timeCol: String = "max_time_ms",
               stopMs: Option[Long] = None): DataFrame = {
    require(everyMs > 0, s"locfFill: everyMs must be positive, got $everyMs")
    val kcols = keys.map(col)
    val w = Window.partitionBy(kcols: _*).orderBy(col("bucket_start_ms").asc)
    val nextBucket = lead(col("bucket_start_ms"), 1).over(w)
    val firstTick = col("bucket_start_ms") + lit(everyMs)
    // ticks live on the bucket grid (≡ bucket_start_ms mod everyMs,
    // offset-agnostic): the final bucket's stop tick is the greatest
    // grid point ≤ stopMs, integer-exact via pmod, clamped to never
    // trim below the bucket's own tick; a mid-series bucket covers
    // through the NEXT bucket's start (whose own tick takes over)
    val lastTick = coalesce(nextBucket, stopMs.map(s =>
      greatest(firstTick,
        lit(s) - pmod(lit(s) - col("bucket_start_ms"), lit(everyMs))))
      .getOrElse(firstTick))
    buckets
      .withColumn("_last_tick", lastTick)
      .select(kcols ++ Seq(
        explode(sequence(firstTick, col("_last_tick"), lit(everyMs)))
          .as("tick_ms"),
        col(valueCol).as("locf_value"),
        col(timeCol).as("last_seen_ms")): _*)
  }

  /** Banded (bucketed) range join: for every `leftType` event, count
    * `rightType` events by the same user within ±`windowMs`. Spark has no
    * native range-join optimization — a naive |Δt| ≤ W predicate next to
    * the user_id equi-key still fans out to every same-user pair before
    * filtering. Instead both sides are bucketed into W-wide time bins:
    * each right row lands in ONE bin, each left row probes its bin ±1, so
    * the join is a plain equi-join on (user_id, bin) whose fan-out is
    * bounded by events-per-user-per-window, not events-per-user — the
    * standard interval-join strategy (Flink's interval join, DuckDB's IEJoin
    * do the same bounding internally). A (left, right) pair can only meet
    * in the right row's single bin, so no post-join dedup is needed. */
  def bandedRangeCount(events: DataFrame, leftType: String, rightType: String,
                       windowMs: Long): DataFrame = {
    val t = unix_millis(col("ts"))
    val bin = (t / windowMs).cast("long")
    val left = events.filter(col("event_type") === leftType)
      .select(col("event_id"), col("user_id"), t.as("lt"),
        explode(array(bin - 1, bin, bin + 1)).as("bin"))
    val right = events.filter(col("event_type") === rightType)
      .select(col("user_id"), t.as("rt"), bin.as("bin"))
    left.join(right, Seq("user_id", "bin"))
      .filter(abs(col("rt") - col("lt")) <= windowMs)
      .groupBy(col("event_id"), col("user_id"))
      .agg(count(lit(1)).as("n_near"))
  }

  /** Trailing 3-row moving average of value per user (window frame agg).
    * The frame sum goes through DECIMAL so partial order never matters;
    * ONE shuffle on user_id, frames reuse the partitioning. */
  def movingAvg(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms").asc, col("event_id").asc)
      .rowsBetween(-2, 0)
    events
      .withColumn("ms", unix_millis(date_trunc("MILLISECOND", col("ts"))))
      .select(col("event_id"), col("user_id"), col("ms"),
        (sum(col("value").cast(DecimalType(18, 2))).over(w).cast("double") /
          count(lit(1)).over(w)).as("mov_avg"))
  }

  /** Per-user inter-event gap via lag(): NULL for each user's first event. */
  def lagDelta(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms").asc, col("event_id").asc)
    events
      .withColumn("ms", unix_millis(date_trunc("MILLISECOND", col("ts"))))
      .select(col("event_id"), col("user_id"), col("ms"),
        (col("ms") - lag(col("ms"), 1).over(w)).as("delta_ms"))
  }

  /** Time-in-state panel — the HA dashboard staple ("how long was each
    * sensor in each state per day", the energy/occupancy report the
    * reference's Influx rows feed): a sample OPENS an interval in its
    * state that the same user's NEXT sample closes — last-observation-
    * carried-forward state semantics, exactly how the reference's sink
    * rows are read back (`sqllite2influxdb.py:95-117` writes point-in-
    * time states; duration is always a read-side reconstruction). The
    * whole interval attributes to the DAY it starts: the bounded-memory
    * convention — splitting across midnight would need a generate/explode
    * whose fan-out is unbounded in interval length, and each user's
    * open-ended LAST sample is not yet accountable (no close observed),
    * so it is excluded rather than guessed. Equal-timestamp pairs yield
    * a deterministic zero-length interval under the family's (ms,
    * event_id) total order. One shuffle on the user key for the lead();
    * the (day, state) rollup is a second, partial-aggregated exchange
    * whose width is days × states — independent of sample count. All
    * arithmetic is integer (epoch ms), bit-exact cross-engine. */
  def stateDurations(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms").asc, col("event_id").asc)
    events
      .withColumn("ms", unix_millis(date_trunc("MILLISECOND", col("ts"))))
      .withColumn("day_ms", unix_millis(date_trunc("DAY", col("ts"))))
      .select(col("user_id"), col("event_type"), col("day_ms"), col("ms"),
        lead(col("ms"), 1).over(w).as("next_ms"))
      .filter(col("next_ms").isNotNull)
      .groupBy(col("day_ms"), col("event_type"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("next_ms") - col("ms")).as("dur_ms"),
        max(col("next_ms") - col("ms")).as("max_dur_ms"))
  }

  /** Per-user counter RATE with reset handling — the monitoring
    * operator behind every "requests/sec" panel, under the counter
    * contract PromQL's rate()/increase() defined: a counter only ever
    * grows, so a DROP between consecutive samples means the process
    * restarted and the new value IS the increase since the reset (the
    * pre-reset remainder is unknowable and dropped). increase =
    * value−prev when value ≥ prev, else value; rate = increase /
    * ((ms−prev_ms)/1000). Equal-timestamp pairs are dropped (Δt = 0 has
    * no rate) and each user's first sample has no predecessor — both
    * deterministic under the (ms, event_id) total order this window
    * family shares. One shuffle on the user key; every arithmetic step
    * is a fixed IEEE op sequence, bit-exact cross-engine. */
  def counterRate(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms").asc, col("event_id").asc)
    events
      .withColumn("ms", unix_millis(date_trunc("MILLISECOND", col("ts"))))
      .select(col("event_id"), col("user_id"), col("ms"), col("value"),
        lag(col("value"), 1).over(w).as("prev_v"),
        lag(col("ms"), 1).over(w).as("prev_ms"))
      .filter(col("prev_ms").isNotNull && col("ms") > col("prev_ms"))
      .select(col("event_id"), col("user_id"), col("ms"),
        when(col("value") >= col("prev_v"), col("value") - col("prev_v"))
          .otherwise(col("value")).as("increase"),
        (when(col("value") >= col("prev_v"), col("value") - col("prev_v"))
          .otherwise(col("value")) /
          ((col("ms") - col("prev_ms")) / lit(1000.0))).as("rate_per_sec"))
  }

  /** Bucketed counter increase — the CLIENT contract of the pushed Influx
    * rate read ([[graft.sources.InfluxRollupRead.rateMerge]]), pinned on
    * parquet under the DuckDB oracle: per (user, bucket), the sum of
    * reset-aware deltas with each delta attributed to the LATER sample's
    * bucket (lag() semantics; a user's first sample contributes 0 but
    * keeps its bucket). Unlike [[counterRate]] there is no per-pair Δt
    * division, so equal-timestamp pairs keep their delta. Deltas
    * accumulate in DECIMAL (value carries 2 decimals) — the per-bucket
    * sum is exact and associative, immune to cross-engine fold order —
    * with ONE terminal cast to double and one division for the rate.
    * Scale shape: the same single user-keyed window shuffle as the rate
    * family, then a partial-aggregated groupBy on (user, bucket). */
  def counterIncreaseHourly(events: DataFrame,
                            everyMs: Long = 3600000L): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms").asc, col("event_id").asc)
    val v = col("value").cast(DecimalType(18, 2))
    events
      .withColumn("ms", unix_millis(date_trunc("MILLISECOND", col("ts"))))
      .select(col("user_id"), col("ms"), v.as("v"),
        lag(v, 1).over(w).as("pv"))
      .groupBy(col("user_id"),
        (expr(s"ms div $everyMs") * everyMs).as("bucket_start_ms"))
      .agg(sum(when(col("pv").isNull, lit(0).cast(DecimalType(18, 2)))
        .otherwise(when(col("v") >= col("pv"), col("v") - col("pv"))
          .otherwise(col("v")))).cast("double").as("increase"))
      .withColumn("rate_per_sec", col("increase") / lit(everyMs / 1000.0))
  }

  /** The Home Assistant COUNTER long-term-statistics row — the energy
    * dashboard's data model (reference context: the HA statistics table
    * the recorder the reference script reads from also maintains; see
    * sqllite2influxdb.py:70-83 for the states-side pipeline this
    * completes): per (series, bucket), `state` = the sensor's LAST
    * reading in the bucket, `increase` = the reset-aware net growth
    * attributed to the bucket, and `sum_total` = the cumulative growth
    * since the start of the scan — HA's `sum` column, the number the
    * energy panel differences to render any date range without
    * re-reading raw samples. The chain is defined over the
    * per-(series, ms)-deduped samples (max value — the deterministic
    * tie-break the twa/integral family uses, and the Influx data model's
    * one-value-per-(series, ms) contract), so "last reading" is
    * well-defined in both engines without a composite order key. Deltas
    * follow the PromQL counter contract ([[counterRate]]): a drop means
    * reset, the new value IS the increase; each delta lands in the LATER
    * sample's bucket (the lag() convention shared with
    * [[graft.sources.InfluxRollupRead.rateMerge]]); a series' first
    * sample contributes 0 but keeps its bucket. All deltas accumulate in
    * DECIMAL(18,2) (exact, fold-order-free) and the running total is ONE
    * window cumulative sum over BUCKET rows (series × buckets, never
    * samples) — three terminal casts to double. Scale shape: one
    * user-keyed window shuffle over samples (shared with the whole rate
    * family), a partial-aggregated groupBy, then a bucket-level window —
    * bounded at any corpus scale. */
  def counterStatsHourly(events: DataFrame,
                         everyMs: Long = 3600000L): DataFrame =
    counterStatsFinish(counterStatsPartialsHourly(events, everyMs))

  /** The EXACT per-bucket partials behind [[counterStatsHourly]] —
    * (reset-aware increase as DECIMAL, last reading as DECIMAL) per
    * (series, fine bucket). Exposed for [[counterStatsCompact]]: the
    * deltas are per consecutive-sample PAIR, so they are grid-independent
    * and re-sum exactly onto any coarser grid (DECIMAL addition is
    * fold-order-free), and the latest fine bucket's state IS the coarse
    * bucket's last reading. The divided doubles of the finished row lose
    * both properties — persist THESE for incremental compaction. */
  def counterStatsPartialsHourly(events: DataFrame,
                                 everyMs: Long = 3600000L): DataFrame = {
    require(everyMs > 0,
      s"counterStatsHourly: everyMs must be positive, got $everyMs")
    // NULL-valued rows carry no reading: the LOCF delta chain is defined
    // over values, and a null sample would otherwise null out a bucket's
    // max_by state and poison the DECIMAL delta sum. Same posture as
    // counterStatsStream, so the maintained/batch twins stay bit-equal on
    // inputs containing nulls.
    val s = events
      .filter(col("value").isNotNull)
      .select(col("user_id"),
        unix_millis(date_trunc("MILLISECOND", col("ts"))).as("ms"),
        col("value").cast(DecimalType(18, 2)).as("v0"))
      .groupBy(col("user_id"), col("ms")).agg(max(col("v0")).as("v"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms").asc)
    s
      .withColumn("pv", lag(col("v"), 1).over(w))
      .groupBy(col("user_id"),
        (expr(s"ms div $everyMs") * everyMs).as("bucket_start_ms"))
      .agg(
        sum(when(col("pv").isNull, lit(0).cast(DecimalType(18, 2)))
          .otherwise(when(col("v") >= col("pv"), col("v") - col("pv"))
            .otherwise(col("v")))).as("inc_d"),
        max_by(col("v"), col("ms")).as("state_d"))
  }

  private def counterStatsFinish(partials: DataFrame): DataFrame = {
    val wc = Window.partitionBy(col("user_id"))
      .orderBy(col("bucket_start_ms").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    partials
      .withColumn("sum_d", sum(col("inc_d")).over(wc))
      .select(col("user_id"), col("bucket_start_ms"),
        col("state_d").cast("double").as("state"),
        col("inc_d").cast("double").as("increase"),
        col("sum_d").cast("double").as("sum_total"))
  }

  /** COUNTER-statistics compaction — the energy-dashboard half of the
    * HA short-term→long-term rollup ([[statisticsCompact]]'s sibling):
    * re-bucket the [[counterStatsPartialsHourly]] rows onto a coarse
    * (optionally offset — local-midnight days) grid. increase re-sums in
    * DECIMAL (exact, fold-order-free); state takes the LATEST fine
    * bucket's reading (every partial bucket holds ≥1 sample, so max_by
    * on bucket_start_ms is total); the cumulative sum_total recomputes
    * over the coarse buckets — identical DECIMAL values in the same
    * order, so the finished row is BIT-identical to running
    * [[counterStatsHourly]] at the coarse step directly. ONE
    * partial-aggregated groupBy + ONE bucket-level window. */
  def counterStatsCompact(partials: DataFrame, factor: Int,
                          fineStepMs: Long = 3600000L,
                          offsetMs: Long = 0L): DataFrame =
    counterStatsFinish(
      counterStatsCompactPartials(partials, factor, fineStepMs, offsetMs))

  /** PARTIALS → coarser PARTIALS — the hierarchical form of
    * [[counterStatsCompact]]: re-bucket WITHOUT finishing, so rollup
    * tiers CHAIN (hour → day → week → month), each tier persisting its
    * own — ever smaller — partials table and compacting from the tier
    * below, never from raw samples. Associative by construction:
    * compacting by a then by b is bit-identical to compacting by a·b
    * (DECIMAL increase sums regroup; the latest-fine-bucket state of the
    * latest mid bucket IS the latest fine bucket's state), and the
    * output schema is the input schema. */
  def counterStatsCompactPartials(partials: DataFrame, factor: Int,
                                  fineStepMs: Long = 3600000L,
                                  offsetMs: Long = 0L): DataFrame = {
    require(factor > 0 && fineStepMs > 0,
      s"counterStatsCompact: factor/fineStepMs must be positive, got " +
        s"$factor/$fineStepMs")
    require(offsetMs % fineStepMs == 0,
      s"counterStatsCompact: offsetMs ($offsetMs) must be a multiple of " +
        s"the fine step ($fineStepMs)")
    val coarse = lit(fineStepMs * factor)
    // the max_by orders on the FINE bucket, so the coarse key gets its
    // own column name rather than shadowing it
    partials
      .withColumn("_cb", col("bucket_start_ms") -
        pmod(col("bucket_start_ms") - lit(offsetMs), coarse))
      .groupBy(col("user_id"), col("_cb"))
      .agg(sum(col("inc_d")).as("inc_d"),
        max_by(col("state_d"), col("bucket_start_ms")).as("state_d"))
      .withColumnRenamed("_cb", "bucket_start_ms")
  }

  /** The ENERGY-DASHBOARD range read — the ONE query the counter
    * statistics row exists to serve: Home Assistant renders any date
    * range by DIFFERENCING the cumulative `sum` column at the range
    * endpoints, never re-reading raw samples. Per series the consumed
    * energy over [startMs, endMs) is `sum(last bucket < end) −
    * sum(last bucket < start)`; a series whose history STARTS inside the
    * range has no pre-range row and its baseline is 0 (its first sample
    * contributed increase 0, so the difference is exactly its in-range
    * growth), and a counter RESET inside the range is already absorbed —
    * `sum` accumulates reset-aware increases, which is precisely why HA
    * differences it instead of the raw readings. Series with no bucket
    * row in the range emit nothing (the dashboard shows only series with
    * data). Arithmetic stays in DECIMAL end-to-end with ONE terminal
    * cast, and the endpoint difference TELESCOPES — every pre-range
    * increase cancels — so the implementation is one conditional DECIMAL
    * sum over the in-range bucket rows (no cumulative window is ever
    * materialized; the ORACLE keeps HA's differencing form, making the
    * hash gate the proof of the identity). Scale shape: both range
    * bounds push to the partials scan, then ONE partial-aggregated
    * groupBy — series × in-range buckets in, one row per series out. */
  def energyRange(events: DataFrame, startMs: Long, endMs: Long,
                  everyMs: Long = 3600000L): DataFrame =
    energyRangeOfPartials(counterStatsPartialsHourly(events, everyMs),
      startMs, endMs)

  /** The energy dashboard's BAR SERIES — the other half of the panel:
    * consumption per DISPLAY bucket (per-day, per-week, per-month bars)
    * within [startMs, endMs). HA renders each bar by differencing `sum`
    * at the bar's grid boundaries; since the grid is anchored at the
    * range start and aligned to the fine buckets, that difference IS the
    * hierarchically-compacted `increase` of the display bucket
    * ([[counterStatsCompactPartials]] with the grid offset) — so the bars
    * query is one re-bucketing of the persisted partials plus a range
    * filter, never a window. Invariant (spec-pinned): for a range whose
    * length is a whole number of bars, the bars sum to exactly
    * [[energyRange]]'s total per series — both sum the same fine-bucket
    * DECIMAL increases. A range end mid-bar keeps the final bar's FULL
    * period (bars are period-keyed rows, HA's own convention). Deltas
    * crossing a bar boundary attribute to the LATER sample's bar (the
    * lag() convention the whole counter family shares). */
  def energyBars(events: DataFrame, startMs: Long, endMs: Long,
                 gridMs: Long, everyMs: Long = 3600000L): DataFrame =
    energyBarsOfPartials(counterStatsPartialsHourly(events, everyMs),
      startMs, endMs, gridMs, everyMs)

  /** [[energyBars]] off persisted partials (the incremental form). */
  def energyBarsOfPartials(partials: DataFrame, startMs: Long, endMs: Long,
                           gridMs: Long,
                           fineStepMs: Long = 3600000L): DataFrame = {
    require(startMs < endMs, s"energyBars: empty range [$startMs, $endMs)")
    require(gridMs > 0 && gridMs % fineStepMs == 0,
      s"energyBars: gridMs ($gridMs) must be a positive multiple of the " +
        s"fine step ($fineStepMs)")
    require(startMs % fineStepMs == 0,
      s"energyBars: startMs ($startMs) anchors the bar grid and must sit " +
        s"on a fine-bucket boundary ($fineStepMs)")
    counterStatsCompactPartials(partials, (gridMs / fineStepMs).toInt,
        fineStepMs, offsetMs = Math.floorMod(startMs, gridMs))
      .filter(col("bucket_start_ms") >= startMs &&
        col("bucket_start_ms") < endMs)
      .select(col("user_id"), col("bucket_start_ms"),
        col("inc_d").cast("double").as("energy"))
  }

  /** [[energyRange]] off persisted [[counterStatsPartialsHourly]] rows —
    * the form an incremental pipeline runs (partials on disk, raw samples
    * never re-read). The endpoint difference `sum(last bucket < end) −
    * sum(last bucket < start)` telescopes to ONE conditional DECIMAL sum
    * over the in-range buckets (every pre-range increase cancels), so no
    * cumulative window is materialized at all: one partial-aggregated
    * groupBy over bucket rows, one exchange. The ORACLE deliberately
    * keeps HA's differencing form (windowed cumulative sum + two
    * arg_max endpoint lookups), so the hash gate IS the proof of the
    * telescoping identity; `EnergyRangePropSpec` fuzzes it besides. */
  def energyRangeOfPartials(partials: DataFrame, startMs: Long,
                            endMs: Long): DataFrame = {
    require(startMs < endMs,
      s"energyRange: empty range [$startMs, $endMs)")
    partials
      // both range bounds push down to the partials scan; a series with
      // no in-range bucket forms no group (= the dashboard's "no data")
      .filter(col("bucket_start_ms") >= startMs &&
        col("bucket_start_ms") < endMs)
      .groupBy(col("user_id"))
      .agg(sum(col("inc_d")).cast("double").as("energy"),
        count(lit(1)).as("n_buckets"))
  }

  private[graft] val CalendarUnits = Set("DAY", "WEEK", "MONTH", "QUARTER",
    "YEAR")

  /** Calendar bucket key: the fine bucket's start instant rendered in `tz`,
    * truncated to the calendar `unit`, converted back to an epoch-ms
    * instant — so per-MONTH buckets are true calendar months (28–31 days)
    * and per-DAY buckets follow the zone through DST transitions (a
    * spring-forward day is 23 hours, a fall-back day 25), neither of which
    * any fixed `gridMs` can express. */
  private[graft] def calendarBucket(bucketCol: Column, unit: String,
                                    tz: String): Column = {
    require(CalendarUnits.contains(unit),
      s"calendar unit must be one of ${CalendarUnits.mkString("/")}, " +
        s"got '$unit'")
    unix_millis(to_utc_timestamp(
      date_trunc(unit, from_utc_timestamp(timestamp_millis(bucketCol), tz)),
      tz))
  }

  /** COUNTER partials → CALENDAR-bucket partials — [[counterStatsCompactPartials]]'
    * calendar sibling, for the buckets no fixed grid can express: HA's
    * energy dashboard renders per-MONTH bars (calendar months are 28–31
    * days) and per-day bars in a DST-shifting home timezone. Same merge
    * algebra (DECIMAL increase re-sums, state takes the latest fine
    * bucket's reading), same ONE partial-aggregated groupBy over bucket
    * rows; only the coarse key changes — `date_trunc(unit)` of the fine
    * bucket's start in `tz`, mapped back to an epoch instant.
    *
    * Exactness: the re-bucketing is exact when every calendar boundary in
    * `tz` lands on a fine-bucket boundary. With hourly fine partials that
    * holds for every zone whose UTC offsets are whole hours — including
    * DST zones (US/EU transitions shift by whole hours at 01:00–03:00
    * local, so local midnight is always an epoch-hour instant; pinned
    * across both 2024 America/New_York transitions by
    * EnergyCalendarSpec). A half-hour-offset zone (e.g. Asia/Kolkata)
    * needs 30-minute fine partials for the same guarantee; otherwise a
    * fine bucket straddling local midnight attributes wholly to the
    * calendar bucket containing its START (EnergyCalendarSpec pins that
    * divergence to the exact misattributed delta). In general the fine
    * grid must divide gcd(1 h, every UTC offset of the zone): 30 minutes
    * for half-hour zones, 15 for quarter-hour ones (Pacific/Chatham).
    * Where a zone transitions AT midnight, the truncated local midnight
    * does not exist (America/Santiago) or occurs twice
    * (America/Havana); Spark resolves it like java.time — into the
    * gap's later offset, or to the earlier of the two — so the bucket
    * key is the day's true first instant, which is what the dashboard
    * renders. Each of these zones is oracle-gated monthly (and per local
    * day) by the queries SparkEntry.calendarZones generates, one row per
    * zone with its derived fine grid. */
  def counterStatsCalendarPartials(partials: DataFrame, unit: String,
                                   tz: String): DataFrame =
    partials
      .withColumn("_cb", calendarBucket(col("bucket_start_ms"), unit, tz))
      .groupBy(col("user_id"), col("_cb"))
      .agg(sum(col("inc_d")).as("inc_d"),
        max_by(col("state_d"), col("bucket_start_ms")).as("state_d"))
      .withColumnRenamed("_cb", "bucket_start_ms")

  /** The energy dashboard's CALENDAR bar series — per-month (the long
    * view's default), per-quarter, or per-local-day bars: one calendar
    * re-bucketing of the counter partials ([[counterStatsCalendarPartials]]),
    * optionally filtered to bars whose PERIOD START falls in
    * [startMs, endMs). Bars are period-keyed rows like the fixed-grid
    * [[energyBars]] — a range end mid-period keeps the final bar's full
    * period, and a range start mid-period drops that partial period's bar
    * entirely (the dashboard's monthly view always shows whole months). */
  def energyBarsCalendar(events: DataFrame, unit: String, tz: String,
                         startMs: Option[Long] = None,
                         endMs: Option[Long] = None,
                         everyMs: Long = 3600000L): DataFrame =
    energyBarsCalendarOfPartials(counterStatsPartialsHourly(events, everyMs),
      unit, tz, startMs, endMs)

  /** [[energyBarsCalendar]] off persisted partials (the incremental
    * form). */
  def energyBarsCalendarOfPartials(partials: DataFrame, unit: String,
                                   tz: String,
                                   startMs: Option[Long] = None,
                                   endMs: Option[Long] = None): DataFrame = {
    require(startMs.forall(s => endMs.forall(s < _)),
      s"energyBarsCalendar: empty range [$startMs, $endMs)")
    val bars = counterStatsCalendarPartials(partials, unit, tz)
    val ranged = (startMs, endMs) match {
      case (Some(s), Some(e)) => bars.filter(
        col("bucket_start_ms") >= s && col("bucket_start_ms") < e)
      case (Some(s), None) => bars.filter(col("bucket_start_ms") >= s)
      case (None, Some(e)) => bars.filter(col("bucket_start_ms") < e)
      case (None, None) => bars
    }
    ranged.select(col("user_id"), col("bucket_start_ms"),
      col("inc_d").cast("double").as("energy"))
  }

  /** TIER-STITCHED counter partials — the read a retention ladder serves
    * once fine partials age out (HA keeps 5-minute short-term statistics
    * ~10 days and hourly long-term forever; a warehouse keeps hourly for
    * a quarter and daily beyond): every bucket STRICTLY BEFORE `cutoffMs`
    * comes from the COARSE tier, every bucket at-or-after from the FINE
    * tier. Because the counter delta chain is grid-independent and
    * `inc_d` re-sums exactly, the stitched partials are the SAME algebra
    * at mixed granularity — [[counterStatsFinish]]'s cumulative window
    * and [[energyRangeOfPartials]]' conditional sum both run on them
    * unchanged. The cutoff must be a coarse-bucket boundary
    * ((cutoffMs − offsetMs) divisible by coarseStepMs), or one coarse
    * bucket would straddle the seam and double-count the fine buckets it
    * already merged. Scale shape: two partials scans (each filter pushes
    * to its own table — the fine tier prunes to the recent window, the
    * coarse tier to history), one union, no raw-sample read anywhere. */
  def counterStatsTierPartials(fine: DataFrame, coarse: DataFrame,
                               cutoffMs: Long, coarseStepMs: Long,
                               offsetMs: Long = 0L): DataFrame =
    tierPartials(fine, coarse, "bucket_start_ms", cutoffMs, coarseStepMs,
      offsetMs)

  /** Shared tier-stitch core: coarse buckets strictly before the cutoff,
    * fine at-or-after; the cutoff must sit on the coarse grid or one
    * coarse bucket would straddle the seam. */
  private def tierPartials(fine: DataFrame, coarse: DataFrame,
                           bucketCol: String, cutoffMs: Long,
                           coarseStepMs: Long, offsetMs: Long): DataFrame = {
    require(coarseStepMs > 0 &&
      Math.floorMod(cutoffMs - offsetMs, coarseStepMs) == 0L,
      s"tier stitch: cutoffMs ($cutoffMs) must sit on the coarse grid " +
        s"(step $coarseStepMs, offset $offsetMs)")
    coarse.filter(col(bucketCol) < cutoffMs)
      .unionByName(fine.filter(col(bucketCol) >= cutoffMs))
  }

  /** CALENDAR tier stitch — the retention ladder a calendar dashboard
    * reads once fine partials age out (the long view's monthly bars over
    * years of history). A FIXED-step daily tier
    * ([[counterStatsCompactPartials]] with any offset) cannot serve
    * calendar reads across a DST transition: the zone's offset changes,
    * so some fixed 24-hour bucket straddles a local-day (and eventually
    * local-month) boundary and [[calendarBucket]] would attribute its
    * whole increase to the bucket containing its START. The coarse tier
    * for calendar views is therefore the LOCAL-CALENDAR-DAY partials
    * ([[counterStatsCalendarPartials]] with unit="DAY", same zone) —
    * 23/24/25-hour buckets keyed at true local midnights, which NEST
    * inside every coarser calendar unit of the same zone by
    * construction, so re-grouping them onto months/quarters/years is
    * always exact. The cutoff must be a local-midnight instant in `tz`
    * (a plan-build-time java.time check — no bucket may straddle the
    * seam); scale shape matches [[counterStatsTierPartials]]: each
    * tier's range filter pushes to its own partials scan, one union,
    * zero joins, zero raw-sample reads. */
  def counterStatsCalendarTierPartials(fine: DataFrame,
                                       calendarDaily: DataFrame,
                                       cutoffMs: Long,
                                       tz: String): DataFrame =
    calendarTierPartials(fine, calendarDaily, "bucket_start_ms", cutoffMs,
      tz)

  /** Shared calendar-tier core (see [[counterStatsCalendarTierPartials]]
    * for the full rationale): local-calendar-day coarse buckets strictly
    * before the cutoff, fine at-or-after; the cutoff must be the FIRST
    * INSTANT of its local day in `tz` (plan-build-time java.time check)
    * so no day bucket straddles the seam. "First instant" rather than
    * "local midnight": in a zone whose DST gap lands exactly AT
    * midnight (America/Santiago), the spring-forward day's first
    * instant has local time 01:00 — it is still the day's calendar
    * bucket key ([[calendarBucket]] resolves the nonexistent midnight
    * to it), so it is a legitimate seam a literal-midnight test would
    * wrongly reject. The check also disambiguates the mirror anomaly:
    * when a fall-back REPEATS midnight (America/Havana), only the
    * FIRST occurrence (the earlier offset — the day's calendar key) is
    * a valid seam; the second occurrence reads 00:00 on the wall clock
    * but a day bucket would straddle it, and `atStartOfDay` resolves
    * to the earlier instant so the require rejects it. */
  private def calendarTierPartials(fine: DataFrame, calendarDaily: DataFrame,
                                   bucketCol: String, cutoffMs: Long,
                                   tz: String): DataFrame = {
    val zone = java.time.ZoneId.of(tz)
    val local = java.time.Instant.ofEpochMilli(cutoffMs).atZone(zone)
    val dayFirst = local.toLocalDate.atStartOfDay(zone)
      .toInstant.toEpochMilli
    require(dayFirst == cutoffMs,
      s"calendar tier stitch: cutoffMs ($cutoffMs = $local) must be a " +
        s"local-midnight instant in $tz (the first instant of its " +
        s"local day; that day starts at $dayFirst), or a calendar-day " +
        "bucket would straddle the tier seam")
    calendarDaily.filter(col(bucketCol) < cutoffMs)
      .unionByName(fine.filter(col(bucketCol) >= cutoffMs))
  }

  /** The finished tier-stitched COUNTER panel: mixed-granularity rows
    * (coarse history, fine recency) with the cumulative `sum_total`
    * running straight across the seam — granularity-free by
    * construction, gated hash-exact by `events_counter_stats_tiered`. */
  def counterStatsTierStitch(fine: DataFrame, coarse: DataFrame,
                             cutoffMs: Long, coarseStepMs: Long,
                             offsetMs: Long = 0L): DataFrame =
    counterStatsFinish(
      counterStatsTierPartials(fine, coarse, cutoffMs, coarseStepMs,
        offsetMs))

  /** Top-10 by value within each event_type via rank() (ties broken by
    * event_id so rank ≡ row_number — deterministic cross-engine). */
  def typeRank(events: DataFrame, k: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id").asc)
    events
      .withColumn("rank", rank().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("event_type"), col("event_id"), col("value"), col("rank"))
  }

  /** Grouped TopN with row_number — the EXACT client-side Window shape the
    * Influx grouped-TopN narrowing ([[graft.plans.InfluxGroupTopNRule]])
    * keeps as its residual: `row_number() OVER (PARTITION BY g ORDER BY
    * value DESC, id ASC) <= k`. The ORDER BY is a TOTAL order (event_id is
    * unique), so row_number is deterministic cross-engine and the DuckDB
    * oracle can hash-gate it — rank() (`typeRank` above) pins the
    * tie-admitting variant; this pins the tie-breaking one the narrowing
    * rule claims. Same scale shape: one hash shuffle on the group key,
    * WindowGroupLimit caps per-partition state at k. */
  def typeTopNRowNumber(events: DataFrame, k: Int = 5): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id").asc)
    events
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("event_type"), col("event_id"), col("value"), col("rn"))
  }

  /** Top-k 3-step event-type paths across all users — the "most common
    * user journeys" query behind funnel DESIGN (funnels verify a chosen
    * path; this discovers which paths are worth verifying). Per-user
    * trigrams via two lead() windows over the same user-keyed (ms,
    * event_id) window family lagDelta/sessionize use — one shuffle on the
    * natural key, skew bounded by per-user event cardinality like the
    * other per-user windows (see SCALING notes). The path count then
    * partial-aggregates on the (small) path domain and the top-k is a
    * TakeOrderedAndProject with the path string as tie-break —
    * deterministic cross-engine. */
  def topPaths(events: DataFrame, k: Int = 25): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms").asc, col("event_id").asc)
    events
      .withColumn("ms", unix_millis(date_trunc("MILLISECOND", col("ts"))))
      .select(col("user_id"), col("ms"), col("event_id"), col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path").asc)
      .limit(k)
  }

  /** First-order Markov transition matrix over per-user event sequences:
    * for every (from_type, to_type) pair, the transition count and its
    * probability among transitions leaving from_type. One lead() pass over
    * the same user-keyed shuffle sessionize/topPaths use (the skew posture
    * documented on [[sessionize]] applies), then a partial-aggregated
    * count on the BOUNDED (type × type) key space; the per-from total
    * rides a Window over that tiny aggregate, never over events. The
    * probability is ONE terminal division of two exact longs. */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms").asc, col("event_id").asc)
    val counts = events
      .withColumn("ms", unix_millis(date_trunc("MILLISECOND", col("ts"))))
      .select(col("user_id"), col("ms"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val wf = Window.partitionBy(col("from_type"))
    counts
      .withColumn("n_from", sum(col("n")).over(wf))
      .select(col("from_type"), col("to_type"), col("n"),
        // ONE terminal division of two exact longs — emitted RAW (the
        // cross-engine round() half-ulp trap does not apply)
        (col("n").cast("double") / col("n_from").cast("double")).as("p"))
  }

  /** Sliding-window distinct users: for every hour with data, the EXACT
    * count of distinct users over the trailing 24 hours. Shrink-then-fan:
    * events first collapse to distinct (user, hour) pairs (the only
    * event-volume shuffle), each pair then fans out map-side to the ≤24
    * windows it can serve, and a second distinct-count shuffle runs on
    * (window, user) — cost 24 × |distinct pairs|, linear in data, NO
    * per-window rescan of raw events. Windows are emitted only for hours
    * that actually contain events (semi-join against the hour set —
    * broadcast-sized: one row per hour of retained history).
    * The HLL register twin of this shape is [[Sketches.hllMerge]]-style
    * register-max over the same fan-out; the exact form is its oracle. */
  def slidingDistinctUsers(events: DataFrame, windowHours: Int = 24): DataFrame = {
    val pairs = events
      .select(col("user_id"),
        expr("unix_millis(date_trunc('HOUR', ts)) div 3600000").as("h"))
      .distinct()
    val hours = pairs.select(col("h").as("win_h")).distinct()
    val fanned = pairs
      .select(col("user_id"),
        explode(sequence(col("h"), col("h") + (windowHours - 1))).as("win_h"))
    fanned.join(hours, Seq("win_h"), "left_semi")
      .groupBy(col("win_h"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select((col("win_h") * 3600000L).as("win_end_hour_ms"), col("n_users"))
  }

  /** Sliding distinct users via HLL register REUSE — the scale twin of
    * [[slidingDistinctUsers]]: per-hour registers are built ONCE from the
    * events (the only event-volume aggregation), then each hour's ≤2^p
    * register rows fan map-side into the windows they serve and max-merge
    * per (window, bucket) — so a 24× wider window costs 24× m register
    * rows, NOT 24× the event volume, and a 1000-executor shard can
    * pre-build its hourly registers independently (mergeability, proven
    * bit-exact by `docs_hll_merge`). The query emits the MERGED REGISTERS
    * per window — the durable, further-mergeable artifact — and they are
    * oracle-hash-exact; the estimate tail is a consumer concern
    * ([[Sketches.hllEstimate]] for the raw regime; below ~2.5m distinct
    * the standard linear-counting branch m·ln(m/V) applies, whose libm ln
    * is deliberately kept OUT of the oracle-gated surface).
    * [[slidingDistinctUsers]] is the exact yardstick. */
  def slidingHllRegisters(events: DataFrame, windowHours: Int = 24,
                          p: Int = 6): DataFrame = {
    val (bucket, rho) = Sketches.hllBucketRho(
      PortableDedup.md5Hash32(col("user_id").cast("string")), p)
    val hourly = events
      .select(expr("unix_millis(date_trunc('HOUR', ts)) div 3600000").as("h"),
        bucket.as("bucket"), rho.as("rho"))
      .groupBy(col("h"), col("bucket")).agg(max(col("rho")).as("r"))
    val hours = hourly.select(col("h").as("win_h")).distinct()
    hourly
      .select(explode(sequence(col("h"), col("h") + (windowHours - 1)))
        .as("win_h"), col("bucket"), col("r"))
      .join(hours, Seq("win_h"), "left_semi")
      .groupBy(col("win_h"), col("bucket")).agg(max(col("r")).as("r"))
      .select((col("win_h") * 3600000L).as("win_end_hour_ms"),
        col("bucket"), col("r"))
  }

  /** Hour-of-week seasonal baseline over click values — the profile a
    * monitoring pipeline subtracts before anomaly detection (weekday
    * mornings differ from Sunday nights by DESIGN, not anomaly). Bucket =
    * (epoch-hour mod 168): pure integer arithmetic, no calendar/timezone
    * functions whose rules differ across engines. The mean is exact:
    * values quantize to floor(v·1000) BIGINT map-side (floor, never a
    * rounding cast — the established cross-engine rule), the sums and
    * counts aggregate exactly, and the single terminal division produces
    * the one IEEE double. One partial-aggregated shuffle of ≤168 groups. */
  def seasonalProfile(events: DataFrame): DataFrame =
    events
      .withColumn("ms", unix_millis(date_trunc("MILLISECOND", col("ts"))))
      .select((expr("ms div 3600000") % 168).as("hour_of_week"),
        floor(col("value") * 1000).cast("long").as("mv"))
      .groupBy(col("hour_of_week"))
      .agg(count(lit(1)).as("n_events"), sum(col("mv")).as("sum_mv"))
      .select(col("hour_of_week"), col("n_events"),
        (col("sum_mv").cast("double") / (col("n_events") * 1000L).cast("double"))
          .as("mean_value"))

  /** The event_type domain, pinned so the pivot needs no discovery pass (a
    * value-less pivot() runs a distinct collect first — a full extra job at
    * 100 TB) and so the oracle's conditional aggregates name the same
    * columns. */
  val eventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /** Per-user event-type counts pivoted to columns. Absent combinations are
    * 0 (pivot-count yields NULL) to match conditional-aggregate semantics. */
  def pivotTypeCounts(events: DataFrame): DataFrame = {
    val p = events.groupBy(col("user_id"))
      .pivot("event_type", eventTypes).count()
    p.select(col("user_id") +: eventTypes.map(t =>
      coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
  }

  /** CUBE over (event_type, day): all four grouping sets — per type+day,
    * per type, per day, grand total — in one pass (Expand + single shuffle,
    * partial aggregation on each grouping set). */
  def cubeTypeDay(events: DataFrame): DataFrame =
    events
      .withColumn("day_ms", unix_millis(date_trunc("DAY", col("ts"))))
      .cube(col("event_type"), col("day_ms"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))

  /** Ordered funnel analysis (view → click → … in event time): how many
    * users reach each step, where step i+1 must happen STRICTLY AFTER the
    * user's earliest completion of step i (the standard product-analytics
    * "first-touch" funnel). Each stage is a user-keyed min-aggregate joined
    * to the previous stage's user set — every shuffle is keyed on user_id,
    * so consecutive stages reuse one exchange and the per-stage state is
    * one timestamp per surviving user. Each stage's survivor frame is
    * `localCheckpoint`ed (eager, user-sized — bounded by distinct users,
    * the declared iterative-fixpoint posture of the dedup CC rounds):
    * stage i+1 and the final count union read the materialized survivors
    * instead of replaying stages 1..i, so the whole funnel is ONE logical
    * pass over events per stage — O(steps), not O(steps²). Comparisons
    * happen on epoch-ms longs: the fixture's nanosecond timestamps
    * truncate differently in Spark (µs) and DuckDB (ns), so a sub-ms
    * boundary would otherwise flip a strict `>` between engines. */
  def funnel(events: DataFrame,
             steps: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val e = events.select(col("user_id"), col("event_type"),
      unix_millis(col("ts")).as("ms"))
    var cur = e.filter(col("event_type") === steps.head)
      .groupBy(col("user_id")).agg(min(col("ms")).as("s"))
      .localCheckpoint()
    var label = steps.head
    val stages = scala.collection.mutable.ArrayBuffer[(String, DataFrame)](
      (label, cur))
    for (st <- steps.tail) {
      cur = e.filter(col("event_type") === st)
        .join(cur, "user_id")
        .filter(col("ms") > col("s"))
        .groupBy(col("user_id")).agg(min(col("ms")).as("s"))
        .localCheckpoint()
      label = label + ">" + st
      stages += ((label, cur))
    }
    stages.map { case (l, df) =>
      df.agg(count(lit(1)).as("n_users")).select(lit(l).as("step"), col("n_users"))
    }.reduce(_ unionAll _)
  }

  /** Cohort overlap matrix: for every unordered pair of event types, how
    * many distinct users did both. One user-keyed shuffle builds the
    * per-user type set (bounded by the event-type cardinality — single
    * digits — so the pair fan-out is a map-side explode of ≤ |T|²/2 rows
    * per user) and the pair counts partial-aggregate; no distinct-distinct
    * self-join of the full event table. */
  def cohortOverlap(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(collect_set(col("event_type")).as("types"))
      .select(explode(col("types")).as("t1"), col("types"))
      .select(col("t1"), explode(col("types")).as("t2"))
      .filter(col("t1") < col("t2"))
      .groupBy(col("t1"), col("t2"))
      .agg(count(lit(1)).as("n_users"))

  /** Gap-filled time-series resample: an hourly grid per user between that
    * user's first and last click, LOCF-filled (last observation carried
    * forward) via the same as-of composition the purchase-attribution
    * query uses. Clicks collapse to one row per (user, ms) first (max
    * value — a deterministic tie-break BEFORE the as-of join, which keeps
    * the carried value well-defined when several clicks share a
    * millisecond). Grid ticks before a user's first click stay NULL. All
    * shuffles are user-keyed; the grid explode is map-side. */
  def resampleLocf(events: DataFrame, stepMs: Long = 3600000L): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), unix_millis(col("ts")).as("ms"), col("value"))
    val dedup = clicks.groupBy(col("user_id"), col("ms"))
      .agg(max(col("value")).as("locf_value"))
    // integer bucket arithmetic (ms - ms % step): no float rounding at
    // bucket boundaries, same expression the oracle runs
    val bounds = clicks.groupBy(col("user_id"))
      .agg((min(col("ms")) - pmod(min(col("ms")), lit(stepMs))).as("t0"),
        (max(col("ms")) - pmod(max(col("ms")), lit(stepMs))).as("t1"))
    val grid = bounds.select(col("user_id"),
      explode(sequence(col("t0"), col("t1"), lit(stepMs))).as("ms"))
    asofJoin(grid, dedup, "user_id", "ms")
  }

  /** Linear-interpolation panel fill over GRID-ALIGNED bucket rows — the
    * lerp sibling of [[locfFill]] and the shared algebra behind the
    * pushed [[graft.sources.InfluxRollupRead.lerpPanel]] and the parquet
    * `events_lerp_panel` query. Input is one row per (keys...,
    * bucket_start_ms) carrying the bucket's FIRST and LAST numeric
    * samples (`first_num_time`/`first_num_value`/`last_num_time`/
    * `last_num_value` — the rate family's boundary slots); output is the
    * dense per-key tick grid where each tick brackets between its
    * nearest numeric samples. Exact by construction: a grid tick's
    * brackets are always a bucket's LAST sample (before it) and a
    * bucket's FIRST sample (at-or-after it) — grid ticks are bucket
    * boundaries, so no interior sample can ever be nearer — which is
    * precisely what the boundary slots carry.
    *
    * SINGLE-PASS like [[locfFill]]: one keyed window (lead of the next
    * occupied bucket's first sample + lag for first-row detection), a
    * map-side explode; the input is read ONCE. Grid convention matches
    * the direct as-of bracket exactly: ticks run from the first occupied
    * bucket's START (back-fill branch) through the LAST occupied
    * bucket's start; a tick ON a sample takes it exactly; `stopMs`
    * extends past the last sample with the carry branch. `point`
    * renders a stored value into output units (quantized BIGINT → /1000
    * for the oracle-exact parquet twin, identity for the pushed read);
    * `lerp(prevT, prevV, nextT, nextV, tick)` is the interpolation in
    * the caller's arithmetic. Rows whose boundary slots are not all
    * four present (string-only segments on the pushed path) are
    * excluded from the chain, matching the numeric-only population. */
  def lerpFill(buckets: DataFrame, keys: Seq[String], everyMs: Long,
               point: Column => Column,
               lerp: (Column, Column, Column, Column, Column) => Column,
               stopMs: Option[Long] = None): DataFrame = {
    require(everyMs > 0, s"lerpFill: everyMs must be positive, got $everyMs")
    val kcols = keys.map(col)
    val numeric = buckets.filter(
      col("first_num_time").isNotNull && col("first_num_value").isNotNull &&
        col("last_num_time").isNotNull && col("last_num_value").isNotNull)
    val w = Window.partitionBy(kcols: _*).orderBy(col("bucket_start_ms").asc)
    val b = col("bucket_start_ms")
    val isFirst = lag(b, 1).over(w).isNull
    val nextB = lead(b, 1).over(w)
    val nft = lead(col("first_num_time"), 1).over(w)
    val nfv = lead(col("first_num_value"), 1).over(w)
    // a row covers ticks (prev handled by the previous row): its own
    // start tick when it heads the chain (the back-fill tick), then
    // b+every through the next occupied bucket's start; the chain's last
    // row emits nothing past its own bucket unless stopMs extends it
    val start = when(isFirst, b).otherwise(b + lit(everyMs))
    val end = coalesce(nextB, stopMs.map(s =>
        greatest(lit(s) - pmod(lit(s) - b, lit(everyMs)), b))
      .getOrElse(b))
    numeric
      .withColumn("_nft", nft).withColumn("_nfv", nfv)
      .withColumn("_t0", start).withColumn("_t1", end)
      .filter(col("_t0") <= col("_t1"))
      .select(kcols ++ Seq(
        explode(sequence(col("_t0"), col("_t1"), lit(everyMs)))
          .as("tick_ms"),
        col("first_num_time"), col("first_num_value"),
        col("last_num_time"), col("last_num_value"),
        col("_nft"), col("_nfv")): _*)
      .select(kcols ++ Seq(col("tick_ms"),
        when(col("tick_ms") <= col("first_num_time"),
          point(col("first_num_value")))           // back-fill / own hit
          .when(col("_nft").isNull, point(col("last_num_value"))) // carry
          .when(col("tick_ms") === col("_nft"), point(col("_nfv"))) // hit
          .otherwise(lerp(col("last_num_time"), col("last_num_value"),
            col("_nft"), col("_nfv"), col("tick_ms")))
          .as("lerp_value")): _*)
  }

  /** Bucketed-last-observation LOCF panel over clicks — the parquet twin
    * of the pushed Influx panel ([[graft.sources.InfluxRollupRead
    * .locfRead]]): per (user, hour-bucket) the newest click (same
    * per-ms max-value tie-break as [[resampleLocf]], so the bucket's
    * newest observation is well-defined), grid-filled by [[locfFill]].
    * Differs from [[resampleLocf]] by the tick convention the pushed
    * panel needs: tick t reports the newest sample STRICTLY BEFORE t
    * (resampleLocf's as-of is inclusive), which is what makes the
    * bucketed decomposition exact — a sample at t belongs to the bucket
    * starting at t and first surfaces at tick t + step. */
  def locfPanel(events: DataFrame, stepMs: Long = 3600000L): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), unix_millis(col("ts")).as("ms"), col("value"))
    val dedup = clicks.groupBy(col("user_id"), col("ms"))
      .agg(max(col("value")).as("v"))
    val buckets = dedup
      .groupBy(col("user_id"),
        (col("ms") - pmod(col("ms"), lit(stepMs))).as("bucket_start_ms"))
      .agg(max_by(col("v"), col("ms")).as("last_value"),
        max(col("ms")).as("max_time_ms"))
    locfFill(buckets, Seq("user_id"), stepMs)
  }

  /** Linear-interpolation time-grid resample over clicks — the
    * physically-faithful sibling of [[resampleLocf]] for continuous
    * sensor signals (a temperature between two readings is BETWEEN them,
    * not the stale one), and the parquet twin of the pushed
    * [[graft.sources.InfluxRollupRead.lerpRead]]. Per (user, hour-bucket)
    * only the FIRST and LAST quantized samples survive the aggregation,
    * yet [[lerpFill]] reconstructs the panel of the direct as-of bracket
    * (each tick between its nearest sample on each side) — the oracle
    * runs that bracket as window SQL, so two algebras give one answer.
    *
    * Arithmetic is exact: samples quantize to floor(v·1000) BIGINT (max
    * per millisecond, so equal-ms clicks are one sample), the lerp
    * numerator vm_p·(t_n−t) + vm_n·(t−t_p) and denominator (t_n−t_p)·1000
    * are exact BIGINTs far under 2^53, and the value is ONE terminal
    * division — bit-exact cross-engine. Grid edges: ticks run from the
    * first sample's step bucket to the last sample's; a tick before the
    * first sample back-fills, one ON a sample takes it exactly. Only
    * numeric samples count: a NULL-valued click is no sample and does
    * not widen the grid.
    *
    * The clicks are hash-partitioned on `user_id` ONCE, before the
    * per-ms dedup: that partitioning satisfies both aggregates and the
    * user-keyed fill window, so the plan has one exchange. */
  def lerpPanel(events: DataFrame, stepMs: Long = 3600000L): DataFrame = {
    val clicks = events
      .filter(col("event_type") === "click" && col("value").isNotNull)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        floor(col("value") * 1000).cast("long").as("vm"))
      .repartition(col("user_id"))
    val samples = clicks.groupBy(col("user_id"), col("ms"))
      .agg(max(col("vm")).as("vm"))
    val buckets = samples.groupBy(col("user_id"),
        (col("ms") - pmod(col("ms"), lit(stepMs))).as("bucket_start_ms"))
      .agg(min(col("ms")).as("first_num_time"),
        min_by(col("vm"), col("ms")).as("first_num_value"),
        max(col("ms")).as("last_num_time"),
        max_by(col("vm"), col("ms")).as("last_num_value"))
    lerpFill(buckets, Seq("user_id"), stepMs,
      point = v => v.cast("double") / 1000.0,
      lerp = (pt, pv, nt, nv, t) =>
        (pv * (nt - t) + nv * (t - pt)).cast("double")
          / ((nt - pt) * lit(1000L)).cast("double"))
      .select(col("user_id"), col("tick_ms").as("ms"),
        col("lerp_value").as("interp_value"))
  }

  /** Trailing N-bucket moving average over hourly buckets — the Grafana
    * `timedMovingAverage` panel ("24h moving average, sampled hourly")
    * and the parquet twin of the pushed
    * [[graft.sources.InfluxRollupRead.movingAvgRead]]. EXACTLY
    * decomposable over bucket partials: the trailing window is a union
    * of whole buckets, so per-bucket (sum, count) pairs are sufficient
    * statistics — the RANGE frame re-sums them and divides ONCE. The
    * frame is a RANGE over bucket_ms, so absent buckets contribute
    * nothing (never a rows-frame over a densified grid); sums are
    * milli-quantized BIGINTs, bit-exact cross-engine, one terminal
    * division. One keyed shuffle; the window reuses the groupBy's
    * partitioning. */
  def movingHourly(events: DataFrame, stepMs: Long = 3600000L,
                   lookback: Int = 24): DataFrame = {
    require(lookback >= 1, s"movingHourly: lookback must be ≥ 1, got $lookback")
    val b = events
      .withColumn("ms", unix_millis(col("ts")))
      .groupBy(col("event_type"),
        (col("ms") - pmod(col("ms"), lit(stepMs))).as("bucket_ms"))
      .agg(sum(floor(col("value") * 1000).cast("long")).as("svm"),
        count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("bucket_ms").asc)
      .rangeBetween(-(lookback - 1L) * stepMs, 0L)
    b.select(col("event_type"), col("bucket_ms"),
      (sum(col("svm")).over(w).cast("double") /
        (sum(col("cnt")).over(w) * lit(1000L)).cast("double"))
        .as("moving_avg"))
  }

  /** Bollinger bands — the monitoring overlay drawn over every moving
    * average: trailing mean ± k·σ per (type, bucket), composed from the
    * SAME per-bucket raw moments the dispersion panel pushes (n, Σv,
    * Σv²): the trailing window is a union of whole buckets, so re-summed
    * moments are sufficient statistics and no sample is ever revisited.
    * Milli-quantized moments (floor(v·1000) as BIGINT, its square summed
    * as DECIMAL(38,0) — a BIGINT square would silently wrap at
    * |v| ≳ 3e6 while the oracle's HUGEINT kept going) make the window
    * sums exact cross-engine for |v| < ~5.6e14; the finish is one fixed
    * IEEE sequence (mean = S/(N·1000); σ = sqrt((S2−S²/N)/(N−1))/1000;
    * mid ± k·σ). `n` counts NUMERIC samples (count(value), matching
    * [[stddevHourly]] and the pushed bollingerMerged's count_value —
    * a NULL-valued row contributes to no moment, so it must not inflate
    * the divisor either). Bands are NULL when the window holds < 2
    * numeric samples. Exchanges: ONE partial-aggregated bucket rollup,
    * then the window re-partitions by type — width = types × buckets,
    * never samples. */
  def bollingerHourly(events: DataFrame, stepMs: Long = 3600000L,
                      lookback: Int = 24, k: Double = 2.0): DataFrame = {
    require(lookback >= 1,
      s"bollingerHourly: lookback must be ≥ 1, got $lookback")
    val vm = floor(col("value") * 1000).cast("long")
    val vmd = vm.cast(DecimalType(19, 0))
    val b = events
      .withColumn("ms", unix_millis(col("ts")))
      .groupBy(col("event_type"),
        (col("ms") - pmod(col("ms"), lit(stepMs))).as("bucket_ms"))
      .agg(sum(vm).as("svm"), sum(vmd * vmd).as("s2vm"),
        count(col("value")).as("cnt"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("bucket_ms").asc)
      .rangeBetween(-(lookback - 1L) * stepMs, 0L)
    val n = sum(col("cnt")).over(w)
    val s = sum(col("svm")).over(w).cast("double")
    val s2 = sum(col("s2vm")).over(w).cast("double")
    val mid = s / (n.cast("double") * lit(1000.0))
    val sigma =
      sqrt((s2 - s * s / n.cast("double")) / (n - 1).cast("double")) /
        lit(1000.0)
    b.select(col("event_type"), col("bucket_ms"), n.as("n"), mid.as("mid"),
      when(n < 2, lit(null).cast("double"))
        .otherwise(mid + lit(k) * sigma).as("upper"),
      when(n < 2, lit(null).cast("double"))
        .otherwise(mid - lit(k) * sigma).as("lower"))
  }

  /** Band-excursion detector — the alert rule drawn from the Bollinger
    * overlay: every event whose value leaves its (type, bucket)'s
    * trailing band, with the breach direction. The band table is
    * types × buckets (bounded at any corpus scale) and BROADCASTS; the
    * event stream is scanned once and never shuffles — the detector is
    * a broadcast-join projection over the panel the dispersion rollup
    * already paid for. An event in a window with < 2 samples has NULL
    * bands and never alerts (no dispersion, no excursion), exactly the
    * batch panel's NULL-band contract. */
  def bandExcursions(events: DataFrame, stepMs: Long = 3600000L,
                     lookback: Int = 24, k: Double = 2.0): DataFrame = {
    val bands = bollingerHourly(events, stepMs, lookback, k)
      .select(col("event_type").as("bt"), col("bucket_ms").as("bb"),
        col("upper"), col("lower"))
    events
      .withColumn("ms", unix_millis(col("ts")))
      .withColumn("bucket_ms",
        col("ms") - pmod(col("ms"), lit(stepMs)))
      .join(broadcast(bands),
        col("event_type") === col("bt") && col("bucket_ms") === col("bb"))
      .filter(col("value") > col("upper") || col("value") < col("lower"))
      .select(col("event_id"), col("event_type"), col("bucket_ms"),
        col("value"),
        when(col("value") > col("upper"), lit("above"))
          .otherwise(lit("below")).as("breach"))
  }

  /** Per-bucket trapezoid integral — the "energy from power" panel
    * (InfluxDB Flux `aggregateWindow(fn: integral)` parity: the area
    * under the linearly-interpolated curve of consecutive samples
    * WITHIN each window; pairs crossing a window boundary contribute
    * nothing, exactly Flux's windowed-integral convention) and the
    * parquet twin of the pushed
    * [[graft.sources.InfluxRollupRead.integralRead]]. Samples dedup
    * per (series, ms) first (max value — the deterministic tie-break
    * every panel here uses), then ONE keyed window (lead) pairs each
    * sample with its successor and the pair's doubled milli-quantized
    * area `(vm_i + vm_{i+1})·Δms` accumulates as a BIGINT — exact
    * cross-engine, ONE terminal division renders value·seconds. A
    * bucket with samples but no same-bucket pair emits 0.0 (Flux's
    * single-point-window integral); an empty bucket emits nothing.
    * One keyed shuffle; the groupBy reuses the window's partitioning. */
  def integralHourly(events: DataFrame, stepMs: Long = 3600000L): DataFrame = {
    require(stepMs > 0, s"integralHourly: stepMs must be positive, got $stepMs")
    // null samples carry no reading (the statistics-family posture): a
    // null vm would otherwise enter the dedup max and the lead() pair
    // chain and silently drop both adjacent trapezoids
    val s = events
      .filter(col("value").isNotNull)
      .select(col("event_type"), unix_millis(col("ts")).as("ms"),
        floor(col("value") * 1000).cast("long").as("vm"))
      .groupBy(col("event_type"), col("ms")).agg(max(col("vm")).as("vm"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("ms").asc)
    val p = s.withColumn("nms", lead(col("ms"), 1).over(w))
      .withColumn("nvm", lead(col("vm"), 1).over(w))
    p.groupBy(col("event_type"),
        (col("ms") - pmod(col("ms"), lit(stepMs))).as("bucket_ms"))
      .agg(sum(
        when(col("nms").isNotNull &&
          col("nms") - pmod(col("nms"), lit(stepMs)) ===
            col("ms") - pmod(col("ms"), lit(stepMs)),
          (col("vm") + col("nvm")) * (col("nms") - col("ms")))
          .otherwise(lit(0L))).as("num2m"))
      .select(col("event_type"), col("bucket_ms"),
        (col("num2m").cast("double") / lit(2000000.0)).as("integral"))
  }

  /** Per-bucket TIME-WEIGHTED mean of the LOCF signal — the Home
    * Assistant long-term-statistics `mean` (a sensor that read 20° for
    * 55 minutes and 10° for 5 averages 19.2, not 15): each sample's
    * value holds from its timestamp until the next sample, the hold
    * interval is split across the hour buckets it overlaps, and each
    * bucket averages value·ms over covered ms. Samples dedup per
    * (series, ms) (max value) so the hold chain is well-defined; the
    * split is a map-side `explode(sequence)` over the buckets a hold
    * interval spans. TOTAL exploded rows per series are grid-bounded
    * (holds partition the covered span, so Σ buckets-spanned ≤ grid
    * size + sample count), but the PER-ROW sequence array grows with a
    * single hold's length ÷ stepMs — a pathologically sparse series
    * (one sample, then one a year later, on a 1 ms grid) would
    * materialize one giant array; such rows raise a clear error at
    * 2^20 buckets per hold instead of OOMing an executor. All sums are
    * BIGINT (milli-quantized value × ms), exact
    * cross-engine, ONE terminal division. The series' last sample
    * holds nothing (no successor bounds its interval), so coverage
    * runs [first sample, last sample) — buckets outside it emit no
    * row. One keyed window shuffle + one keyed aggregate. */
  def twaHourly(events: DataFrame, stepMs: Long = 3600000L): DataFrame =
    twaPartialsHourly(events, stepMs)
      .select(col("event_type"), col("bucket_ms"),
        (col("num").cast("double") /
          (col("cov") * lit(1000L)).cast("double")).as("twa"))

  /** The EXACT per-bucket partials behind [[twaHourly]] —
    * (Σ value·ms milli-quantized BIGINT, Σ covered-ms BIGINT) per
    * (series, bucket). Exposed because the pair is the MERGEABLE half of
    * the statistics family: BIGINT sums regroup associatively, so
    * re-bucketing these partials onto any coarser grid
    * ([[statisticsCompact]]) is bit-identical to computing at the coarse
    * grid directly — the property the divided `twa` double loses. */
  private[graft] def twaPartialsHourly(events: DataFrame,
                                       stepMs: Long): DataFrame = {
    require(stepMs > 0, s"twaHourly: stepMs must be positive, got $stepMs")
    // NULL-valued rows carry no sample — a lone null would close the prior
    // hold and contribute a null num piece. Filtering keeps the hold chain
    // defined over values only, the exact posture of
    // statisticsPartialsStream (the maintained twin stays bit-equal on
    // inputs containing nulls).
    val s = events
      .filter(col("value").isNotNull)
      .select(col("event_type"), unix_millis(col("ts")).as("ms"),
        floor(col("value") * 1000).cast("long").as("vm"))
      .groupBy(col("event_type"), col("ms")).agg(max(col("vm")).as("vm"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("ms").asc)
    val seg = s.withColumn("nms", lead(col("ms"), 1).over(w))
      .filter(col("nms").isNotNull)
    val b = col("b")
    val bStart = col("ms") - pmod(col("ms"), lit(stepMs))
    val bEnd = (col("nms") - 1) - pmod(col("nms") - 1, lit(stepMs))
    // per-hold bucket-span guard: fail loudly, not by executor OOM
    val holdBuckets = (bEnd - bStart) / lit(stepMs) + lit(1L)
    val guardedEnd = when(holdBuckets <= lit(1L << 20), bEnd)
      .otherwise(raise_error(concat(
        lit("twaHourly: a single LOCF hold spans "), holdBuckets,
        lit(s" buckets at stepMs=$stepMs (limit 2^20) — widen stepMs " +
          "or pre-split the hold"))).cast("long"))
    seg
      .select(col("event_type"), col("ms"), col("vm"), col("nms"),
        explode(sequence(bStart, guardedEnd, lit(stepMs))).as("b"))
      .select(col("event_type"), b.as("bucket_ms"),
        (col("vm") * (least(col("nms"), b + lit(stepMs)) -
          greatest(col("ms"), b))).as("num"),
        (least(col("nms"), b + lit(stepMs)) -
          greatest(col("ms"), b)).as("cov"))
      .groupBy(col("event_type"), col("bucket_ms"))
      .agg(sum(col("num")).as("num"), sum(col("cov")).as("cov"))
  }

  /** The full per-bucket Home Assistant LONG-TERM-STATISTICS row —
    * (time-weighted mean, min, max) per (series, bucket), the parquet
    * twin of [[graft.sources.InfluxRollupRead.statisticsRead]]. The mean
    * is [[twaHourly]] verbatim (LOCF holds split across buckets, BIGINT
    * value·ms, ONE division — defined over the per-(series, ms) deduped
    * chain); min/max aggregate ALL rows per bucket (no arithmetic, so
    * exact cross-engine). The two sides FULL OUTER join on (series,
    * bucket): a hold-covered bucket with no samples carries a mean with
    * NULL min/max, a bucket holding only the series' last sample carries
    * min/max with a NULL mean — the same two asymmetries the pushed read
    * exhibits. Both join inputs are series × buckets (bucket-level
    * cardinality, never samples), so the full-outer shuffle is bounded
    * at any corpus scale. */
  def statisticsHourly(events: DataFrame,
                       stepMs: Long = 3600000L): DataFrame =
    statFinish(statisticsPartialsHourly(events, stepMs))

  /** The EXACT per-bucket partials behind [[statisticsHourly]] —
    * (num, cov) from [[twaPartialsHourly]] FULL OUTER joined with the
    * per-bucket min/max — every slot a BIGINT sum or a plain extreme, so
    * the whole row regroups associatively onto any coarser grid. This is
    * the table an incremental long-term-statistics pipeline PERSISTS:
    * the divided mean cannot be re-aggregated, these partials can. */
  def statisticsPartialsHourly(events: DataFrame,
                               stepMs: Long = 3600000L): DataFrame = {
    val twa = twaPartialsHourly(events, stepMs)
    // min/max skip nulls anyway, but a bucket holding ONLY null samples
    // would otherwise emit an all-NULL row the streaming twin never sees —
    // share one null posture across both twins
    val mm = events
      .filter(col("value").isNotNull)
      .select(col("event_type"), unix_millis(col("ts")).as("ms"),
        col("value"))
      .groupBy(col("event_type"),
        (col("ms") - pmod(col("ms"), lit(stepMs))).as("bucket_ms"))
      .agg(min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
    twa.join(mm, Seq("event_type", "bucket_ms"), "full_outer")
      .select(col("event_type"), col("bucket_ms"), col("num"), col("cov"),
        col("min_value"), col("max_value"))
  }

  private def statFinish(partials: DataFrame): DataFrame =
    partials.select(col("event_type"), col("bucket_ms"),
      (col("num").cast("double") /
        (col("cov") * lit(1000L)).cast("double")).as("twa"),
      col("min_value"), col("max_value"))

  /** Statistics COMPACTION — Home Assistant's short-term→long-term
    * rollup (5-minute statistics compact into hourly rows; here any fine
    * grid compacts by an integer factor): re-bucket the
    * [[statisticsPartialsHourly]] rows onto the coarse grid and re-sum.
    * The result is BIT-IDENTICAL to running [[statisticsHourly]] at the
    * coarse step directly, because every slot is mergeable — BIGINT
    * value·ms and covered-ms sums regroup associatively (integer
    * addition, no FP), min/max are idempotent extremes, and the LOCF
    * hold-split at the fine grid partitions exactly the same covered
    * span the coarse split does. That identity is what lets a 100 TB
    * pipeline maintain long-term statistics INCREMENTALLY: persist the
    * fine partials once, compact forever, never re-read raw samples.
    * `offsetMs` shifts the coarse grid (HA compacts hourly statistics
    * into LOCAL-midnight days — a UTC-5 home's daily row covers
    * [05:00Z, 05:00Z)); it must be a multiple of the fine step, because
    * re-bucketing is exact only when every coarse boundary IS a fine
    * boundary. ONE partial-aggregated groupBy over bucket rows
    * (series × fine buckets — never samples). */
  def statisticsCompact(partials: DataFrame, factor: Int,
                        fineStepMs: Long = 3600000L,
                        offsetMs: Long = 0L): DataFrame =
    statFinish(
      statisticsCompactPartials(partials, factor, fineStepMs, offsetMs))

  /** PARTIALS → coarser PARTIALS — the hierarchical form of
    * [[statisticsCompact]]: the same re-bucketing WITHOUT the terminal
    * finish, so rollup tiers CHAIN (hour → day → week → month) with each
    * tier persisting its own — ever smaller — partials table and
    * compacting from the tier below, never from raw samples (Home
    * Assistant's own retention ladder, and every warehouse's). The output
    * schema is the input schema, and every slot regroups associatively
    * (BIGINT sums, idempotent extremes), so compacting by a then by b is
    * bit-identical to compacting by a·b in one step — oracle-gated by
    * `events_statistics_weekly_chained`. */
  def statisticsCompactPartials(partials: DataFrame, factor: Int,
                                fineStepMs: Long = 3600000L,
                                offsetMs: Long = 0L): DataFrame = {
    require(factor > 0 && fineStepMs > 0,
      s"statisticsCompact: factor/fineStepMs must be positive, got " +
        s"$factor/$fineStepMs")
    require(offsetMs % fineStepMs == 0,
      s"statisticsCompact: offsetMs ($offsetMs) must be a multiple of the " +
        s"fine step ($fineStepMs) — a coarse boundary off the fine grid " +
        "would split fine buckets the partials already merged")
    val coarse = lit(fineStepMs * factor)
    partials
      .groupBy(col("event_type"),
        (col("bucket_ms") -
          pmod(col("bucket_ms") - lit(offsetMs), coarse)).as("bucket_ms"))
      .agg(sum(col("num")).as("num"), sum(col("cov")).as("cov"),
        min(col("min_value")).as("min_value"),
        max(col("max_value")).as("max_value"))
  }

  /** STATISTICS partials → CALENDAR-bucket partials —
    * [[statisticsCompactPartials]]' calendar sibling ([[
    * counterStatsCalendarPartials]] documents the bucket mapping and its
    * exactness conditions): HA compacts long-term statistics into
    * local-calendar months for its history panels, and calendar months
    * (28–31 days) fit no fixed grid. Every slot stays mergeable — BIGINT
    * value·ms/covered-ms sums regroup onto any partition of the fine
    * buckets, min/max are idempotent — so the calendar row is bit-equal
    * to computing the month directly from the fine pieces (oracle-gated
    * by `events_statistics_monthly_local`). */
  def statisticsCalendarPartials(partials: DataFrame, unit: String,
                                 tz: String): DataFrame =
    partials
      .groupBy(col("event_type"),
        calendarBucket(col("bucket_ms"), unit, tz).as("bucket_ms"))
      .agg(sum(col("num")).as("num"), sum(col("cov")).as("cov"),
        min(col("min_value")).as("min_value"),
        max(col("max_value")).as("max_value"))

  /** Finished calendar statistics row (twa/min/max per calendar bucket in
    * `tz`) — [[statisticsCompact]]'s calendar sibling. */
  def statisticsCalendarCompact(partials: DataFrame, unit: String,
                                tz: String): DataFrame =
    statFinish(statisticsCalendarPartials(partials, unit, tz))

  /** TIER-STITCHED statistics partials — [[counterStatsTierPartials]]'
    * sibling for the mean-statistics family: coarse buckets strictly
    * before `cutoffMs`, fine at-or-after. Every slot regroups
    * associatively, so the stitched rows finish with the ordinary
    * per-bucket [[statFinish]] — no cross-bucket state crosses the seam
    * at all. The cutoff must sit on the coarse grid. */
  def statisticsTierPartials(fine: DataFrame, coarse: DataFrame,
                             cutoffMs: Long, coarseStepMs: Long,
                             offsetMs: Long = 0L): DataFrame =
    tierPartials(fine, coarse, "bucket_ms", cutoffMs, coarseStepMs,
      offsetMs)

  /** STATISTICS calendar tier stitch — [[counterStatsCalendarTierPartials]]'
    * sibling for the mean-statistics family: local-calendar-day
    * statistics partials ([[statisticsCalendarPartials]] with
    * unit="DAY") serve history strictly before the local-midnight
    * cutoff, hourly partials recency after. Every slot regroups
    * associatively (BIGINT num/cov sums, idempotent extremes) and
    * calendar-day buckets nest inside every coarser calendar unit of
    * the same zone, so [[statisticsCalendarCompact]] over the stitched
    * rows is bit-equal to the untiered calendar view — oracle-gated by
    * `events_statistics_monthly_tiered`. */
  def statisticsCalendarTierPartials(fine: DataFrame,
                                     calendarDaily: DataFrame,
                                     cutoffMs: Long,
                                     tz: String): DataFrame =
    calendarTierPartials(fine, calendarDaily, "bucket_ms", cutoffMs, tz)

  /** The finished tier-stitched STATISTICS panel: one frame, daily rows
    * where only the coarse tier survives and hourly rows where the fine
    * tier still exists — the exact read a 100 TB retention ladder serves
    * (the fine table is dropped past the retention window; the panel
    * must not notice). Gated hash-exact against a direct-from-raw-events
    * mixed-granularity oracle by `events_statistics_range_tiered`. */
  def statisticsTierStitch(fine: DataFrame, coarse: DataFrame,
                           cutoffMs: Long, coarseStepMs: Long,
                           offsetMs: Long = 0L): DataFrame =
    statFinish(
      statisticsTierPartials(fine, coarse, cutoffMs, coarseStepMs, offsetMs))

  /** Per-user OLS trend of value over time (the closed-form regression a
    * monitoring pipeline fits per entity): slope/intercept from the five
    * sufficient statistics (n, Σx, Σy, Σxy, Σx²), each summed EXACTLY as
    * DECIMAL — so partial-aggregation order can't perturb them — then one
    * identical double-arithmetic tail on both engines. x = whole seconds
    * since 2024-01-01 (the fixture origin): centering keeps every
    * statistic under 2^53, where BOTH engines' decimal→double casts are
    * exact (above it DuckDB's hugeint conversion is not correctly rounded
    * and a 1-ulp sxx error explodes through the cancellation in the
    * denominator — observed, not hypothetical), and it conditions the
    * intercept. One user-keyed partial-aggregated shuffle, constant state
    * per user. Degenerate users (zero x-variance) are filtered, not
    * divided by.
    *
    * Skew posture: per-user skew CANNOT hurt this shape — a dominant
    * user's rows combine map-side into the same 5-number state as anyone
    * else's, so the exchange carries O(tasks × users) constant-width rows
    * no matter how the input is distributed (asserted partial-before-
    * exchange in EventsExtSpec); no salting needed, ever. */
  def userTrend(events: DataFrame): DataFrame = {
    val ms = unix_millis(col("ts"))
    val x = ((ms - pmod(ms, lit(1000L))) / 1000).cast("long") - lit(EpochS2024)
    // DECIMAL(19,0): big enough for epoch seconds squared, small enough
    // that x·x (19+19=38) and x·y (19+18=37) stay inside BOTH engines'
    // 38-digit multiply limit (DuckDB errors past it; Spark would truncate)
    val xd = x.cast(DecimalType(19, 0))
    val yd = col("value").cast(DecimalType(18, 2))
    val stats = events
      .select(col("user_id"), xd.as("x"), yd.as("y"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("y")).cast("double").as("sxy"),
        sum(col("x") * col("x")).cast("double").as("sxx"))
    val denom = col("n") * col("sxx") - col("sx") * col("sx")
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) / denom
    // NO rounding: the five sums are exact DECIMALs cast to double, and
    // the closed-form tail is the same IEEE op sequence in both engines —
    // verified bit-identical against DuckDB. (Rounding would BREAK parity:
    // Spark rounds via exact BigDecimal HALF_UP, DuckDB via *1e6+rint —
    // they disagree exactly at the half-ulp boundaries.)
    stats.filter(denom =!= 0.0)
      .select(col("user_id"), col("n").cast("long").as("n_events"),
        slope.as("slope_per_sec"),
        ((col("sy") - slope * col("sx")) / col("n")).as("intercept"))
  }

  /** 2024-01-01T00:00:00Z in epoch seconds — the events fixture's origin. */
  private val EpochS2024 = 1704067200L

  /** Robust scaling per event type: (value − median) / IQR — the
    * outlier-insensitive normalization a feature pipeline prefers over
    * z-scores when values are heavy-tailed. Exact `percentile` (linear
    * interpolation ≡ DuckDB quantile_cont — the same cross-engine identity
    * events_value_quantiles proves) over a constant-cardinality event-type
    * dimension, broadcast back onto the stream; zero-IQR types are
    * filtered, not divided by. At corpus scale the exact percentile is the
    * oracle baseline — the sketch twin (events_quantiles_sketch) is the
    * single-pass path. */
  def robustScale(events: DataFrame): DataFrame = {
    val stats = events.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"),
        expr("percentile(value, 0.25)").as("q1"),
        expr("percentile(value, 0.75)").as("q3"))
      .filter(col("q3") =!= col("q1"))
    events.join(broadcast(stats), "event_type")
      .select(col("event_id"), col("event_type"),
        ((col("value") - col("med")) / (col("q3") - col("q1"))).as("scaled"))
  }

  /** Cohort retention matrix: users grouped by first-seen day, counted
    * distinct on every later active day (as a day offset) — the classic
    * product-analytics triangle. Three user-keyed shuffles (first-seen
    * agg, active-day dedup, the join), then a tiny (cohort, offset) agg;
    * nothing fans out beyond (user, day) pairs. */
  def retention(events: DataFrame): DataFrame = {
    val day = unix_millis(date_trunc("DAY", col("ts")))
    val firstDay = events.groupBy(col("user_id")).agg(min(day).as("cohort_ms"))
    val active = events.select(col("user_id"), day.as("day_ms")).distinct()
    active.join(firstDay, "user_id")
      .groupBy(col("cohort_ms"),
        ((col("day_ms") - col("cohort_ms")) / 86400000L).cast("long")
          .as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Per-user z-score anomalies: events more than `sigmas` population
    * standard deviations from their user's mean value. Σy and Σy² are
    * exact DECIMAL sums (value is 2dp → y² is 4dp) well under 2^53, so
    * mean/std/z are the same IEEE tail in both engines — the same
    * exactness contract as [[userTrend]]. One user-keyed aggregate joined
    * back onto the stream UNHINTED — the stats side is per-user and grows
    * with the corpus, so AQE picks broadcast at small scale and a
    * co-partitioned shuffle join at large; zero-variance users can't
    * divide by zero (they're filtered before the join). */
  def valueAnomalies(events: DataFrame, sigmas: Double = 1.6): DataFrame = {
    val yd = col("value").cast(DecimalType(18, 2))
    val stats = events.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(yd).cast("double").as("sy"),
        sum(yd * yd).cast("double").as("syy"))
      // gate on the VARIANCE, not sd =!= 0: double cancellation in
      // syy/n - m² can go negative (sd = NaN, which passes a =!= filter
      // and satisfies abs(NaN) >= sigmas under Spark's NaN ordering) —
      // var > 0 excludes both the NaN and the zero-variance tails before
      // sqrt, mirroring the streaming detector's variance > 0 check
      .select(col("user_id"), (col("sy") / col("n")).as("m"),
        (col("syy") / col("n") - (col("sy") / col("n")) * (col("sy") / col("n")))
          .as("vr"))
      .filter(col("vr") > 0.0)
      .select(col("user_id"), col("m"), sqrt(col("vr")).as("sd"))
    events.join(stats, "user_id")
      .select(col("event_id"), col("user_id"),
        ((col("value") - col("m")) / col("sd")).as("z"))
      .filter(abs(col("z")) >= sigmas)
  }

  /** Morton (Z-order) layout key over (user_id, floor(value)) — the
    * multi-dimensional clustering key for data-skipping writes: range-
    * partitioning + sorting by this key keeps BOTH dimensions' per-file
    * min/max ranges narrow, so predicates on either column prune files
    * (Delta/Iceberg `OPTIMIZE ZORDER BY`, re-expressed as one codegen'd
    * [[org.apache.spark.sql.graft.ZOrderKey]] projection — no shuffle
    * here; the layout pass is the caller's `repartitionByRange(zkey)`). */
  def zorderKeys(events: DataFrame): DataFrame = {
    val zkey = org.apache.spark.sql.GraftColumnBridge.column(
      org.apache.spark.sql.graft.ZOrderKey(
        org.apache.spark.sql.GraftColumnBridge.expression(
          array(col("user_id").cast("int"), floor(col("value")).cast("int")))))
    events.select(col("event_id"), zkey.as("zkey"))
  }

  /** Hilbert-curve layout key over the same (user_id, floor(value))
    * coordinates as [[zorderKeys]] — strictly better locality than Morton
    * (consecutive keys are always adjacent cells, so range-partitioned
    * files get tighter bounding boxes on both columns). Same shape: one
    * codegen [[org.apache.spark.sql.graft.HilbertKey]] projection, no
    * shuffle; the layout pass is the caller's `repartitionByRange(hkey)`. */
  def hilbertKeys(events: DataFrame): DataFrame = {
    val hkey = org.apache.spark.sql.GraftColumnBridge.column(
      org.apache.spark.sql.graft.HilbertKey(
        org.apache.spark.sql.GraftColumnBridge.expression(
          array(col("user_id").cast("int"), floor(col("value")).cast("int")))))
    events.select(col("event_id"), hkey.as("hkey"))
  }

  /** [[sessionize]] via Spark's NATIVE `session_window` — the built-in the
    * custom lag/cumsum formulation should be measured against (same
    * one-shuffle plan, but the merge runs inside the aggregate instead of
    * two window passes, and the identical code drives the streaming
    * variant). Two semantic notes, both spec'd: (1) the builtin's window
    * end is INCLUSIVE — an event exactly gap later still merges — so it
    * matches the custom operator's strict-> split bit for bit (asserted
    * at the boundary, not assumed from the docs); (2) the input is
    * ms-truncated BEFORE windowing so the gap comparison happens at the
    * same precision the epoch-ms oracle sees (raw micros would flip
    * exactly-boundary pairs). */
  def sessionizeNative(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .withColumn("tsm", date_trunc("MILLISECOND", col("ts")))
      .withColumn("ms", unix_millis(col("tsm")))
      .groupBy(col("user_id"),
        session_window(col("tsm"), s"$gapMinutes minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ms")).as("session_start_ms"),
        max(col("ms")).as("session_end_ms"))
      .select(col("user_id"), col("n_events"),
        col("session_start_ms"), col("session_end_ms"))

  /** Per-user EWMA level (exponential smoothing, α = 1/2): the smoothed
    * "current value" a monitoring/feature pipeline carries per entity.
    * α = 1/2 makes the recursion s_t = (s_{t-1} + v_t) div 2 EXACT
    * integer arithmetic over milli-quantized values (floor(v·1000) —
    * floor, not cast: DuckDB's double→BIGINT cast rounds while Spark's
    * truncates, but floor agrees bit-for-bit; values are non-negative so
    * Spark's truncating `div` ≡ DuckDB's flooring `//`). The fold order
    * is pinned by (ms, event_id), so the whole recursive trace is
    * oracle-exact — same contract as the PageRank fixpoint.
    *
    * Scale posture: ONE user-keyed shuffle; the fold runs map-side over
    * each user's collected history via the `aggregate` HOF. Per-entity
    * history must fit a task (same bound as every per-user window in
    * this file); for unbounded streams the running-stats twin is
    * [[graft.streaming.StreamingEvents.anomaliesStream]]'s state shape —
    * three numbers per user, no history. */
  def ewmaLevel(events: DataFrame): DataFrame =
    events
      .withColumn("ms", unix_millis(date_trunc("MILLISECOND", col("ts"))))
      .withColumn("vm", floor(col("value") * 1000).cast("long"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sort_array(collect_list(struct(col("ms"), col("event_id"), col("vm"))))
          .as("h"))
      .select(col("user_id"), col("n_events"),
        expr("aggregate(slice(h, 2, size(h) - 1), element_at(h, 1).vm, " +
          "(acc, x) -> (acc + x.vm) div 2)").as("ewma_milli"))

  /** Top event value per user via window (deterministic tie-break). */
  def lastEventPerUser(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms").desc, col("event_id").desc)
    events
      .withColumn("ms", unix_millis(date_trunc("MILLISECOND", col("ts"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ms").as("ts_ms"))
  }

  /** Last-of-bucket downsample — the batch mirror of the Influx source's
    * pushed Flux `last()` (`max_by(value, time_ms)` per series per hour,
    * the Grafana dashboard resolution-reduction): per (type, hour) the
    * value at the greatest timestamp plus that timestamp. Equal-ms
    * collisions collapse FIRST to max(value) per (type, ms) — the same
    * dedup rule resampleLocf uses — so the max_by ordering key is unique
    * and the result deterministic in BOTH engines (raw max_by/arg_max tie
    * behavior is engine-arbitrary). Two partial-aggregated shuffles, the
    * second over the already-collapsed per-ms points. */
  def downsampleLast(events: DataFrame): DataFrame = {
    val pts = events
      .withColumn("ms", unix_millis(date_trunc("MILLISECOND", col("ts"))))
      .groupBy(col("event_type"), col("ms")).agg(max(col("value")).as("v"))
    pts.groupBy(col("event_type"), expr("ms div 3600000").as("hour_bucket"))
      .agg(count(lit(1)).as("n_points"),
        max_by(col("v"), col("ms")).as("last_value"),
        max(col("ms")).as("last_ms"))
  }

  /** Fixed-bin histogram quantiles — the MERGEABLE exact-arithmetic
    * alternative to the KLL/t-digest family for bounded-resolution data:
    * values land in integer bins (floor(v·binsPerUnit)), per-(type, bin)
    * counts aggregate with map-side partials, and the quantile is read off
    * the cumulative sum of the BOUNDED (type × occupied-bin) table — the
    * Window runs over the histogram, never over events. Shards build
    * histograms independently and merge by adding counts (the
    * 1000-executor property, same contract as the HLL registers), and the
    * answer is a deterministic upper bin boundary: est(q) =
    * (b+1)/binsPerUnit for the smallest bin b whose cumulative count
    * reaches ceil(q·n) — every step integer or a single fixed IEEE op, so
    * the estimate is bit-exact cross-engine, unlike an interpolated
    * quantile_cont at scale. Error is bounded by the bin width
    * (1/binsPerUnit) — `binsPerUnit` is the resolution knob: size it to
    * the data's value range so the histogram stays bounded while the
    * error bound matches the data's native resolution (deci-units by
    * default; the fixture's two-decimal values are exact at 100). */
  def histQuantiles(events: DataFrame,
                    qs: Seq[Double] = Seq(0.5, 0.9, 0.99),
                    binsPerUnit: Int = 10): DataFrame = {
    require(binsPerUnit > 0, s"histQuantiles: binsPerUnit must be positive")
    val hist = events
      .select(col("event_type"),
        floor(col("value") * binsPerUnit).cast("long").as("bin"))
      .groupBy(col("event_type"), col("bin")).agg(count(lit(1)).as("n"))
    quantilesFromHist(hist, Seq(col("event_type")), qs,
      b => b.cast("double") / binsPerUnit.toDouble, "n_events")
  }

  /** The cumulative-histogram quantile read-off — ONE implementation of
    * the deterministic "est(q) = upper(b) for the smallest bin b whose
    * cumulative count reaches ceil(q·n)" algebra, shared by the batch
    * fixed-bin quantiles above and the Influx pushed-histogram read
    * ([[graft.sources.InfluxRollupRead.histogramQuantiles]]) — the two
    * paths must stay bit-identical for the cross-path equivalence their
    * tests assert, so the frame/rank/boundary expressions live once.
    * `hist` carries (keys..., bin, n); `upperOf` inverts a bin index+1
    * to its upper value boundary. The Windows run over the BOUNDED
    * occupied-bin histogram, never over rows. */
  private[graft] def quantilesFromHist(hist: DataFrame, keys: Seq[Column],
                                       qs: Seq[Double],
                                       upperOf: Column => Column,
                                       totalName: String): DataFrame = {
    val wOrd = Window.partitionBy(keys: _*).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keys: _*)
    val c = hist
      .withColumn("cum", sum(col("n")).over(wOrd))
      .withColumn("total", sum(col("n")).over(wAll))
    val aggs = qs.map { q =>
      val rank = ceil(lit(q) * col("total").cast("double")).cast("long")
      upperOf(min(when(col("cum") >= rank, col("bin"))) + 1L)
        .as(s"p${(q * 100).toInt}_est")
    }
    c.groupBy(keys: _*).agg(max(col("total")).as(totalName), aggs: _*)
  }
}
