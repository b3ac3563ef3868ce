package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, MapType, StringType}

/** The core relational pipeline: every operator of SURVEY.md §2 (P1-P6,
  * J1-J2, F1-F9, O1) as composable Column functions plus the joined →
  * point-struct DataFrame.
  *
  * Scale posture: states_meta and state_attributes are deduplicated
  * dimension tables (one row per entity / per distinct attr blob) — both are
  * broadcast-joined so the fact scan of `states` never shuffles. The JSON
  * attribute blob is parsed on the `state_attributes` side, once per
  * distinct blob before the broadcast (`attrColumns`), so a state row only
  * picks up the parsed columns and coalesces a join miss to the defaults.
  * The reference's global ORDER BY (sqllite2influxdb.py:89-90) is *not* applied
  * here because the sink is order-insensitive (SURVEY §2.6 O1) — callers who
  * want bug-compat ordering sort explicitly.
  */
object Transform {

  /** Junk states dropped before any parsing (P3, sqllite2influxdb.py:104-105). */
  val junkStates: Seq[String] = Seq("unknown", "unavailable", "None")

  /** Attr keys never emitted as fields (P5, sqllite2influxdb.py:129-130). */
  val blockedKeys: Seq[String] = Seq("id", "id_str", "update_available")

  /** Keys force-coerced to float (F7, sqllite2influxdb.py:131-132). */
  val forceFloatKeys: Seq[String] =
    Seq("temperature", "humidity", "voc", "formaldehyd", "co2", "linkquality")

  /** Reference-exact numeric classifier (Q3): `s.replace('.','',1).isdigit()`
    * (sqllite2influxdb.py:122) = "all digits after removing at most one dot,
    * at least one digit" — so it accepts `.5` / `5.` as well as `12.3`, and
    * rejects sign, exponent, and a second dot. (Divergence kept: Python
    * isdigit also admits non-ASCII Unicode digits, on which the reference
    * would then crash in float(); we treat those as non-numeric.) */
  def isNumericLike(c: Column): Column =
    c.rlike("^([0-9]+\\.?[0-9]*|\\.[0-9]+)$")

  /** Saner opt-in classifier (Q3 flag): anything castable to double. */
  def isNumericCast(c: Column): Column = c.try_cast("double").isNotNull

  /** F1: split "domain.object_id" at the FIRST dot (sqllite2influxdb.py:106).
    * substring_index for the domain; substring-from-first-dot for the tail so
    * "sensor.esp.vindriktning" keeps its dotted object id intact. */
  def entityDomain(c: Column): Column = substring_index(c, ".", 1)
  def entityShort(c: Column): Column =
    c.substr(instr(c, ".") + 1, length(c))

  /** F2: permissive JSON→map parse; NULL / malformed input → empty map
    * (sqllite2influxdb.py:92-98 returns {} on error). */
  def parseAttrs(c: Column): Column =
    coalesce(from_json(c, MapType(StringType, StringType)),
      map().cast(MapType(StringType, StringType)))

  /** F3/Q5: friendly_name defaults to the short entity id
    * (sqllite2influxdb.py:109). */
  def friendlyName(attrs: Column, entityShort: Column): Column =
    coalesce(element_at(attrs, "friendly_name"), entityShort)

  /** F4: measurement = unit_of_measurement, default-then-remap — missing →
    * 'default_measurement' FIRST, then '' → 'count'
    * (sqllite2influxdb.py:110-113,118; order matters). */
  def measurement(attrs: Column): Column = {
    val defaulted =
      coalesce(element_at(attrs, "unit_of_measurement"), lit("default_measurement"))
    when(defaulted === "", lit("count")).otherwise(defaulted)
  }

  /** F5: epoch-seconds DOUBLE → timestamp (sqllite2influxdb.py:116), UTC
    * session (Q6). */
  def epochToTs(c: Column): Column = timestamp_seconds(c)

  /** P3 filter as a standalone op. */
  def filterJunk(df: DataFrame): DataFrame =
    df.filter(!col("state").isin(junkStates: _*))

  /** P2: incremental-backfill watermark predicate — keep rows strictly OLDER
    * than the sink's oldest point (sqllite2influxdb.py:88-89). Numeric
    * epoch-to-epoch compare (quirk Q2: the reference's string compare was
    * vacuously true; we implement the intended semantics). */
  def olderThan(tsMs: Column, watermarkMs: Long): Column = tsMs < lit(watermarkMs)

  /** Attr map with blocklisted keys removed (P5). */
  def withoutBlocked(attrs: Column): Column =
    map_filter(attrs, (k, _) => !k.isin(blockedKeys: _*))

  /** F7/F9: split one string-valued attr map into (numeric, string) field
    * maps. A key is numeric when force-floated OR numeric-looking; a
    * force-float value that fails the cast becomes NULL and is dropped —
    * field skipped, row survives (quirk Q4, sqllite2influxdb.py:138-139).
    * A cast that yields NaN or ±Infinity (`NaN`, `inf`, `1e400`, …) is
    * dropped by the same rule: line protocol has no such float, and one
    * such field would make Influx reject its whole batch. (Spark orders
    * NaN above +Infinity, so `abs(v) < +Infinity` keeps exactly the
    * finite values.)
    */
  def numericFields(attrs: Column): Column = {
    val entries = map_entries(attrs)
    val casted = transform(entries, e =>
      struct(e.getField("key").as("key"),
        when(e.getField("key").isin(forceFloatKeys: _*) ||
          isNumericLike(e.getField("value")),
          e.getField("value").try_cast("double")).as("value")))
    map_from_entries(filter(casted, e =>
      abs(e.getField("value")) < lit(Double.PositiveInfinity)))
  }

  def stringFields(attrs: Column): Column = {
    val entries = map_entries(attrs)
    val kept = filter(entries, e =>
      !(e.getField("key").isin(forceFloatKeys: _*) ||
        isNumericLike(e.getField("value"))) ||
        (e.getField("key").isin(forceFloatKeys: _*) &&
          e.getField("value").try_cast("double").isNull))
    map_from_entries(kept)
  }

  /** Adapter from the real HA recorder shape (Schemas.states:
    * `last_updated_ts` REAL epoch-seconds, sqllite2influxdb.py:83) to the
    * pipeline's canonical epoch-ms column. round() recovers the exact ms
    * from the double round-trip (ms/1000.0*1000 is integer ± ~2^-20, never
    * near a rounding boundary). */
  def fromRecorder(states: DataFrame): DataFrame =
    states.withColumn("last_updated_ms",
      round(col("last_updated_ts") * 1000).cast("long"))

  /** The joined core: states ⋈ states_meta (J1 inner, broadcast) ⟕
    * state_attributes (J2 left, broadcast). Dimension sides are deduplicated
    * entity/attr tables — orders of magnitude smaller than the fact `states`
    * at any scale, so broadcasting removes both shuffles; at 100 TB the fact
    * table streams through map-side-only stages.
    */
  def joined(states: DataFrame, meta: DataFrame, attrs: DataFrame): DataFrame =
    states
      .join(broadcast(meta), Seq("metadata_id"), "inner")
      .join(broadcast(attrs), Seq("attributes_id"), "left")

  /** The attribute-derived columns, computed on `state_attributes` itself:
    * one JSON parse (F2, blocklist P5) per distinct blob, before the
    * broadcast, instead of one per state row after the join — the recorder
    * deduplicates blobs precisely so that rows share them. `extra` adds
    * further columns over the same parsed map. A state row whose blob is
    * missing gets NULLs here; [[corePipeline]] / [[flatPipeline]] coalesce
    * them to the empty-attrs defaults.
    */
  private def attrColumns(attrs: DataFrame,
                          extra: Column => Seq[Column] = _ => Nil): DataFrame = {
    // the parsed map is its own projection: subexpression elimination
    // never shares an input of a higher-order function (map_filter here),
    // so in one select every derived column would parse the blob again;
    // CollapseProject keeps a non-cheap column referenced twice apart
    val a = col("parsed_attrs")
    attrs.select(col("attributes_id"),
        withoutBlocked(parseAttrs(col("shared_attrs"))).as("parsed_attrs"))
      .select(Seq(col("attributes_id"),
        measurement(a).as("attr_measurement"),
        element_at(a, "friendly_name").as("attr_friendly_name")) ++ extra(a): _*)
  }

  /** Full pipeline to the typed point struct (SURVEY §1.4): filter junk,
    * split entity, parse+flatten attrs once per blob ([[attrColumns]]),
    * dispatch field types, assemble tags.
    * `state` itself becomes field "value" (numeric) or "state" (string)
    * (sqllite2influxdb.py:122-125); attr fields are concatenated AFTER so an
    * attr literally named "value"/"state" wins — last-writer-wins exactly as
    * the reference's point.field() ordering (quirk Q7). Requires
    * spark.sql.mapKeyDedupPolicy=LAST_WIN.
    */
  def corePipeline(states: DataFrame, meta: DataFrame, attrs: DataFrame,
                   watermarkMs: Option[Long] = None): DataFrame = {
    val blobs = attrColumns(attrs, a => Seq(
      numericFields(a).as("attr_num"), stringFields(a).as("attr_str")))
    val base0 = filterJunk(joined(states, meta, blobs))
    val base = watermarkMs.fold(base0)(w => base0.filter(olderThan(col("last_updated_ms"), w)))
    val eShort = entityShort(col("entity_id"))
    val stateNum = when(isNumericLike(col("state")), col("state").try_cast("double"))
    val noNum = map().cast(MapType(StringType, DoubleType))
    val noStr = map().cast(MapType(StringType, StringType))
    base.select(
      col("event_id"),
      coalesce(col("attr_measurement"), lit("default_measurement")).as("measurement"),
      map(
        lit("source"), lit("HA"),                         // F8 constant tag
        lit("domain"), entityDomain(col("entity_id")),
        lit("entity_id"), eShort,
        lit("friendly_name"), coalesce(col("attr_friendly_name"), eShort)).as("tags"),
      map_concat(
        when(stateNum.isNotNull, map(lit("value"), stateNum)).otherwise(noNum),
        coalesce(col("attr_num"), noNum)).as("fields_num"),
      map_concat(
        when(stateNum.isNull, map(lit("state"), col("state"))).otherwise(noStr),
        coalesce(col("attr_str"), noStr)).as("fields_str"),
      col("last_updated_ms").as("time_ms"))
  }

  /** The LONG-TERM-STATISTICS migration pipeline — the second half of a
    * real HA migration (the reference script moves `states`; the
    * recorder's `statistics` table holds the compacted history the
    * energy dashboard actually reads, and a user switching engines moves
    * it the same way). statistics ⋈ statistics_meta (inner, BROADCAST —
    * meta is one row per sensor, orders of magnitude smaller than the
    * hourly fact at any scale) → one flat point per (sensor, hour):
    * entity split by the first dot (F1), unit defaulted when absent in
    * EXACTLY the states half's F4 order (missing → 'default_measurement'
    * FIRST; the later '' → 'count' remap in [[statisticsPoints]] then
    * only fires on literal empty strings — so a unit-less sensor lands
    * in the SAME Influx measurement from both migration halves), and
    * HA's sensor typing respected — a mean-type sensor publishes
    * mean/min/max, a sum-type (has_sum) sensor state/sum. The recorder
    * carries both booleans; a meta table without a has_sum column (older
    * schema) falls back to NOT has_mean, and a sensor with neither flag
    * publishes neither triple, exactly the recorder's own column usage. */
  def statisticsPipeline(stats: DataFrame, meta: DataFrame): DataFrame = {
    val sumTyped =
      if (meta.columns.contains("has_sum")) col("has_sum")
      else !col("has_mean")
    stats.join(broadcast(meta), Seq("metadata_id"), "inner")
      .select(
        entityDomain(col("statistic_id")).as("domain"),
        entityShort(col("statistic_id")).as("entity_id_short"),
        coalesce(col("unit_of_measurement"), lit("default_measurement"))
          .as("unit"),
        when(col("has_mean"), col("mean")).as("mean"),
        when(col("has_mean"), col("min")).as("min_value"),
        when(col("has_mean"), col("max")).as("max_value"),
        when(sumTyped, col("state")).as("state"),
        when(sumTyped, col("sum")).as("sum_total"),
        col("start_ts_ms").as("time_ms"))
  }

  /** The statistics migration's POINT form — [[statisticsPipeline]]
    * assembled into the sink contract (Schemas.influxPoint), closing the
    * end-to-end loop: recorder statistics → transform → InfluxSink line
    * protocol. Measurement follows F4's default-then-remap order exactly
    * like the states half (the flat pipeline folded absent units to
    * 'default_measurement' FIRST; only a literal empty-string unit then
    * remaps to "count" here — same sensor, same measurement, from either
    * half); tags carry the F8 constant source, the split entity, AND a
    * constant `ha_type=statistics` marker so the two halves' watermarks
    * stay independent ([[graft.sources.InfluxWatermarkSource]] — the
    * states query excludes the marker, the statistics query requires it;
    * without it a states backfill would poison the statistics half's
    * reverse-incremental watermark and silently skip every newer row).
    * The field map holds ONLY the sensor type's own triple (mean-type:
    * mean/min/max; sum-type: state/sum — map_concat of conditional maps,
    * the corePipeline pattern, so no NULL-valued keys ever reach the
    * line protocol); a sensor typed NEITHER (has_mean and has_sum both
    * false) would render an empty field set — invalid line protocol — so
    * such rows are dropped here, mirroring the recorder's own empty
    * columns. */
  def statisticsPoints(stats: DataFrame, meta: DataFrame): DataFrame = {
    val flat = statisticsPipeline(stats, meta)
    val unitMeasurement =
      when(col("unit") === "", lit("count")).otherwise(col("unit"))
    def numMap(pairs: (String, Column)*): Column =
      pairs.map { case (k, v) =>
        when(v.isNotNull, map(lit(k), v)).otherwise(
          map().cast(MapType(StringType, DoubleType)))
      }.reduce(map_concat(_, _))
    flat.select(
      unitMeasurement.as("measurement"),
      map(
        lit("source"), lit("HA"),
        lit("ha_type"), lit("statistics"),
        lit("domain"), col("domain"),
        lit("entity_id"), col("entity_id_short")).as("tags"),
      numMap("mean" -> col("mean"), "min" -> col("min_value"),
        "max" -> col("max_value"), "state" -> col("state"),
        "sum" -> col("sum_total")).as("fields_num"),
      map().cast(MapType(StringType, StringType)).as("fields_str"),
      col("time_ms"))
      .filter(size(col("fields_num")) > 0)
  }

  /** Oracle-friendly flat projection of the same pipeline: well-known columns
    * only, no map types, so DuckDB can reproduce it with json_extract.
    * `withEventId=false` serves the real recorder shape, which carries no
    * row id (Schemas.states) — output is then a multiset keyed by content. */
  def flatPipeline(states: DataFrame, meta: DataFrame, attrs: DataFrame,
                   withEventId: Boolean = true): DataFrame = {
    val blobs = attrColumns(attrs, a => Seq(
      element_at(a, "temperature").try_cast("double").as("attr_temperature"),
      when(isNumericLike(element_at(a, "battery")),
        element_at(a, "battery").try_cast("double")).as("attr_battery")))
    val base = filterJunk(joined(states, meta, blobs))
    val eShort = entityShort(col("entity_id"))
    val idCols = if (withEventId) Seq(col("event_id")) else Seq.empty
    base.select(idCols ++ Seq(
      coalesce(col("attr_measurement"), lit("default_measurement")).as("measurement"),
      entityDomain(col("entity_id")).as("domain"),
      eShort.as("entity_id_short"),
      coalesce(col("attr_friendly_name"), eShort).as("friendly_name"),
      when(isNumericLike(col("state")), col("state").try_cast("double"))
        .as("value_num"),
      when(!isNumericLike(col("state")), col("state")).as("state_str"),
      col("attr_temperature").as("temperature"),
      col("attr_battery").as("battery"),
      col("last_updated_ms").as("time_ms")): _*)
  }
}
