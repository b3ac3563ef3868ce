package graft

import graft.etl.{InfluxSink, Sources, Transform}
import graft.sources.InfluxWatermarkSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The complete reference program, composed: config (S4) → watermark
  * lookup (S2/A1) → recorder export (S1 + the P/J/F operator set) → point
  * build → Influx load (S3). Mirrors `main` at sqllite2influxdb.py:163-201,
  * executor-parallel end to end.
  *
  * The watermark is a driver-side scalar folded into the plan as a literal
  * (SURVEY §3.1); rows STRICTLY OLDER than the sink's oldest point are
  * exported (reverse incremental backfill, P2/T2). A missing watermark
  * (empty bucket — or quirk Q1's never-matching filter) exports everything,
  * exactly like the reference.
  */
object Backfill {

  /** Pure pipeline assembly, injectable for tests: recorder tables in,
    * point Dataset out. */
  def plan(states: DataFrame, meta: DataFrame, attrs: DataFrame,
           watermarkMs: Option[Long]): DataFrame = {
    // recorder carries REAL epoch-seconds and no row id (Schemas.states)
    val adapted = Transform.fromRecorder(states)
      .withColumn("event_id", lit(null).cast("long"))
    Transform.corePipeline(adapted, meta, attrs, watermarkMs).drop("event_id")
  }

  /** The STATISTICS half of the migration under the same
    * reverse-incremental watermark contract: long-term-statistics rows
    * STRICTLY OLDER than the sink's oldest point export through
    * [[graft.etl.Transform.statisticsPoints]] (recorder statistics ⋈
    * statistics_meta broadcast → typed points). A missing watermark
    * exports everything, like the states half. */
  def statisticsPlan(stats: DataFrame, meta: DataFrame,
                     watermarkMs: Option[Long]): DataFrame = {
    val base = watermarkMs.fold(stats)(w =>
      stats.filter(Transform.olderThan(col("start_ts_ms"), w)))
    Transform.statisticsPoints(base, meta)
  }

  /** REVERSE-migration adapter: a pushed
    * [[graft.sources.InfluxRollupRead.statisticsRead]] panel grouped by
    * the (domain, entity_id) TAG PAIR — the split form every point this
    * pipeline (and HA's integrations) actually writes; tags never carry
    * the full dotted id — reshaped to the recorder `statistics` table.
    * The series keys back onto statistics_meta by re-splitting
    * `statistic_id` at the FIRST dot (the F1 rule, so dotted object ids
    * like `sensor.esp.kitchen` round-trip) in a broadcast join (meta is
    * one row per sensor at any scale). The sum-type columns are NULL
    * (the read is the mean row); a sensor the meta table types as
    * sum-only would render an empty field set downstream and is dropped
    * by [[graft.etl.Transform.statisticsPoints]]'s guard —
    * [[reverseStatisticsSkipped]] returns exactly those meta rows so the
    * skip is visible to the operator. */
  def statisticsFromRead(read: DataFrame, meta: DataFrame,
                         domainCol: String = "domain",
                         entityCol: String = "entity_id"): DataFrame =
    read.join(
        broadcast(meta.select(col("metadata_id"), col("statistic_id"))),
        Transform.entityDomain(col("statistic_id")) === read(domainCol) &&
          Transform.entityShort(col("statistic_id")) === read(entityCol),
        "inner")
      .select(col("metadata_id"),
        col("bucket_start_ms").as("start_ts_ms"),
        col("twa").as("mean"),
        col("min_value").as("min"),
        col("max_value").as("max"),
        lit(null).cast("double").as("state"),
        lit(null).cast("double").as("sum"))

  /** The series [[statisticsFromRead]] CANNOT migrate — made visible.
    * The pushed panel is the MEAN row (twa/min/max) with state/sum
    * hard-nulled, so a meta row typed SUM-ONLY (has_sum true, has_mean
    * false) renders an empty field set downstream and is dropped by
    * [[graft.etl.Transform.statisticsPoints]]'s guard with no trace in
    * the composed plan (the dropped rows never enter it). Operators
    * running a reverse backfill should count/log this frame next to the
    * export so "migrated the bucket" is never silently "migrated the
    * mean-typed half of the bucket". Mirrors the older-schema fallback
    * [[graft.etl.Transform.statisticsPipeline]] uses: a meta table
    * without has_sum treats NOT has_mean as sum-typed. */
  def reverseStatisticsSkipped(meta: DataFrame): DataFrame = {
    val hasSum =
      if (meta.columns.contains("has_sum")) col("has_sum")
      else !col("has_mean")
    meta.filter(hasSum && !col("has_mean"))
  }

  /** The REVERSE statistics migration, composed: pushed Influx
    * statistics panel (grouped by the domain + entity_id tags) →
    * recorder shape → [[statisticsPlan]] (watermark contract +
    * [[graft.etl.Transform.statisticsPoints]]) → sink points. This is
    * the S2/S3 symmetry the states family already has: backfill
    * long-term statistics FROM an existing Influx bucket into another
    * sink, one fused POST per source shard, broadcast joins only.
    *
    * Upgrade caveat (documented, inherent to adopting the `ha_type`
    * marker): statistics points written by PRE-marker versions carry no
    * `ha_type` tag, so (a) [[graft.sources.InfluxWatermarkSource
    * .oldestStatisticsTimestamp]] cannot see them — the first
    * post-upgrade statistics backfill re-exports everything, and the
    * re-exported points form NEW series (different tag set) rather than
    * overwriting; and (b) such legacy statistics points still match the
    * states watermark's `source == "HA"` filter. A one-time cleanup
    * (rewrite or drop the marker-less statistics series) restores both
    * invariants; fresh buckets have neither issue.
    * [[graft.etl.MarkerCleanup]] IS that cleanup — dry-run inventory by
    * default, per-series fetch→delete→rewrite under `--apply`; see
    * README "Upgrade notes". */
  def reverseStatisticsPlan(read: DataFrame, meta: DataFrame,
                            watermarkMs: Option[Long],
                            domainCol: String = "domain",
                            entityCol: String = "entity_id"): DataFrame =
    statisticsPlan(statisticsFromRead(read, meta, domainCol, entityCol),
      meta, watermarkMs)

  /** Statistics backfill off the real recorder schema: `statistics`
    * carries REAL epoch-seconds start_ts and a metadata_id FK onto
    * `statistics_meta.id` — both adapted here, then [[statisticsPlan]].
    * `statistics` is read range-partitioned on `start_ts` and cut at the
    * watermark in the database, like `states` in [[run]]. Returns the
    * number of points written. */
  def runStatistics(spark: SparkSession, dbPath: String,
                    cfg: InfluxSink.Config): Long = {
    // statistics-sourced watermark ONLY (the ha_type marker tag): the
    // states half's oldest point must not gate the statistics export —
    // after a states backfill a shared watermark would silently skip
    // every statistics row at or newer than the oldest states point
    val watermark = InfluxWatermarkSource.oldestStatisticsTimestamp(cfg)
      .map(_.toEpochMilli)
    val stats = Sources.rangedJdbc(spark, Sources.sqliteUrl(dbPath),
        "statistics", "start_ts", watermark)
      .withColumn("start_ts_ms", round(col("start_ts") * 1000).cast("long"))
    val meta = Sources.sqliteJdbc(spark, dbPath, "statistics_meta")
      .withColumnRenamed("id", "metadata_id")
    InfluxSink.write(InfluxSink.asPoints(statisticsPlan(stats, meta, watermark)), cfg)
  }

  /** The states backfill: one recorder read, range-partitioned on
    * `last_updated_ts` and cut at the watermark in the database
    * ([[graft.etl.Sources.rangedJdbc]]), returning the number of points
    * written. */
  def run(spark: SparkSession, dbPath: String, cfg: InfluxSink.Config,
          bugCompatUnitsFilter: Boolean = false): Long = {
    val watermark = InfluxWatermarkSource
      .oldestTimestamp(cfg, bugCompatUnitsFilter)
      .map(_.toEpochMilli)
    val states = Sources.rangedJdbc(spark, Sources.sqliteUrl(dbPath),
      "states", "last_updated_ts", watermark)
    val meta = Sources.sqliteJdbc(spark, dbPath, "states_meta")
    val attrs = Sources.sqliteJdbc(spark, dbPath, "state_attributes")
    InfluxSink.write(InfluxSink.asPoints(plan(states, meta, attrs, watermark)), cfg)
  }

  /** CLI: graft.Backfill <sqlitePath>; Influx connection from env (S4,
    * fail-fast — quirk Q8). Runs on [[GraftSession]]; a cluster master
    * comes from `spark-submit --master`. */
  def main(args: Array[String]): Unit = {
    val dbPath = args.headOption.getOrElse(
      sys.error("usage: graft.Backfill <ha-recorder.sqlite>"))
    val cfg = InfluxSink.configFromEnv()
    val spark = GraftSession()
    val n = run(spark, dbPath, cfg,
      bugCompatUnitsFilter = sys.env.get("BUG_COMPAT_UNITS").exists(_.toBoolean))
    println(s"backfilled $n points")
    spark.stop()
  }
}
