package graft.sources

import graft.etl.InfluxSink
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The PUSHED-ROLLUP read mode of the influx source — the streaming rung
  * of the batch rollup rule ([[graft.plans.InfluxBucketRollupRule]]): the
  * monitoring-dashboard shape the reference's Flux query represents is a
  * windowed aggregate maintained continuously, and pulling raw samples per
  * trigger to re-aggregate them in Spark moves orders of magnitude more
  * bytes than the buckets the query actually needs. Enabled by options on
  * `spark.read`/`spark.readStream.format("influx")`:
  *
  *   rollup.everyMs      window width (required to enable the mode)
  *   rollup.aggs         csv of count | count_value | sum | min_value |
  *                       max_value | min_time | max_time | last_value |
  *                       first_value
  *   rollup.group        csv of measurement | field | tag:<key> |
  *                       bin:<op><width> (≤1 bin; optional) — bin:/3600.0
  *                       groups by floor(value/3600.0), the server-side
  *                       value histogram
  *   rollup.measurement  equality filter (optional); rollup.field likewise
  *   rollup.tagEq        URL-encoded k=v&k2=v2 tag predicates (optional);
  *                       a repeated key carries a SET — k=v1&k=v2 means
  *                       tags['k'] IN (v1, v2), pushed as Flux contains()
  *   rollup.startMs      lower time bound / initial stream offset
  *   rollup.stopMs       upper bound / stream clamp (optional)
  *
  * The scan's schema IS the partial-rollup row: (group cols...,
  * bucket_start_ms, one slot per agg). Each batch shard / micro-batch
  * offset range POSTs the same windowed `aggregateWindow` decomposition as
  * the batch rollup leaf — `group(columns:) |> window(every:)` with
  * per-window count/sum/sort|>limit(1) — under the SAME trust-check
  * contract ([[InfluxRollup.partials]]): windowed aggregate responses are
  * validated (bucket-aligned, span-bounded, tag-checked) and a lying
  * server falls back to local re-bucketing of re-enforced samples. The
  * consumer maintains the final aggregate declaratively over the partials
  * ([[InfluxRollupRead.finalMerge]]) — every pushed function is
  * associative across buckets, shards AND triggers, so the maintained
  * streaming result is identical to the one-shot batch rollup.
  *
  * A bucket spanning two triggers emits one partial per trigger; the
  * final-merge aggregate (streaming: update/complete output over the
  * stateful agg) folds them — exactly Spark's own partial/final contract,
  * stretched across time. */
object InfluxRollupRead {

  final case class Spec(everyMs: Long, aggs: Seq[(InfluxScan.AggSpec, String)],
                        groupCols: Seq[String],
                        measurement: Option[String], field: Option[String],
                        tagEq: Seq[(String, Seq[String])],
                        startMs: Long, stopMs: Option[Long],
                        alignTriggers: Boolean = false,
                        tagRegex: Seq[(String, String)] = Nil,
                        offsetMs: Long = 0L)

  private[graft] def aggOf(name: String): (InfluxScan.AggSpec, String) =
    name.trim match {
      case "count" => (InfluxScan.AggCountStar, "count_star")
      case "count_value" => (InfluxScan.AggCountValue, "count_value")
      case "sum" => (InfluxScan.AggSumValue, "sum_value")
      // second raw moment (pushed square-then-sum): with sum + count_value
      // it is the variance/stddev panel decomposition — all three partials
      // merge across triggers/shards by plain addition
      case "sum_sq" => (InfluxScan.AggSumSq, "sum_sq")
      case "min_value" => (InfluxScan.AggMinValue, "min_value")
      case "max_value" => (InfluxScan.AggMaxValue, "max_value")
      case "min_time" => (InfluxScan.AggMinTime, "min_time_ms")
      case "max_time" => (InfluxScan.AggMaxTime, "max_time_ms")
      case "last_value" => (InfluxScan.AggLastValue, "last_value")
      case "first_value" => (InfluxScan.AggFirstValue, "first_value")
      // the counter-rate family (see rateOptions/rateMerge): within-
      // segment reset-aware increase + the numeric boundary samples the
      // batch stitch pairs across segments
      case "increase" => (InfluxScan.AggIncrease, "increase")
      // per-window trapezoid integral (value·ms, Flux integral(unit: 1ms)
      // parity; see integralOptions/integralMerge)
      case "integral" => (InfluxScan.AggIntegral, "integral")
      // per-window LOCF/rectangle area (value·ms, within-window pairs
      // only; see twaOptions/twaMerge) — the time-weighted-average panel
      case "locf_area" => (InfluxScan.AggLocfArea, "locf_area")
      case "first_num_time" => (InfluxScan.AggFirstNumTime, "first_num_time")
      case "first_num_value" => (InfluxScan.AggFirstNumValue, "first_num_value")
      case "last_num_time" => (InfluxScan.AggLastNumTime, "last_num_time")
      case "last_num_value" => (InfluxScan.AggLastNumValue, "last_num_value")
      case other => throw new IllegalArgumentException(
        s"rollup.aggs: unknown aggregate '$other'")
    }

  /** None ⟺ the options do not enable rollup mode. Validation is loud and
    * analysis-time: a malformed spec must fail the query, not the tasks. */
  def fromOptions(o: java.util.Map[String, String]): Option[Spec] =
    Option(o.get("rollup.everyMs")).map { w =>
      val everyMs = w.toLong
      require(everyMs > 0, s"rollup.everyMs must be positive, got $everyMs")
      val aggs = Option(o.get("rollup.aggs")).getOrElse("count")
        .split(',').toSeq.filter(_.trim.nonEmpty).map(aggOf)
      require(aggs.nonEmpty, "rollup.aggs: need at least one aggregate")
      val specs = aggs.map(_._1)
      // last/first partials merge by max_by/min_by over the paired TIME
      // slot — require it so finalMerge (and any hand-written merge) has
      // the ordering column to fold on
      require(!specs.contains(InfluxScan.AggLastValue) ||
        specs.contains(InfluxScan.AggMaxTime),
        "rollup.aggs: last_value requires max_time (its merge key)")
      require(!specs.contains(InfluxScan.AggFirstValue) ||
        specs.contains(InfluxScan.AggMinTime),
        "rollup.aggs: first_value requires min_time (its merge key)")
      // increase partials are only correct once rateMerge stitches the
      // segment boundaries — which needs all four numeric boundary slots
      require(!specs.contains(InfluxScan.AggIncrease) ||
        Seq(InfluxScan.AggFirstNumTime, InfluxScan.AggFirstNumValue,
          InfluxScan.AggLastNumTime, InfluxScan.AggLastNumValue)
          .forall(specs.contains),
        "rollup.aggs: increase requires first_num_time, first_num_value, " +
          "last_num_time and last_num_value (the stitch keys; see " +
          "rateOptions)")
      // integral partials merge only through integralMerge's same-bucket
      // trapezoid stitch, which pairs the four numeric boundary slots
      require(!specs.contains(InfluxScan.AggIntegral) ||
        Seq(InfluxScan.AggFirstNumTime, InfluxScan.AggFirstNumValue,
          InfluxScan.AggLastNumTime, InfluxScan.AggLastNumValue)
          .forall(specs.contains),
        "rollup.aggs: integral requires first_num_time, first_num_value, " +
          "last_num_time and last_num_value (the stitch keys; see " +
          "integralOptions)")
      // locf_area partials merge only through twaMerge's cross-segment
      // hold split, which needs all four numeric boundary slots (the
      // within-window coverage is ALSO derived from them)
      require(!specs.contains(InfluxScan.AggLocfArea) ||
        Seq(InfluxScan.AggFirstNumTime, InfluxScan.AggFirstNumValue,
          InfluxScan.AggLastNumTime, InfluxScan.AggLastNumValue)
          .forall(specs.contains),
        "rollup.aggs: locf_area requires first_num_time, first_num_value, " +
          "last_num_time and last_num_value (the hold-split keys; see " +
          "twaOptions)")
      require(!specs.contains(InfluxScan.AggFirstNumValue) ||
        specs.contains(InfluxScan.AggFirstNumTime),
        "rollup.aggs: first_num_value requires first_num_time (its merge key)")
      require(!specs.contains(InfluxScan.AggLastNumValue) ||
        specs.contains(InfluxScan.AggLastNumTime),
        "rollup.aggs: last_num_value requires last_num_time (its merge key)")
      val group = Option(o.get("rollup.group")).getOrElse("")
        .split(',').toSeq.map(_.trim).filter(_.nonEmpty)
      group.foreach { g =>
        require(g == "measurement" || g == "field" || g.startsWith("tag:") ||
          g.startsWith("bin:"),
          s"rollup.group: '$g' must be measurement, field, tag:<key> " +
            "or bin:<op><width>")
        if (g.startsWith("bin:")) {
          val body = g.stripPrefix("bin:")
          require(body.length > 1 && (body.head == '*' || body.head == '/') &&
            scala.util.Try(body.tail.toDouble).toOption
              .exists(x => x > 0 && java.lang.Double.isFinite(x)),
            s"rollup.group: malformed bin token '$g' " +
              "(want bin:*<k> or bin:/<w>, positive finite)")
        }
      }
      require(group.count(_.startsWith("bin:")) <= 1,
        "rollup.group: at most one bin:<op><width> key")
      // duplicates would surface much later as ambiguous-column
      // AnalysisExceptions inside finalMerge/histogramQuantiles — keep the
      // loud-validation posture and reject them here
      require(group.distinct == group,
        s"rollup.group: duplicate keys in ${group.mkString(",")}")
      require(aggs.map(_._2).distinct == aggs.map(_._2),
        "rollup.aggs: duplicate aggregates in " + aggs.map(_._2).mkString(","))
      Spec(everyMs, aggs, group,
        Option(o.get("rollup.measurement")), Option(o.get("rollup.field")),
        InfluxTable.decodeTagEq(Option(o.get("rollup.tagEq")).getOrElse("")),
        Option(o.get("rollup.startMs")).map(_.toLong)
          .getOrElse(InfluxScan.MinTimeMs),
        Option(o.get("rollup.stopMs")).map(_.toLong),
        // alignTriggers: snap each trigger's upper offset DOWN to a bucket
        // boundary, so in steady state every bucket is covered by exactly
        // one trigger and emits ONE partial per shard — the maintained
        // aggregate's state updates once per bucket instead of once per
        // (bucket, trigger) split. Trade: results lag up to everyMs.
        Option(o.get("rollup.alignTriggers")).exists(_.toBoolean),
        // URL-encoded k=regex pairs, same encoding as the raw scan's
        // pushedTagRegexes option — the LIKE-family narrowing for rollup
        // reads ("hourly per-sensor rollup over sensor.* entities")
        InfluxTable.decodeTagRegex(
          Option(o.get("rollup.tagRegex")).getOrElse("")),
        // shifted bucket grid (timezone-aligned windows): window starts
        // sit at epoch multiples of everyMs plus this, normalized to
        // [0, everyMs)
        Math.floorMod(
          Option(o.get("rollup.offsetMs")).map(_.toLong).getOrElse(0L),
          everyMs))
    }

  /** Column name a group key surfaces as: the tag's own key, else the
    * stream column name. */
  private[graft] def groupColName(c: String): String =
    if (c.startsWith("tag:")) c.stripPrefix("tag:")
    else if (c.startsWith("bin:")) "bin"
    else c

  def schemaOf(spec: Spec): StructType = StructType(
    spec.groupCols.map(c =>
      if (c.startsWith("bin:"))
        // LONG like Spark's floor; NULL bin = the non-numeric samples
        StructField("bin", LongType, nullable = true)
      else StructField(groupColName(c), StringType,
        nullable = c.startsWith("tag:"))) ++
      (StructField("bucket_start_ms", LongType, nullable = false) +:
        spec.aggs.map {
          case (InfluxScan.AggCountStar, n) =>
            StructField(n, LongType, nullable = false)
          case (InfluxScan.AggCountValue, n) =>
            StructField(n, LongType, nullable = false)
          case (InfluxScan.AggMinTime | InfluxScan.AggMaxTime |
                InfluxScan.AggFirstNumTime | InfluxScan.AggLastNumTime, n) =>
            StructField(n, LongType)
          case (_, n) => StructField(n, DoubleType)
        }))

  /** The declarative final merge over the partial rows — group by
    * (group cols, bucket) and fold each slot with its merge function
    * (count→sum, sum→sum, min/min, max/max, last/first→max_by/min_by on
    * the paired time slot). In streaming this IS the maintained stateful
    * aggregate (update/complete output); in batch it collapses the
    * per-shard partials — both reduce the same associative algebra, so
    * stream ≡ batch by construction. */
  def finalMerge(partials: DataFrame, spec: Spec): DataFrame = {
    // increase partials are NOT plain-mergeable (segment boundaries carry
    // deltas the per-bucket sum would drop) — that merge lives in
    // [[rateMerge]], which stitches before it sums
    require(!spec.aggs.exists(_._1 == InfluxScan.AggIncrease),
      "finalMerge: increase partials need rateMerge (boundary stitching)")
    require(!spec.aggs.exists(_._1 == InfluxScan.AggIntegral),
      "finalMerge: integral partials need integralMerge (trapezoid " +
        "stitching)")
    require(!spec.aggs.exists(_._1 == InfluxScan.AggLocfArea),
      "finalMerge: locf_area partials need twaMerge (cross-segment hold " +
        "splitting)")
    val keys = spec.groupCols.map(c => col(groupColName(c))) :+
      col("bucket_start_ms")
    val aggs = spec.aggs.map {
      case (InfluxScan.AggCountStar, n) =>
        coalesce(sum(col(n)), lit(0L)).as(n)
      case (InfluxScan.AggCountValue, n) =>
        coalesce(sum(col(n)), lit(0L)).as(n)
      case (InfluxScan.AggSumValue, n) => sum(col(n)).as(n)
      case (InfluxScan.AggSumSq, n) => sum(col(n)).as(n)
      case (InfluxScan.AggMinValue, n) => min(col(n)).as(n)
      case (InfluxScan.AggMaxValue, n) => max(col(n)).as(n)
      case (InfluxScan.AggMinTime, n) => min(col(n)).as(n)
      case (InfluxScan.AggMaxTime, n) => max(col(n)).as(n)
      case (InfluxScan.AggLastValue, n) =>
        max_by(col(n), col("max_time_ms")).as(n)
      case (InfluxScan.AggFirstValue, n) =>
        min_by(col(n), col("min_time_ms")).as(n)
      case (InfluxScan.AggFirstNumTime, n) => min(col(n)).as(n)
      case (InfluxScan.AggLastNumTime, n) => max(col(n)).as(n)
      case (InfluxScan.AggFirstNumValue, n) =>
        min_by(col(n), col("first_num_time")).as(n)
      case (InfluxScan.AggLastNumValue, n) =>
        max_by(col(n), col("last_num_time")).as(n)
      case (InfluxScan.AggIncrease, _) | (InfluxScan.AggIntegral, _) |
           (InfluxScan.AggLocfArea, _) =>
        throw new IllegalStateException("unreachable: gated above")
    }
    partials.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The option map for a pushed counter-rate read over one bucket width:
    * the increase spec plus its four boundary slots. Feed to
    * `spark.read.format("influx")` (plus connection options) and finish
    * with [[rateMerge]] — or call [[rateRead]] for the one-call form.
    * `offsetMs` shifts the bucket grid (the timezone-aligned daily/hourly
    * rate panel — "increase per local-midnight day"): the server windows
    * with `window(offset:)`, the fallback re-buckets on the same shifted
    * grid, and both [[rateMerge]] and the streaming fold treat
    * bucket_start_ms values as opaque grid points, so the whole rate
    * ladder composes with the shift. */
  def rateOptions(everyMs: Long, extra: Map[String, String] = Map.empty,
                  offsetMs: Long = 0L): Map[String, String] =
    extra ++ Map(
      "rollup.everyMs" -> everyMs.toString,
      "rollup.aggs" -> ("increase,first_num_time,first_num_value," +
        "last_num_time,last_num_value")) ++
      (if (offsetMs != 0L) Map("rollup.offsetMs" -> offsetMs.toString)
       else Map.empty)

  /** EXACT global per-bucket counter increase from the per-(series,
    * bucket, shard) segment partials — the PromQL-contract rate panel
    * with only segment rows ever crossing shard boundaries. Each segment
    * carries its within-segment increase plus its first/last NUMERIC
    * samples; segments of one series are disjoint time intervals, so
    * ordering them by first_num_time and adding the reset-aware delta
    * from the previous segment's last sample to this segment's first
    * (attributed to THIS segment's bucket — the later sample's bucket,
    * the lag() contract) makes every consecutive numeric pair count
    * exactly once: inside a segment via the pushed increase, across
    * segments via the stitch. The Window runs over SEGMENT rows
    * (series × buckets × shards), never samples — bounded like the
    * final merge itself. rate_per_sec = increase / bucket seconds. */
  def rateMerge(partials: DataFrame, spec: Spec): DataFrame =
    rateCore(partials, spec, Nil, "rateMerge")

  /** The shared stitch core behind [[rateMerge]] and
    * [[counterStatisticsMerge]]: the ordered-segment reset-aware fold,
    * with caller-supplied EXTRA aggregates riding the same per-(series,
    * bucket) groupBy — one scan, one POST ladder, however many final
    * columns the panel needs. */
  private def rateCore(partials: DataFrame, spec: Spec,
                       extraAggs: Seq[org.apache.spark.sql.Column],
                       caller: String): DataFrame = {
    require(spec.aggs.exists(_._1 == InfluxScan.AggIncrease),
      s"$caller: spec must carry the increase aggregate (see rateOptions)")
    val keys = spec.groupCols.map(c => col(groupColName(c)))
    // Only NUMERIC-BEARING segments participate in the stitch chain: a
    // segment row whose boundary slots are null carries no samples to pair
    // (reachable via the fused-branch fallback, where the re-POSTed
    // increase lands but the boundary branches stayed empty, and via a
    // segment holding only string samples). Such a row would sort first
    // under the ascending Window and break the lag chain — the
    // cross-segment delta would pair with null and be silently lost.
    // Partitioning the Window by the numeric flag keeps null-boundary rows
    // out of the numeric chain without dropping their (coalesced) increase
    // from the final sum.
    val numericSeg =
      col("first_num_time").isNotNull && col("last_num_value").isNotNull
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys :+ numericSeg: _*).orderBy(col("first_num_time").asc)
    val stitched = partials
      .withColumn("_prev_last_v",
        when(numericSeg, lag(col("last_num_value"), 1).over(w)))
      .withColumn("_stitch",
        when(col("_prev_last_v").isNull, lit(0.0))
          .otherwise(when(col("first_num_value") >= col("_prev_last_v"),
            col("first_num_value") - col("_prev_last_v"))
            .otherwise(col("first_num_value"))))
    // coalesce: a null increase (a server whose increase() omits
    // single-sample windows, or the fused fallback above) must not null
    // out the stitch delta riding on the same row
    stitched.groupBy(keys :+ col("bucket_start_ms"): _*)
      .agg(sum(coalesce(col("increase"), lit(0.0)) + col("_stitch"))
        .as("increase"), extraAggs: _*)
      .withColumn("rate_per_sec",
        col("increase") / lit(spec.everyMs / 1000.0))
  }

  /** One-call pushed rate panel: batch-read the rate partials with the
    * given options and stitch-merge them. */
  /** Shared loader for the one-call pushed reads: parse the Spec from
    * the option map (loud on a missing everyMs) and load the DSv2
    * partials frame with every option applied — one copy of the
    * boilerplate, one error message, for all twelve read entry points. */
  private def readPartials(spark: org.apache.spark.sql.SparkSession,
                           options: Map[String, String])
      : (DataFrame, Spec) = {
    val spec = fromOptions(scala.jdk.CollectionConverters
      .MapHasAsJava(options).asJava).getOrElse(throw new
        IllegalArgumentException("rollup.everyMs option required"))
    val partials = options.foldLeft(
      spark.read.format("influx")) { case (r, (k, v)) => r.option(k, v) }
      .load()
    (partials, spec)
  }

  def rateRead(spark: org.apache.spark.sql.SparkSession,
               options: Map[String, String]): DataFrame = {
    val (partials, spec) = readPartials(spark, options)
    rateMerge(partials, spec)
  }

  /** The option map for a pushed trapezoid-integral read over one bucket
    * width — the "energy from power" panel (Flux `aggregateWindow(fn:
    * integral)` parity): the integral spec plus the rate family's four
    * numeric boundary slots. Feed to `spark.read.format("influx")` and
    * finish with [[integralMerge]], or call [[integralRead]] for the
    * one-call form. `offsetMs` shifts the bucket grid like the rest of
    * the ladder. */
  def integralOptions(everyMs: Long, extra: Map[String, String] = Map.empty,
                      offsetMs: Long = 0L): Map[String, String] =
    extra ++ Map(
      "rollup.everyMs" -> everyMs.toString,
      "rollup.aggs" -> ("integral,first_num_time,first_num_value," +
        "last_num_time,last_num_value")) ++
      (if (offsetMs != 0L) Map("rollup.offsetMs" -> offsetMs.toString)
       else Map.empty)

  /** EXACT global per-bucket trapezoid integral from the per-(series,
    * bucket, shard) segment partials. Each segment carries its
    * within-segment area plus its first/last NUMERIC samples; a
    * same-bucket pair of consecutive samples split across two shards is
    * the ONLY area the per-shard integrals miss, and it is exactly the
    * trapezoid of the two boundary samples the lag chain pairs —
    * ordering segments by first_num_time and adding
    * `(prev_last_v + first_v)/2 · (first_t − prev_last_t)` when (and
    * only when) both segments sit in the SAME bucket reconstructs the
    * single-shard answer. Pairs crossing a bucket boundary contribute
    * nothing, Flux's windowed-integral convention — which is what makes
    * the per-bucket decomposition exact. The Window runs over SEGMENT
    * rows (series × buckets × shards), never samples; null-boundary
    * segments (string-only, fused fallbacks) stay out of the chain but
    * keep their coalesced area. Output: value·ms in `integral`
    * (`integral(unit: 1ms)` units) plus value·seconds in
    * `integral_vsec`. */
  def integralMerge(partials: DataFrame, spec: Spec): DataFrame = {
    require(spec.aggs.exists(_._1 == InfluxScan.AggIntegral),
      "integralMerge: spec must carry the integral aggregate (see " +
        "integralOptions)")
    val keys = spec.groupCols.map(c => col(groupColName(c)))
    val numericSeg =
      col("first_num_time").isNotNull && col("first_num_value").isNotNull &&
        col("last_num_time").isNotNull && col("last_num_value").isNotNull
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys :+ numericSeg: _*).orderBy(col("first_num_time").asc)
    val stitched = partials
      .withColumn("_prev_last_t",
        when(numericSeg, lag(col("last_num_time"), 1).over(w)))
      .withColumn("_prev_last_v",
        when(numericSeg, lag(col("last_num_value"), 1).over(w)))
      .withColumn("_prev_bucket",
        when(numericSeg, lag(col("bucket_start_ms"), 1).over(w)))
      .withColumn("_stitch",
        when(col("_prev_last_t").isNotNull &&
          col("_prev_bucket") === col("bucket_start_ms"),
          (col("_prev_last_v") + col("first_num_value")) *
            (col("first_num_time") - col("_prev_last_t")) / lit(2.0))
          .otherwise(lit(0.0)))
    stitched.groupBy(keys :+ col("bucket_start_ms"): _*)
      .agg(sum(coalesce(col("integral"), lit(0.0)) + col("_stitch"))
        .as("integral"))
      .withColumn("integral_vsec", col("integral") / lit(1000.0))
  }

  /** One-call pushed integral panel: batch-read the integral partials
    * with the given options and stitch-merge them. */
  def integralRead(spark: org.apache.spark.sql.SparkSession,
                   options: Map[String, String]): DataFrame = {
    val (partials, spec) = readPartials(spark, options)
    integralMerge(partials, spec)
  }

  /** The option map for a pushed time-weighted-average read over one
    * bucket width — the Home Assistant long-term-statistics `mean` panel
    * (a sensor reading 20° for 55 minutes and 10° for 5 averages 19.2,
    * not 15): the locf_area spec plus the rate family's four numeric
    * boundary slots. Feed to `spark.read.format("influx")` and finish
    * with [[twaMerge]], or call [[twaRead]] for the one-call form.
    * `offsetMs` shifts the bucket grid like the rest of the ladder. */
  def twaOptions(everyMs: Long, extra: Map[String, String] = Map.empty,
                 offsetMs: Long = 0L): Map[String, String] =
    extra ++ Map(
      "rollup.everyMs" -> everyMs.toString,
      "rollup.aggs" -> ("locf_area,first_num_time,first_num_value," +
        "last_num_time,last_num_value")) ++
      (if (offsetMs != 0L) Map("rollup.offsetMs" -> offsetMs.toString)
       else Map.empty)

  /** EXACT global per-bucket time-weighted average of the LOCF signal
    * from the per-(series, bucket, shard) segment partials — the pushed
    * twin of [[graft.ext.EventsExt.twaHourly]]'s coverage algebra. Each
    * segment carries its WITHIN-WINDOW rectangle area (locf_area: holds
    * between same-window consecutive numeric samples, which partition
    * [first_num_time, last_num_time) exactly — so that interval IS the
    * segment's covered milliseconds) plus its numeric boundary samples.
    * Every hold the within-window areas miss runs from one segment's
    * last sample to the NEXT segment's first (LOCF value = the earlier
    * sample's), possibly spanning whole empty buckets: ordering segments
    * by first_num_time and splitting each such hold across the buckets
    * it overlaps (value·ms and ms per bucket) reconstructs the
    * single-shard answer — holds partition the series' covered span, so
    * nothing double-counts. The Window runs over SEGMENT rows (series ×
    * buckets × shards), never samples; the hold split explodes at most
    * (grid size + segment count) rows per series in TOTAL, with the
    * [[graft.ext.EventsExt.twaHourly]] per-hold 2^20-bucket guard
    * against a pathologically sparse series OOMing an executor.
    * Null-boundary segments (string-only, fused fallbacks) keep their
    * coalesced area but carry no coverage and stay out of the chain.
    * The series' last sample holds nothing (no successor bounds it), so
    * coverage runs [first sample, last sample) — a bucket with zero
    * covered ms emits no row, exactly the parquet twin's contract.
    * Output: covered_ms plus twa = Σ value·ms / Σ ms (ONE terminal
    * division). Composes with rollup.offsetMs: all bucket math runs on
    * the spec's (possibly shifted) grid. */
  def twaMerge(partials: DataFrame, spec: Spec): DataFrame =
    holdSplitMerge(partials, spec, withMinMax = false)

  /** The shared hold-split core behind [[twaMerge]] and
    * [[statisticsMerge]]. With `withMinMax` the piece rows additionally
    * carry the segment's pushed min/max (NULL on gap pieces — an empty
    * bucket covered by a hold has a mean but no samples), and rows with
    * zero coverage but extant samples (a series' LAST sample alone in a
    * bucket) survive with a NULL twa. */
  private def holdSplitMerge(partials: DataFrame, spec: Spec,
                             withMinMax: Boolean): DataFrame = {
    val caller = if (withMinMax) "statisticsMerge" else "twaMerge"
    require(spec.aggs.exists(_._1 == InfluxScan.AggLocfArea),
      s"$caller: spec must carry the locf_area aggregate (see " +
        (if (withMinMax) "statisticsOptions)" else "twaOptions)"))
    if (withMinMax)
      require(spec.aggs.exists(_._1 == InfluxScan.AggMinValue) &&
        spec.aggs.exists(_._1 == InfluxScan.AggMaxValue),
        "statisticsMerge: spec must carry min_value and max_value (see " +
          "statisticsOptions)")
    val keys = spec.groupCols.map(c => col(groupColName(c)))
    val everyMs = spec.everyMs
    val off = spec.offsetMs
    def bucketOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (c - off) - pmod(c - off, lit(everyMs)) + off
    val numericSeg =
      col("first_num_time").isNotNull && col("first_num_value").isNotNull &&
        col("last_num_time").isNotNull && col("last_num_value").isNotNull
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys :+ numericSeg: _*).orderBy(col("first_num_time").asc)
    val seg = partials.withColumn("_next_first_t",
      when(numericSeg, lead(col("first_num_time"), 1).over(w)))
    // ONE pass emits both contribution kinds per segment row (a
    // self-union would read the scan — and POST every shard — twice):
    //  - the within-window piece: the pushed rectangle area, covering
    //    exactly [first_num_time, last_num_time) of the segment's window
    //  - the cross-segment hold [last_num_time, next first_num_time) at
    //    the earlier segment's last value, split across the buckets it
    //    spans (possibly whole EMPTY buckets — they get rows here)
    val mmType = if (withMinMax) ",mn:double,mx:double" else ""
    val pieceType = s"array<struct<b:bigint,num:double,cov:bigint$mmType>>"
    val withinSlots = Seq(col("bucket_start_ms").as("b"),
      coalesce(col("locf_area"), lit(0.0)).as("num"),
      when(numericSeg, col("last_num_time") - col("first_num_time"))
        .otherwise(lit(0L)).as("cov")) ++
      (if (withMinMax) Seq(col("min_value").as("mn"),
        col("max_value").as("mx")) else Nil)
    val withinPiece = struct(withinSlots: _*)
    val a = col("last_num_time")
    val z = col("_next_first_t")
    val v = col("last_num_value")
    val bStart = bucketOf(a)
    val bEnd = bucketOf(z - 1)
    val holdBuckets = (bEnd - bStart) / lit(everyMs) + lit(1L)
    val guardedEnd = when(holdBuckets <= lit(1L << 20), bEnd)
      .otherwise(raise_error(concat(
        lit(s"$caller: a single LOCF hold spans "), holdBuckets,
        lit(s" buckets at everyMs=$everyMs (limit 2^20) — widen everyMs " +
          "or pre-split the hold"))).cast("long"))
    val gapPieces = when(numericSeg && z.isNotNull && z > a,
      transform(sequence(bStart, guardedEnd, lit(everyMs)), bb => {
        val pieceMs = least(z, bb + lit(everyMs)) - greatest(a, bb)
        val slots = Seq(bb.as("b"), (v * pieceMs.cast("double")).as("num"),
          pieceMs.as("cov")) ++
          (if (withMinMax) Seq(lit(null).cast("double").as("mn"),
            lit(null).cast("double").as("mx")) else Nil)
        struct(slots: _*)
      }))
    val folded = seg
      .select(keys :+
        explode(concat(array(withinPiece),
          coalesce(gapPieces, array().cast(pieceType)))).as("_p"): _*)
      .select(keys ++ (Seq(col("_p.b").as("bucket_start_ms"),
        col("_p.num").as("num"), col("_p.cov").as("cov")) ++
        (if (withMinMax) Seq(col("_p.mn").as("mn"), col("_p.mx").as("mx"))
         else Nil)): _*)
      .groupBy(keys :+ col("bucket_start_ms"): _*)
      .agg(sum(col("num")).as("num"),
        (Seq(sum(col("cov")).as("covered_ms")) ++
          (if (withMinMax) Seq(min(col("mn")).as("min_value"),
            max(col("mx")).as("max_value")) else Nil)): _*)
    if (!withMinMax)
      folded
        .filter(col("covered_ms") > 0L)
        .select(keys ++ Seq(col("bucket_start_ms"), col("covered_ms"),
          (col("num") / col("covered_ms").cast("double")).as("twa")): _*)
    else
      folded
        .filter(col("covered_ms") > 0L ||
          col("min_value").isNotNull || col("max_value").isNotNull)
        .select(keys ++ Seq(col("bucket_start_ms"), col("covered_ms"),
          when(col("covered_ms") > 0L,
            col("num") / col("covered_ms").cast("double")).as("twa"),
          col("min_value"), col("max_value")): _*)
  }

  /** One-call pushed time-weighted-average panel: batch-read the
    * locf_area partials with the given options and hold-split-merge
    * them. */
  def twaRead(spark: org.apache.spark.sql.SparkSession,
              options: Map[String, String]): DataFrame = {
    val (partials, spec) = readPartials(spark, options)
    twaMerge(partials, spec)
  }

  /** Option map for the pushed Home Assistant LONG-TERM-STATISTICS read
    * — the complete per-bucket (mean, min, max) statistics row in ONE
    * fused POST ladder: the [[twaOptions]] locf_area spec (the
    * time-weighted mean) plus the min_value/max_value rungs, all
    * branches of a single Flux program per shard. Feed to
    * `spark.read.format("influx")` and finish with [[statisticsMerge]],
    * or call [[statisticsRead]] for the one-call form. */
  def statisticsOptions(everyMs: Long,
                        extra: Map[String, String] = Map.empty,
                        offsetMs: Long = 0L): Map[String, String] =
    extra ++ Map(
      "rollup.everyMs" -> everyMs.toString,
      "rollup.aggs" -> ("locf_area,first_num_time,first_num_value," +
        "last_num_time,last_num_value,min_value,max_value")) ++
      (if (offsetMs != 0L) Map("rollup.offsetMs" -> offsetMs.toString)
       else Map.empty)

  /** The HA long-term-statistics panel off the [[statisticsOptions]]
    * partials: per (series, bucket) `twa` (the LOCF time-weighted mean,
    * [[twaMerge]]'s exact hold-split algebra), `min_value` and
    * `max_value` — all three finished from ONE scan in ONE explode pass,
    * so each shard POSTs once for the whole statistics row. Min/max ride
    * the within-window piece rows and merge by plain min/max across
    * shards; hold-covered EMPTY buckets carry a mean but NULL min/max
    * (no sample lives there), and a bucket holding only a series' LAST
    * sample carries min/max with a NULL mean (zero covered ms — nothing
    * to weight), the two asymmetries the HA statistics table itself
    * exhibits. Composes with rollup.offsetMs and tag narrowing like the
    * rest of the ladder. */
  def statisticsMerge(partials: DataFrame, spec: Spec): DataFrame =
    holdSplitMerge(partials, spec, withMinMax = true)

  /** One-call pushed HA statistics panel: batch-read the
    * [[statisticsOptions]] partials and finish (twa, min, max). */
  def statisticsRead(spark: org.apache.spark.sql.SparkSession,
                     options: Map[String, String]): DataFrame = {
    val (partials, spec) = readPartials(spark, options)
    statisticsMerge(partials, spec)
  }

  /** Option map for the pushed Home Assistant COUNTER long-term-statistics
    * read — the energy dashboard's (state, increase, sum) row. Exactly the
    * [[rateOptions]] spec: the pushed per-segment `increase` plus the four
    * numeric boundary slots carry everything the counter row needs — the
    * per-bucket LAST reading is the greatest boundary sample, and the
    * running total is client-side bucket arithmetic. Feed to
    * `spark.read.format("influx")` and finish with
    * [[counterStatisticsMerge]], or call [[counterStatisticsRead]] for the
    * one-call form. */
  def counterStatisticsOptions(everyMs: Long,
                               extra: Map[String, String] = Map.empty,
                               offsetMs: Long = 0L): Map[String, String] =
    rateOptions(everyMs, extra, offsetMs)

  /** The HA COUNTER statistics panel off the [[counterStatisticsOptions]]
    * partials: per (series, bucket) `state` = the sensor's LAST reading in
    * the bucket (the segment with the greatest last_num_time wins —
    * segments of one series are disjoint time intervals, so the max_by is
    * deterministic across shards), `increase` = [[rateMerge]]'s exact
    * reset-aware net growth (within-segment pushed increases + the
    * cross-segment stitch deltas), and `sum_total` = the cumulative growth
    * since the start of the scan — HA's `sum` column, the number the
    * energy panel differences to render any date range. The cumulative
    * sum is ONE window over BUCKET rows (series × buckets, never samples)
    * partitioned by the series key — bounded at any corpus scale, and it
    * reuses the exchange [[rateMerge]]'s groupBy already established.
    * Buckets holding only string samples (boundaryless segments) keep
    * their coalesced increase with a NULL state, mirroring the rate
    * family's numericSeg contract. Trust posture is the rate read's:
    * pushed increases are believed under the windowed-sums contract,
    * boundary samples are re-enforced pulls, and a lying raw-dump server
    * folds locally. Composes with rollup.offsetMs and tag narrowing like
    * the rest of the ladder. */
  def counterStatisticsMerge(partials: DataFrame, spec: Spec): DataFrame = {
    val keys = spec.groupCols.map(c => col(groupColName(c)))
    // the state rides rateCore's groupBy as an extra aggregate — ONE
    // scan, ONE POST per shard (a separate state aggregation would read
    // the DSv2 relation, and POST every shard, twice). The ordering key
    // is nulled whenever the VALUE slot is null, so max_by skips both
    // boundaryless (string-only) segments AND a lying server's
    // half-filled pair (time set, value NULL) — which would otherwise
    // WIN the max and null out an honest reading; the numericSeg posture
    val core = rateCore(partials, spec,
      Seq(max_by(col("last_num_value"),
        when(col("last_num_value").isNotNull, col("last_num_time")))
        .as("state")),
      "counterStatisticsMerge")
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(keys: _*).orderBy(col("bucket_start_ms").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    core
      .withColumn("sum_total", sum(col("increase")).over(wc))
      .select(keys ++ Seq(col("bucket_start_ms"), col("state"),
        col("increase"), col("sum_total")): _*)
  }

  /** One-call pushed HA counter statistics panel: batch-read the
    * [[counterStatisticsOptions]] partials and finish
    * (state, increase, sum_total). */
  def counterStatisticsRead(spark: org.apache.spark.sql.SparkSession,
                            options: Map[String, String]): DataFrame = {
    val (partials, spec) = readPartials(spark, options)
    counterStatisticsMerge(partials, spec)
  }

  /** The ENERGY-DASHBOARD range read off the pushed counter statistics
    * row — the query the HA energy panel actually runs
    * ([[graft.ext.EventsExt.energyRange]]'s Influx sibling): per series,
    * consumption over [startMs, endMs) = `sum_total` DIFFERENCED at the
    * range endpoints (last bucket strictly before each endpoint). A
    * counter reset inside the range is already absorbed (`sum_total`
    * accumulates reset-aware increases — the whole point of differencing
    * the sum instead of the raw readings), a series whose history starts
    * inside the range baselines at 0, and series with no in-range bucket
    * emit nothing. The endpoint lookups are two conditional max_by
    * aggregates over BUCKET rows (series × buckets, never samples) riding
    * one groupBy on the series key. Scale note: the cumulative origin
    * cancels in the difference, so callers should bound the SCAN with
    * `rollup.startMs`/`rollup.stopMs` ≈ the dashboard's retention window
    * — the post-`endMs` filter here is then a no-op residual, and each
    * shard still POSTs exactly once.
    *
    * Precision caveat: this sibling differences DOUBLE-typed cumulative
    * `sum_total` values (`sum_end − coalesce(sum_start, 0.0)`) because
    * doubles are what the Influx wire format carries, while the batch
    * sibling [[graft.ext.EventsExt.energyRangeOfPartials]] sums exact
    * DECIMAL in-range increases with one terminal cast. The two agree
    * bit-for-bit only while the cumulative magnitudes stay inside the
    * double's exact range for the series' increase granularity (a
    * centi-unit counter is exact up to ~2^53/100 ≈ 9·10^13 units); a long
    * UNBOUNDED pre-range history can carry representation error into both
    * endpoints that the telescoped DECIMAL sum never sees. Bounding the
    * scan with `rollup.startMs` (already the scale advice above) also
    * bounds this error — the difference then spans only the scanned
    * window's accumulation, not the series' lifetime total. */
  def energyRangeMerge(partials: DataFrame, spec: Spec,
                       startMs: Long, endMs: Long): DataFrame = {
    require(startMs < endMs,
      s"energyRange: empty range [$startMs, $endMs)")
    val keys = spec.groupCols.map(c => col(groupColName(c)))
    val pre = col("bucket_start_ms") < startMs
    counterStatisticsMerge(partials, spec)
      .filter(col("bucket_start_ms") < endMs)
      .groupBy(keys: _*)
      .agg(
        max_by(col("sum_total"), col("bucket_start_ms")).as("sum_end"),
        max_by(when(pre, col("sum_total")), when(pre, col("bucket_start_ms")))
          .as("sum_start"),
        sum(when(!pre, lit(1L)).otherwise(lit(0L))).as("n_buckets"))
      .filter(col("n_buckets") > 0L)
      .select(keys ++ Seq(
        (col("sum_end") - coalesce(col("sum_start"), lit(0.0))).as("energy"),
        col("n_buckets")): _*)
  }

  /** One-call pushed energy-range panel: batch-read the
    * [[counterStatisticsOptions]] partials and difference `sum_total` at
    * the [startMs, endMs) endpoints per series. */
  def energyRange(spark: org.apache.spark.sql.SparkSession,
                  options: Map[String, String],
                  startMs: Long, endMs: Long): DataFrame = {
    val (partials, spec) = readPartials(spark, options)
    energyRangeMerge(partials, spec, startMs, endMs)
  }

  /** The pushed energy BAR SERIES — per-period consumption bars within
    * [startMs, endMs), the dashboard's other half
    * ([[graft.ext.EventsExt.energyBars]]'s Influx sibling): the counter
    * deltas are per consecutive-sample pair and therefore
    * GRID-INDEPENDENT, so reading the [[rateOptions]] partials directly
    * AT the bar grid (everyMs = gridMs, offset anchored at startMs)
    * yields each bar's increase in ONE fused POST per shard — no
    * client-side re-bucketing at all, the server windows at the display
    * resolution. A range end mid-bar keeps the final bar's full period
    * (bars are period-keyed rows, HA's convention). */
  def energyBars(spark: org.apache.spark.sql.SparkSession,
                 extra: Map[String, String],
                 startMs: Long, endMs: Long, gridMs: Long): DataFrame = {
    require(startMs < endMs,
      s"energyBars: empty range [$startMs, $endMs)")
    require(gridMs > 0, s"energyBars: gridMs must be positive, got $gridMs")
    // the bar grid anchors at startMs — a stale rollup.offsetMs inherited
    // from a shared extra map would mis-anchor it, so strip any inherited
    // offset before composing the spec (0-anchor ranges add no entry)
    val options = counterStatisticsOptions(gridMs,
      extra - "rollup.offsetMs", offsetMs = Math.floorMod(startMs, gridMs))
    val (partials, spec) = readPartials(spark, options)
    val keys = spec.groupCols.map(c => col(groupColName(c)))
    counterStatisticsMerge(partials, spec)
      .filter(col("bucket_start_ms") >= startMs &&
        col("bucket_start_ms") < endMs)
      .select(keys ++ Seq(col("bucket_start_ms"),
        col("increase").as("energy")): _*)
  }

  /** The pushed CALENDAR bar series — per-month / per-quarter / per-
    * local-day bars ([[graft.ext.EventsExt.energyBarsCalendar]]'s Influx
    * sibling). Flux `window()` cannot anchor zone-aware calendar months,
    * so unlike the fixed-grid [[energyBars]] the server windows at the
    * FINE grid (hourly by default — still ONE fused POST per shard,
    * bucket rows on the wire, never samples) and the calendar regroup is
    * one client-side groupBy over those bucket rows:
    * `date_trunc(unit, tz)` of each fine bucket's start. Same exactness
    * envelope as the batch sibling (hourly fine buckets cover every
    * whole-hour-offset zone incl. US/EU DST) and the same period-keyed
    * convention (bars filter on the PERIOD start; edge periods keep
    * whatever the scan covered — bound `rollup.startMs`/`stopMs` to whole
    * periods for full bars). Increases are summed as the wire's doubles;
    * [[energyRangeMerge]]'s precision caveat applies, similarly bounded
    * by the scan window. */
  def energyBarsCalendar(spark: org.apache.spark.sql.SparkSession,
                         extra: Map[String, String],
                         unit: String, tz: String,
                         startMs: Long, endMs: Long,
                         fineEveryMs: Long = 3600000L): DataFrame = {
    require(startMs < endMs,
      s"energyBarsCalendar: empty range [$startMs, $endMs)")
    // the calendar anchors the bars — strip any inherited fixed offset
    val options = counterStatisticsOptions(fineEveryMs,
      extra - "rollup.offsetMs")
    val (partials, spec) = readPartials(spark, options)
    val keys = spec.groupCols.map(c => col(groupColName(c)))
    counterStatisticsMerge(partials, spec)
      .withColumn("_cb", graft.ext.EventsExt.calendarBucket(
        col("bucket_start_ms"), unit, tz))
      .groupBy(keys :+ col("_cb"): _*)
      .agg(sum(col("increase")).as("energy"))
      .filter(col("_cb") >= startMs && col("_cb") < endMs)
      .select(keys ++ Seq(col("_cb").as("bucket_start_ms"),
        col("energy")): _*)
  }

  /** Option map for the pushed LOCF panel: the last-observation rollup
    * (last_value + its max_time merge key) at one bucket width. Feed to
    * `spark.read.format("influx")` and finish with [[locfPanel]], or call
    * [[locfRead]] for the one-call form. `offsetMs` shifts the grid for
    * timezone-aligned daily panels, composing like the rest of the
    * ladder. */
  def locfOptions(everyMs: Long, extra: Map[String, String] = Map.empty,
                  offsetMs: Long = 0L): Map[String, String] =
    extra ++ Map(
      "rollup.everyMs" -> everyMs.toString,
      "rollup.aggs" -> "last_value,max_time") ++
      (if (offsetMs != 0L) Map("rollup.offsetMs" -> offsetMs.toString)
       else Map.empty)

  /** The pushed "current value per sensor at grid times" panel — the
    * as-of/LOCF read real HA dashboards run, composed from the ladder's
    * last_value/max_time rollup: only (series × occupied-bucket) rows
    * ever leave the server, the shard/trigger partials fold through
    * [[finalMerge]]'s max_by algebra, and the dense tick grid is filled
    * by [[graft.ext.EventsExt.locfFill]]'s single-pass lead+explode
    * (ONE read of the partials — one POST ladder per shard) — tick t
    * reports the newest observation strictly before t (a sample
    * AT t lives in the bucket starting at t), NULL-valued when the
    * newest sample was string-typed. `stopMs` extends every series to
    * the greatest grid tick ≤ stop (the "now" row, stale values
    * carried). Exactness: LOCF evaluated ON grid ticks only needs each
    * bucket's newest observation, so the pushed panel ≡ the client-side
    * as-of over raw samples at those ticks — spec'd against the
    * sequential model in InfluxLocfReadSpec. */
  def locfPanel(partials: DataFrame, spec: Spec,
                stopMs: Option[Long] = None): DataFrame = {
    val lastName = spec.aggs.collectFirst {
      case (InfluxScan.AggLastValue, n) => n }
    val timeName = spec.aggs.collectFirst {
      case (InfluxScan.AggMaxTime, n) => n }
    require(lastName.isDefined && timeName.isDefined,
      "locfPanel: spec must carry last_value and max_time (see locfOptions)")
    graft.ext.EventsExt.locfFill(finalMerge(partials, spec),
      spec.groupCols.map(groupColName), spec.everyMs,
      lastName.get, timeName.get, stopMs)
  }

  /** One-call pushed LOCF panel: batch-read the last-observation partials
    * with the given options and grid-fill them. */
  def locfRead(spark: org.apache.spark.sql.SparkSession,
               options: Map[String, String],
               stopMs: Option[Long] = None): DataFrame = {
    val (partials, spec) = readPartials(spark, options)
    locfPanel(partials, spec, stopMs)
  }

  /** Option map for the pushed linear-interpolation panel: the four
    * numeric boundary slots (the rate family's, minus increase) at one
    * bucket width. Feed to `spark.read.format("influx")` and finish with
    * [[lerpPanel]], or call [[lerpRead]] for the one-call form. */
  def lerpOptions(everyMs: Long, extra: Map[String, String] = Map.empty,
                  offsetMs: Long = 0L): Map[String, String] =
    extra ++ Map(
      "rollup.everyMs" -> everyMs.toString,
      "rollup.aggs" -> ("first_num_time,first_num_value," +
        "last_num_time,last_num_value")) ++
      (if (offsetMs != 0L) Map("rollup.offsetMs" -> offsetMs.toString)
       else Map.empty)

  /** The pushed "interpolated sensor value at grid times" panel — the
    * physically-faithful sibling of [[locfPanel]] for continuous
    * signals, composed from the ladder's numeric boundary slots: only
    * (series × occupied-bucket) rows leave the server, and
    * [[graft.ext.EventsExt.lerpFill]] brackets each grid tick between
    * its nearest numeric samples — EXACT because grid ticks are bucket
    * boundaries, so a tick's brackets are always some bucket's LAST
    * sample and some bucket's FIRST sample, which is precisely what the
    * slots carry (the decomposition theorem `events_lerp_panel` pins
    * under the resample_linear oracle). String samples are invisible,
    * as in every numeric interpolation; the interpolation arithmetic is
    * plain double `pv + (nv-pv)·(t-pt)/(nt-pt)`, spec'd bit-exact
    * against the sequential model on dyadic fixtures. */
  def lerpPanel(partials: DataFrame, spec: Spec,
                stopMs: Option[Long] = None): DataFrame = {
    val needed = Seq(InfluxScan.AggFirstNumTime, InfluxScan.AggFirstNumValue,
      InfluxScan.AggLastNumTime, InfluxScan.AggLastNumValue)
    require(needed.forall(n => spec.aggs.exists(_._1 == n)),
      "lerpPanel: spec must carry all four numeric boundary slots " +
        "(see lerpOptions)")
    lerpFillMerged(finalMerge(partials, spec), spec, stopMs)
  }

  /** The fill half of [[lerpPanel]] over an ALREADY-merged boundary-slot
    * table — the streaming twin maintains the merge across triggers and
    * finishes with this exact arithmetic, so stream ≡ batch exercises
    * the shipped op sequence, not a re-implementation. */
  def lerpFillMerged(merged: DataFrame, spec: Spec,
                     stopMs: Option[Long] = None): DataFrame =
    graft.ext.EventsExt.lerpFill(merged,
      spec.groupCols.map(groupColName), spec.everyMs,
      point = identity,
      lerp = (pt, pv, nt, nv, t) =>
        pv + (nv - pv) * ((t - pt).cast("double") / (nt - pt).cast("double")),
      stopMs)

  /** One-call pushed lerp panel: batch-read the boundary-slot partials
    * with the given options and bracket-fill the grid. */
  def lerpRead(spark: org.apache.spark.sql.SparkSession,
               options: Map[String, String],
               stopMs: Option[Long] = None): DataFrame = {
    val (partials, spec) = readPartials(spark, options)
    lerpPanel(partials, spec, stopMs)
  }

  /** Option map for the pushed moving-average panel: per-bucket numeric
    * (sum, count) pairs — the sufficient statistics of any
    * whole-bucket-window average. Feed to `spark.read.format("influx")`
    * and finish with [[movingAvgPanel]], or call [[movingAvgRead]]. */
  def movingOptions(everyMs: Long, extra: Map[String, String] = Map.empty,
                    offsetMs: Long = 0L): Map[String, String] =
    extra ++ Map(
      "rollup.everyMs" -> everyMs.toString,
      "rollup.aggs" -> "sum,count_value") ++
      (if (offsetMs != 0L) Map("rollup.offsetMs" -> offsetMs.toString)
       else Map.empty)

  /** The pushed trailing moving-average panel — Grafana's
    * `timedMovingAverage` ("24h moving average per sensor, sampled
    * hourly") composed from the ladder's per-bucket (sum, count)
    * partials: the trailing window is a union of whole buckets, so the
    * pairs are sufficient statistics — only (series × occupied-bucket)
    * rows leave the server, the RANGE frame re-sums the last `lookback`
    * buckets' pairs and divides ONCE. Absent buckets contribute nothing
    * (a RANGE frame over bucket_start_ms, never a rows-frame); occupancy
    * is NUMERIC occupancy — the sum/count programs run over the
    * numeric-filtered stream, so a string-only bucket emits no partial
    * and no panel row (the zero-count NULL guard below is defensive, for
    * a lying server's zero cells only). `events_moving_hourly` pins the
    * same algebra on parquet under a DuckDB window oracle. */
  def movingAvgPanel(partials: DataFrame, spec: Spec,
                     lookback: Int): DataFrame = {
    require(lookback >= 1,
      s"movingAvgPanel: lookback must be ≥ 1, got $lookback")
    val needed = Seq(InfluxScan.AggSumValue, InfluxScan.AggCountValue)
    require(needed.forall(n => spec.aggs.exists(_._1 == n)),
      "movingAvgPanel: spec must carry sum and count_value " +
        "(see movingOptions)")
    movingAvgMerged(finalMerge(partials, spec), spec, lookback)
  }

  /** The frame half of [[movingAvgPanel]] over an ALREADY-merged
    * (sum, count) table — the streaming twin maintains the merge across
    * triggers and finishes with this exact arithmetic, so stream ≡
    * batch exercises the shipped op sequence. */
  def movingAvgMerged(merged: DataFrame, spec: Spec,
                      lookback: Int): DataFrame = {
    require(lookback >= 1,
      s"movingAvgMerged: lookback must be ≥ 1, got $lookback")
    val keys = spec.groupCols.map(groupColName).map(col)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keys: _*)
      .orderBy(col("bucket_start_ms").asc)
      .rangeBetween(-(lookback - 1L) * spec.everyMs, 0L)
    val cnt = sum(col("count_value")).over(w)
    merged.select(keys ++ Seq(col("bucket_start_ms"),
      when(coalesce(cnt, lit(0L)) === 0L, lit(null).cast("double"))
        .otherwise(sum(col("sum_value")).over(w) / cnt.cast("double"))
        .as("moving_avg")): _*)
  }

  /** One-call pushed moving-average panel: batch-read the (sum, count)
    * partials with the given options and window-average them. */
  def movingAvgRead(spark: org.apache.spark.sql.SparkSession,
                    options: Map[String, String],
                    lookback: Int): DataFrame = {
    val (partials, spec) = readPartials(spark, options)
    movingAvgPanel(partials, spec, lookback)
  }

  /** The option map for a pushed stddev/variance panel over one bucket
    * width: the second raw moment plus sum and numeric count — the
    * decomposition that, unlike Flux's own stddev(), merges across
    * shards AND triggers by plain addition (each slot is an associative
    * sum). Feed to `spark.read.format("influx")` / `readStream` and
    * finish with [[stddevPanel]] / [[stddevMerged]], or call
    * [[stddevRead]] for the one-call batch form. */
  def stddevOptions(everyMs: Long, extra: Map[String, String] = Map.empty,
                    offsetMs: Long = 0L): Map[String, String] =
    extra ++ Map(
      "rollup.everyMs" -> everyMs.toString,
      "rollup.aggs" -> "sum,sum_sq,count_value") ++
      (if (offsetMs != 0L) Map("rollup.offsetMs" -> offsetMs.toString)
       else Map.empty)

  /** Per-bucket SAMPLE variance and stddev from the merged raw moments:
    * var = (Σv² − (Σv)²/n) / (n−1), NULL when n < 2 (no sample variance
    * of a singleton — ANSI semantics, never a /0). The op sequence is
    * fixed IEEE arithmetic over the exactly-merged sums, identical to
    * the parquet twin `events_stddev_hourly`'s — NOT Welford's central-
    * moment fold (Spark's stddev_samp), whose low bits differ; callers
    * compare against the raw-moment spelling. */
  def stddevPanel(partials: DataFrame, spec: Spec): DataFrame = {
    val needed = Seq(InfluxScan.AggSumValue, InfluxScan.AggSumSq,
      InfluxScan.AggCountValue)
    require(needed.forall(n => spec.aggs.exists(_._1 == n)),
      "stddevPanel: spec must carry sum, sum_sq and count_value " +
        "(see stddevOptions)")
    stddevMerged(finalMerge(partials, spec), spec)
  }

  /** The arithmetic half of [[stddevPanel]] over an ALREADY-merged
    * (sum, sum_sq, count) table — the streaming twin maintains the merge
    * across triggers and finishes with this exact op sequence, so
    * stream ≡ batch exercises the shipped arithmetic. */
  def stddevMerged(merged: DataFrame, spec: Spec): DataFrame = {
    val keys = spec.groupCols.map(groupColName).map(col)
    val n = col("count_value")
    val varSamp =
      (col("sum_sq") - col("sum_value") * col("sum_value") / n.cast("double")) /
        (n - lit(1L)).cast("double")
    merged.select(keys ++ Seq(col("bucket_start_ms"), n.as("n"),
      when(n < 2L, lit(null).cast("double")).otherwise(varSamp)
        .as("var_samp"),
      when(n < 2L, lit(null).cast("double")).otherwise(sqrt(varSamp))
        .as("stddev_samp")): _*)
  }

  /** One-call pushed stddev/variance panel: batch-read the raw-moment
    * partials with the given options and finish the panel arithmetic. */
  def stddevRead(spark: org.apache.spark.sql.SparkSession,
                 options: Map[String, String]): DataFrame = {
    val (partials, spec) = readPartials(spark, options)
    stddevPanel(partials, spec)
  }

  /** Bollinger bands off the SAME raw-moment read ([[stddevOptions]]):
    * trailing mean ± k·σ per (series, bucket). The trailing window is a
    * union of whole buckets, so the re-summed (Σv, Σv², n) are sufficient
    * statistics — one POST feeds the moving average AND its dispersion
    * envelope; no second read, no sample ever leaves the server. Bands
    * are NULL when the window holds < 2 numeric samples; the mid line
    * needs only occupancy. Batch twin `events_bollinger` pins the same
    * finish under the DuckDB oracle on milli-quantized moments. */
  def bollingerMerged(merged: DataFrame, spec: Spec, lookback: Int,
                      k: Double = 2.0): DataFrame = {
    require(lookback >= 1,
      s"bollingerMerged: lookback must be ≥ 1, got $lookback")
    val keys = spec.groupCols.map(groupColName).map(col)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keys: _*)
      .orderBy(col("bucket_start_ms").asc)
      .rangeBetween(-(lookback - 1L) * spec.everyMs, 0L)
    val n = coalesce(sum(col("count_value")).over(w), lit(0L))
    val s = sum(col("sum_value")).over(w)
    val s2 = sum(col("sum_sq")).over(w)
    val mid = when(n === 0L, lit(null).cast("double"))
      .otherwise(s / n.cast("double"))
    val sigma =
      sqrt((s2 - s * s / n.cast("double")) / (n - lit(1L)).cast("double"))
    merged.select(keys ++ Seq(col("bucket_start_ms"), n.as("n"),
      mid.as("mid"),
      when(n < 2L, lit(null).cast("double"))
        .otherwise(mid + lit(k) * sigma).as("upper"),
      when(n < 2L, lit(null).cast("double"))
        .otherwise(mid - lit(k) * sigma).as("lower")): _*)
  }

  /** One-call pushed Bollinger panel: batch-read the raw-moment partials
    * (the [[stddevOptions]] map) and draw the bands. */
  def bollingerRead(spark: org.apache.spark.sql.SparkSession,
                    options: Map[String, String], lookback: Int,
                    k: Double = 2.0): DataFrame = {
    val spec = fromOptions(scala.jdk.CollectionConverters
      .MapHasAsJava(options).asJava).getOrElse(throw new
        IllegalArgumentException("rollup.everyMs option required"))
    val needed = Seq(InfluxScan.AggSumValue, InfluxScan.AggSumSq,
      InfluxScan.AggCountValue)
    require(needed.forall(x => spec.aggs.exists(_._1 == x)),
      "bollingerRead: spec must carry sum, sum_sq and count_value " +
        "(see stddevOptions)")
    val partials = options.foldLeft(
      spark.read.format("influx")) { case (r, (kk, v)) => r.option(kk, v) }
      .load()
    bollingerMerged(finalMerge(partials, spec), spec, lookback, k)
  }

  /** Quantiles read off the PUSHED value histogram — "p95 per sensor per
    * hour" with only bucket×bin counts ever leaving the server. Input is
    * the partial frame of a spec grouped by one `bin:` key with a `count`
    * aggregate; partials first re-merge per (group, bucket, bin) — the
    * counts are associative across shards AND triggers — then each
    * quantile is the deterministic upper bin boundary
    * [[graft.ext.EventsExt.histQuantiles]] defines: est(q) = upper(b) for
    * the smallest bin b whose cumulative count reaches ceil(q·n), where
    * upper(b) inverts the bin op ((b+1)·w for bin:/w, (b+1)/k for
    * bin:*k). The Window runs over the BOUNDED (group × occupied-bin)
    * histogram, never over samples; error ≤ one bin width. NULL bins
    * (non-numeric samples) are excluded, like any numeric quantile. */
  def histogramQuantiles(partials: DataFrame, spec: Spec,
                         qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    val binTok = spec.groupCols.find(_.startsWith("bin:")).getOrElse(
      throw new IllegalArgumentException(
        "histogramQuantiles: spec needs a bin:<op><width> group key"))
    val (op, x) = InfluxScan.binSpec(binTok)
    val countCol = spec.aggs.collectFirst {
      case (InfluxScan.AggCountStar, n) => n
    }.getOrElse(throw new IllegalArgumentException(
      "histogramQuantiles: spec needs the count aggregate"))
    val keys = spec.groupCols.filterNot(_.startsWith("bin:"))
      .map(c => col(groupColName(c))) :+ col("bucket_start_ms")
    val hist = partials.filter(col("bin").isNotNull)
      .groupBy(keys :+ col("bin"): _*).agg(sum(col(countCol)).as("n"))
    // the quantile algebra itself lives ONCE, shared with the batch
    // fixed-bin quantiles — only the bin-op inversion differs
    graft.ext.EventsExt.quantilesFromHist(hist, keys, qs,
      b => op match {
        case '*' => b.cast("double") / x
        case _ => b.cast("double") * x
      }, "n_samples")
  }

  /** Convenience: open the rollup partial stream with the given options
    * and maintain the merged rollup — the one-call streaming twin of the
    * batch `groupBy(time_ms div W).agg(...)` rollup. */
  def readMerged(spark: org.apache.spark.sql.SparkSession,
                 options: Map[String, String]): DataFrame = {
    val spec = fromOptions(scala.jdk.CollectionConverters
      .MapHasAsJava(options).asJava).getOrElse(throw new
        IllegalArgumentException("rollup.everyMs option required"))
    val partials = options.foldLeft(
      spark.readStream.format("influx")) { case (r, (k, v)) => r.option(k, v) }
      .load()
    finalMerge(partials, spec)
  }
}

/** Scan for the rollup read mode: batch (one task per range shard) and
  * micro-batch streaming (one task per offset-range shard per trigger) —
  * both emit partial rows via [[InfluxRollup.partials]]. */
final class InfluxRollupScan(cfg: InfluxSink.Config, readPartitions: Int,
                             spec: InfluxRollupRead.Spec, streamLagMs: Long)
    extends Scan with Batch {

  override def readSchema(): StructType = InfluxRollupRead.schemaOf(spec)
  override def toBatch: Batch = this
  override def description(): String =
    s"influx rollup every=${spec.everyMs}ms aggs=${spec.aggs.map(_._2).mkString(",")}" +
      s" group=${spec.groupCols.mkString(",")} range(start=${spec.startMs}" +
      spec.stopMs.map(e => s", stop=$e").getOrElse("") + ")"

  override def planInputPartitions(): Array[InputPartition] =
    InfluxScan.shards(spec.startMs, spec.stopMs, readPartitions).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    InfluxRollupReaderFactory(cfg, spec)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new InfluxRollupMicroBatchStream(cfg, readPartitions, spec, streamLagMs)
}

final case class InfluxRollupReaderFactory(cfg: InfluxSink.Config,
                                           spec: InfluxRollupRead.Spec)
  extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[InfluxInputPartition]
    new InfluxPartitionReader(() => InfluxRollup.partials(cfg,
      spec.aggs.map(_._1), Some(spec.everyMs), part.startMs, part.stopMs,
      spec.measurement, spec.field, spec.groupCols, spec.tagEq, spec.tagRegex,
      spec.offsetMs))
  }
}

/** The streaming half: the same epoch-ms high-water offsets as the raw
  * sample stream ([[InfluxOffsetStream]]), but each trigger's half-open
  * range POSTs windowed rollup partials instead of raw samples — bytes
  * moved per trigger scale with BUCKETS, not samples. Restart resumes
  * from the committed offset; a bucket cut by a trigger boundary simply
  * contributes one partial per side, folded by the consumer's maintained
  * aggregate. */
final class InfluxRollupMicroBatchStream(cfg: InfluxSink.Config,
                                         readPartitions: Int,
                                         spec: InfluxRollupRead.Spec,
                                         lagMs: Long)
  extends InfluxOffsetStream(readPartitions, spec.startMs, spec.stopMs, lagMs) {

  // alignTriggers: snap down to the bucket boundary so a bucket is read
  // whole by one trigger — EXCEPT when the declared stop bound has been
  // reached, where the final partial bucket must still be emitted (the
  // snap would otherwise strand [lastBoundary, stop) forever). The snap
  // runs on the SPEC'S grid: with a shifted-bucket read (offsetMs) an
  // epoch-grid snap would land mid-bucket and quietly void the option's
  // one-partial-per-bucket guarantee.
  override protected def snap(clamped: Long): Long =
    if (spec.alignTriggers && !spec.stopMs.contains(clamped))
      math.max(spec.startMs,
        Math.floorDiv(clamped - spec.offsetMs, spec.everyMs) *
          spec.everyMs + spec.offsetMs)
    else clamped

  override def createReaderFactory(): PartitionReaderFactory =
    InfluxRollupReaderFactory(cfg, spec)
}
