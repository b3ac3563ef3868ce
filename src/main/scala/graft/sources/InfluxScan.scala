package graft.sources

import graft.etl.InfluxSink
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.time.Instant

/** S2 as a DataSource V2 *read* path: `spark.read.format("influx")` over
  * the raw Flux record stream — one row per (series, field, time) sample:
  *
  *   (measurement STRING, field STRING, value DOUBLE, time_ms LONG,
  *    tags MAP<STRING,STRING>)
  *
  * Scale design — the two things a time-series backend read MUST do:
  *
  *  - **Filter pushdown into Flux.** time_ms bounds become the server-side
  *    `range(start:, stop:)` (Influx prunes by its time index — this is
  *    the difference between reading a slice and scanning the bucket);
  *    measurement/field equality becomes a Flux `filter(...)`. Accepted
  *    filters are FULLY claimed (no Spark residual — that is what lets
  *    TopN/LIMIT push through them); the safety net is the PARTITION
  *    READER, which re-enforces every claimed predicate on the parsed
  *    samples, so correctness never hinges on a server's boundary
  *    behavior. Anything not exactly translatable stays residual.
  *  - **Partitioned parallel reads.** A bounded time range splits into
  *    `readPartitions` disjoint sub-ranges, one Flux POST per task — the
  *    standard range-sharding pattern for pull-based sources. Unbounded
  *    scans stay single-partition (nothing sound to split on).
  */
object InfluxScan {
  val schema: StructType = StructType(Seq(
    StructField("measurement", StringType, nullable = true),
    StructField("field", StringType, nullable = true),
    StructField("value", DoubleType, nullable = true),
    StructField("time_ms", LongType, nullable = true),
    StructField("tags", MapType(StringType, StringType), nullable = true)))

  /** Flux CSV columns that are NOT tags ("_graft_agg" is the fused-query
    * branch marker, [[FusedMarkerCol]]). The cursor's tag rule
    * ([[FluxCsv.Row.tags]]) is the one reader of this set, so the sample
    * parse and the marker-cleanup tool's typed parse agree on what counts
    * as a tag. */
  private[graft] val reserved = Set("", "result", "table", "_start",
    "_stop", "_time", "_value", "_field", "_measurement", "_graft_agg")

  final case class Sample(measurement: String, field: String,
                          value: Option[Double], timeMs: Long,
                          tags: Map[String, String]) {
    /** The claimed-predicate re-check every reader applies to parsed
      * samples: time in [startMs, stopMs), measurement and field equality.
      * Correctness must not hinge on a server's boundary behavior. */
    def within(startMs: Long, stopMs: Option[Long],
               measurement: Option[String], field: Option[String]): Boolean =
      timeMs >= startMs && stopMs.forall(timeMs < _) &&
        measurement.forall(_ == this.measurement) && field.forall(_ == this.field)
  }

  private def parsed[A](a: => A): Option[A] =
    try Some(a) catch { case scala.util.control.NonFatal(_) => None }

  private def epochMs(cell: String): Option[Long] =
    if (cell == null) None else parsed(Instant.parse(cell).toEpochMilli)

  /** The samples of an annotated-CSV response, lazily: one per data row
    * whose `_time` parses, tags by the cursor's tag rule. */
  private[graft] def parseSamples(rows: IterableOnce[FluxCsv.Row]): Iterator[Sample] =
    rows.iterator.flatMap { r =>
      val t = r.table
      epochMs(r.cell(t.time)).map(ms => Sample(
        measurement = Option(r.cell(t.measurement)).getOrElse(""),
        field = Option(r.cell(t.field)).getOrElse(""),
        value = Option(r.cell(t.value)).flatMap(v => parsed(v.toDouble)),
        timeMs = ms,
        tags = r.tags))
    }

  /** The raw scan's rows: one POST per (program, population predicate),
    * lazily, each program's parsed samples re-enforced against the fully
    * pushed predicates (the Flux translation is believed exact, but the
    * engine's correctness must not hinge on a server's boundary
    * behavior) and kept only in its own population — the value-TopN path
    * pairs a numeric top()/bottom() pull with the NULL-value pad pull, so
    * the concatenation stays duplicate-free even against a server that
    * answers every program with the same raw dump. Projected onto
    * `required`, whose columns resolve to their cell getters once per
    * read. */
  private[sources] def sampleRows(cfg: InfluxSink.Config, required: StructType,
                                  programs: Seq[(String, Sample => Boolean)],
                                  startMs: Long, stopMs: Option[Long],
                                  measurement: Option[String],
                                  field: Option[String]): Iterator[InternalRow] = {
    val cells: Array[Sample => Any] = required.fieldNames.map {
      case "measurement" => (s: Sample) => UTF8String.fromString(s.measurement)
      case "field" => (s: Sample) => UTF8String.fromString(s.field)
      case "value" => (s: Sample) => s.value.map(Double.box).orNull
      case "time_ms" => (s: Sample) => Long.box(s.timeMs)
      case "tags" => (s: Sample) => ArrayBasedMapData(s.tags,
        (k: Any) => UTF8String.fromString(k.asInstanceOf[String]),
        (v: Any) => UTF8String.fromString(v.asInstanceOf[String]))
      case other => throw new IllegalArgumentException(s"unknown column $other")
    }
    programs.iterator.flatMap { case (flux, keep) =>
      parseSamples(FluxCsv(InfluxWatermarkSource.postFlux(cfg, flux)))
        .filter(s => keep(s) && s.within(startMs, stopMs, measurement, field))
    }.map { s =>
      val values = new Array[Any](cells.length)
      var i = 0
      while (i < cells.length) { values(i) = cells(i)(s); i += 1 }
      new GenericInternalRow(values)
    }
  }

  /** Influx's minimum representable time (1677-09-21), rounded up a
    * second: the unbounded lower bound. Epoch 0 would silently hide
    * pre-1970 samples the residual filter could never restore. */
  private[graft] val MinTimeMs: Long = -9223372036000L

  /** Pushable aggregate shapes (SupportsPushDownAggregates): min/max over
    * the two orderable sample columns, count(*), sum(value) and
    * count(value). Each executes SERVER-SIDE — min/max as the same Flux
    * `group() |> sort |> limit(n:1)` pipeline the TopN pushdown emits
    * (over `_time` or `_value`), count(*) as Flux `group() |> count()`,
    * sum/count over value as the numeric-filtered `sum(column: "_value")`
    * / `count(column: "_value")` — so a declarative `df.agg(min("time_ms"))`
    * (the reference's watermark, sqllite2influxdb.py:57-63) never pulls
    * raw samples from the bucket. Spark's partial-agg contract merges the
    * partials (min/min, max/max, count→sum, sum→sum), and decomposes
    * avg(value) into sum+count before offering it, so per-shard partial
    * push covers avg too. */
  private[graft] sealed trait AggSpec extends Serializable
  private[graft] case object AggMinTime extends AggSpec
  private[graft] case object AggMaxTime extends AggSpec
  private[graft] case object AggMinValue extends AggSpec
  private[graft] case object AggMaxValue extends AggSpec
  private[graft] case object AggCountStar extends AggSpec
  private[graft] case object AggSumValue extends AggSpec
  private[graft] case object AggCountValue extends AggSpec
  // sum of SQUARES over the numeric samples (pushed as a `map(fn: (r) =>
  // ({r with _value: r._value * r._value}))` stage before the windowed
  // sum) — the second raw moment. With AggSumValue + AggCountValue it is
  // the decomposition of every variance/stddev panel: the three partials
  // merge across shards/buckets by plain addition, so the dashboard's
  // "σ per hour" runs server-side where Flux's own stddev() (not
  // shard-mergeable) could not. Only raw-moment SPELLINGS push
  // (sum(value*value)); Spark's stddev_samp/var_samp aggregates stay
  // unpushed — they fold Welford central moments whose low bits differ
  // from the raw-moment form, and the push must never change a result.
  private[graft] case object AggSumSq extends AggSpec
  // value AT the extreme timestamp (Flux last()/first() decomposed as the
  // same `sort |> limit(n:1)` pipeline as min/max over `_time`, but
  // keeping `_value`): the max_by/min_by(value, time_ms) partial — the
  // "current reading per sensor" / last-of-bucket downsample shape. Only
  // the rollup rule emits these (V2ScanRelationPushDown cannot offer
  // MAX_BY); ties on equal timestamps within one series are
  // nondeterministic, exactly as in the unpushed MaxBy
  private[graft] case object AggLastValue extends AggSpec
  private[graft] case object AggFirstValue extends AggSpec
  // the COUNTER-RATE family (PromQL-contract increase, only the rollup
  // read mode emits these): per (series, bucket, shard) segment, the
  // reset-aware sum of consecutive numeric deltas WITHIN the segment —
  // pushed as Flux `window |> increase |> last`, recomputed locally from
  // time-sorted samples when the response is untrusted. The four
  // *Num* specs carry the segment's boundary samples (first/last NUMERIC
  // value and their times — unlike last/first_value these skip string
  // samples, because the stitch pairs numeric neighbors across segment
  // boundaries exactly like a lag() over the numeric-filtered series).
  // [[InfluxRollupRead.rateMerge]] stitches segments into exact global
  // per-bucket increases; only boundary samples ever cross shards.
  private[graft] case object AggIncrease extends AggSpec
  private[graft] case object AggFirstNumTime extends AggSpec
  private[graft] case object AggFirstNumValue extends AggSpec
  private[graft] case object AggLastNumTime extends AggSpec
  private[graft] case object AggLastNumValue extends AggSpec
  // per-window trapezoid integral (Flux `integral(unit: 1ms)` parity —
  // the "energy from power" panel): the area under the linearly-
  // interpolated curve of consecutive numeric samples WITHIN the
  // window, in value·milliseconds; pairs crossing a window boundary
  // contribute nothing, exactly Flux's windowed-integral convention.
  // Pushed as `window |> integral(unit: 1ms)`, recomputed locally from
  // time-sorted samples when the response is untrusted. Shares the four
  // *Num* boundary slots with the rate family: [[InfluxRollupRead
  // .integralMerge]] adds the trapezoid of each same-bucket cross-shard
  // pair back, so the merged result equals the single-shard read.
  private[graft] case object AggIntegral extends AggSpec
  // per-window LOCF (rectangle-rule) area over within-window consecutive
  // numeric pairs: Σ v_i · (t_{i+1} − t_i) in value·milliseconds, the
  // last sample of each window contributing nothing — the step-function
  // sibling of AggIntegral, and the within-bucket half of every
  // time-weighted-average panel (Home Assistant long-term-statistics
  // `mean`: a sensor reading 20° for 55 min and 10° for 5 averages 19.2,
  // not 15). Pushed as real Flux `sort |> events.duration(unit: 1ms,
  // stopColumn: "_time") |> map(v·d) |> sum` (stopColumn "_time" zeroes
  // the last row's duration, so ONLY within-window pairs count);
  // recomputed locally from time-sorted samples when the response is
  // untrusted. Shares the four *Num* boundary slots:
  // [[InfluxRollupRead.twaMerge]] splits each cross-segment LOCF hold
  // [last_num_time, next first_num_time) across the buckets it spans,
  // and derives within-window coverage as last_num_time −
  // first_num_time (holds between same-window samples partition that
  // interval exactly), so the merged (area, coverage) pair equals the
  // single-shard read's.
  private[graft] case object AggLocfArea extends AggSpec

  /** Column type each partial-aggregate slot emits (positional contract
    * with Spark's partial-agg rewrite: min→min, max→max, count→sum).
    * With pushed grouping the contract puts the group columns FIRST, in
    * the order Spark handed them to pushAggregation. */
  private[sources] def aggSchema(specs: Seq[AggSpec],
                                 groupCols: Seq[String] = Nil): StructType =
    StructType(groupCols.map(c => StructField(c, StringType)) ++
      specs.zipWithIndex.map {
        case (AggMinTime, i) => StructField(s"min_time_ms_$i", LongType)
        case (AggMaxTime, i) => StructField(s"max_time_ms_$i", LongType)
        case (AggMinValue, i) => StructField(s"min_value_$i", DoubleType)
        case (AggMaxValue, i) => StructField(s"max_value_$i", DoubleType)
        case (AggCountStar, i) => StructField(s"count_star_$i", LongType, nullable = false)
        case (AggSumValue, i) => StructField(s"sum_value_$i", DoubleType)
        case (AggCountValue, i) => StructField(s"count_value_$i", LongType, nullable = false)
        case (AggSumSq, i) => StructField(s"sum_sq_$i", DoubleType)
        case (AggLastValue, i) => StructField(s"last_value_$i", DoubleType)
        case (AggFirstValue, i) => StructField(s"first_value_$i", DoubleType)
        // rate-family specs never reach the flat DSv2 push (only the
        // rollup read mode emits them); typed here for exhaustivity
        case (AggIncrease, i) => StructField(s"increase_$i", DoubleType)
        case (AggFirstNumTime, i) => StructField(s"first_num_time_$i", LongType)
        case (AggLastNumTime, i) => StructField(s"last_num_time_$i", LongType)
        case (AggFirstNumValue, i) => StructField(s"first_num_value_$i", DoubleType)
        case (AggLastNumValue, i) => StructField(s"last_num_value_$i", DoubleType)
        case (AggIntegral, i) => StructField(s"integral_$i", DoubleType)
        case (AggLocfArea, i) => StructField(s"locf_area_$i", DoubleType)
      })

  /** Spark group column → the Flux stream column carrying it. Arbitrary
    * tag keys (the rollup rule's `tags['k']` groupings) are encoded
    * "tag:k" and carry their own column name in the stream. */
  private[graft] def fluxGroupCol(c: String): String = c match {
    case "measurement" => "_measurement"
    case "field" => "_field"
    case t if t.startsWith("tag:") => t.stripPrefix("tag:")
    case b if b.startsWith("bin:") => "bin"
    case other => throw new IllegalArgumentException(s"ungroupable column $other")
  }

  /** Value-histogram group key, encoded "bin:*<k>" (floor(value·k)) or
    * "bin:/<w>" (floor(value/w)) with the literal as
    * `java.lang.Double.toString` — the EXACT double the Spark expression
    * multiplies/divides by, so server, executor fallback and Spark's own
    * Floor(Divide|Multiply) all run the same IEEE op on the same operand. */
  private[graft] def binSpec(token: String): (Char, Double) = {
    val body = token.stripPrefix("bin:")
    require(body.length > 1 && (body.head == '*' || body.head == '/'),
      s"malformed bin token '$token'")
    (body.head, body.tail.toDouble)
  }

  /** The bin of a numeric sample under a "bin:" token — the executor-side
    * twin of the Flux map stage and of Spark's floor(value ∘ lit). */
  private[graft] def binOf(value: Double, token: String): Long = {
    val (op, x) = binSpec(token)
    math.floor(if (op == '*') value * x else value / x).toLong
  }

  /** The scan's house sharding rule, shared by the raw scan, the flat
    * aggregate push, the rollup leaf, the rollup read mode and both
    * micro-batch streams: a contradictory range (stop ≤ start) has no
    * shards — Flux rejects it with HTTP 400, and zero rows (zero groups)
    * is its answer; a bounded range splits by [[splitRange]]; an open
    * one stays whole (nothing sound to split on). */
  private[graft] def shards(startMs: Long, stopMs: Option[Long],
                            parts: Int): Seq[InfluxInputPartition] =
    (stopMs match {
      case Some(stop) if stop <= startMs => Nil
      case Some(stop) => splitRange(startMs, stop, parts)
      case None => Seq((startMs, None))
    }).map { case (s, e) => InfluxInputPartition(s, e) }

  /** Split a BOUNDED range into `parts` disjoint half-open sub-ranges
    * (the last takes the remainder); a range narrower than the part
    * count stays whole. */
  private[graft] def splitRange(startMs: Long, stop: Long,
                                parts: Int): Seq[(Long, Option[Long])] =
    if (parts > 1 && stop - startMs >= parts) {
      val width = (stop - startMs) / parts
      (0 until parts).map { i =>
        val s = startMs + i * width
        (s, Some(if (i == parts - 1) stop else s + width))
      }
    } else Seq((startMs, Some(stop)))

  /** A Flux float literal carrying the double EXACTLY: the plain decimal
    * expansion (every binary64 has a finite one) parses back to the same
    * bits under round-to-nearest. A ".0" suffix keeps it a float literal
    * (Flux arithmetic does not coerce int→float). */
  private def fluxFloat(x: Double): String = {
    val s = new java.math.BigDecimal(x).toPlainString
    if (s.contains('.')) s else s + ".0"
  }

  /** Parse a GROUPED Flux aggregate response (count/sum): one row per
    * group, result in `_value`, no `_time` (aggregates drop the time
    * axis), group key read from `_measurement`/`_field`. Several tables
    * landing on one key ADD (a server that aggregated per series instead
    * of per group still sums correctly). None when the response carries
    * `_time` — raw samples; the caller re-reduces locally per group. */
  private def parseGroupedAgg[T](rows: Iterable[FluxCsv.Row], groupCols: Seq[String],
                                 parse: String => Option[T],
                                 add: (T, T) => T)
      : Option[Map[Seq[String], T]] = {
    val out = scala.collection.mutable.Map.empty[Seq[String], T]
    rows.foreach { r =>
      if (Option(r.cell(r.table.time)).exists(_.nonEmpty)) return None // raw samples
      Option(r.cell(r.table.value)).flatMap(v => parse(v.trim)).foreach { n =>
        val key = groupCols.map(c => Option(r.cell(fluxGroupCol(c))).getOrElse(""))
        out(key) = out.get(key).fold(n)(add(_, n))
      }
    }
    Some(out.toMap)
  }

  private[graft] def parseGroupedCounts(rows: Iterable[FluxCsv.Row], groupCols: Seq[String])
      : Option[Map[Seq[String], Long]] =
    parseGroupedAgg[Long](rows, groupCols, v => parsed(v.toLong), _ + _)

  private[graft] def parseGroupedSums(rows: Iterable[FluxCsv.Row], groupCols: Seq[String])
      : Option[Map[Seq[String], Double]] =
    parseGroupedAgg[Double](rows, groupCols, v => parsed(v.toDouble), _ + _)

  /** Parse a WINDOWED (optionally grouped) Flux aggregate response: one
    * row per window per group, result in `_value`, window start in
    * `_start` (the `window(every:)` re-table key), group key in
    * `_measurement`/`_field`. Emitted bucket keys are floorDiv-normalized.
    *
    * None — the caller then buckets and re-reduces the re-enforced parsed
    * samples locally — in three untrusted shapes: the response carries
    * `_time` (raw samples, the server ignored the aggregate); a `_start`
    * is neither bucket-aligned nor the clipped first window at the range
    * start; or a row's `_stop` spans past its bucket's end (a server that
    * honored the aggregate but ignored `window()` answers with one
    * range-wide row — trusting it would attribute the whole shard to the
    * first bucket). */
  private[graft] def parseWindowedAgg[T](rows: Iterable[FluxCsv.Row], groupCols: Seq[String],
                                         bucketMs: Long, rangeStartMs: Long,
                                         parse: String => Option[T],
                                         add: (T, T) => T,
                                         offsetMs: Long = 0L)
      : Option[Map[(Seq[String], Long), T]] = {
    val out = scala.collection.mutable.Map.empty[(Seq[String], Long), T]
    rows.foreach { r =>
      if (Option(r.cell(r.table.time)).exists(_.nonEmpty)) return None // raw samples
      for {
        start <- epochMs(r.cell("_start"))
        v <- Option(r.cell(r.table.value))
        n <- parse(v.trim)
      } {
        // offset buckets (timezone-shifted windows): the grid is
        // epoch-aligned + offset; a start on neither the shifted grid
        // nor the clipped range start is untrusted
        val bucket =
          Math.floorDiv(start - offsetMs, bucketMs) * bucketMs + offsetMs
        if (start != bucket && start != rangeStartMs) return None
        val stopOk = Option(r.cell("_stop")).filter(_.nonEmpty)
          .flatMap(epochMs).forall(_ <= bucket + bucketMs)
        if (!stopOk) return None
        val key = (groupCols.map(c => Option(r.cell(fluxGroupCol(c))).getOrElse("")),
          bucket)
        out(key) = out.get(key).fold(n)(add(_, n))
      }
    }
    Some(out.toMap)
  }

  private[graft] def parseWindowedCounts(rows: Iterable[FluxCsv.Row], bucketMs: Long,
                                         rangeStartMs: Long,
                                         groupCols: Seq[String] = Nil,
                                         offsetMs: Long = 0L)
      : Option[Map[(Seq[String], Long), Long]] =
    parseWindowedAgg[Long](rows, groupCols, bucketMs, rangeStartMs,
      v => parsed(v.toLong), _ + _, offsetMs)

  private[graft] def parseWindowedSums(rows: Iterable[FluxCsv.Row], bucketMs: Long,
                                       rangeStartMs: Long,
                                       groupCols: Seq[String] = Nil,
                                       offsetMs: Long = 0L)
      : Option[Map[(Seq[String], Long), Double]] =
    parseWindowedAgg[Double](rows, groupCols, bucketMs, rangeStartMs,
      v => parsed(v.toDouble), _ + _, offsetMs)

  /** Escape a string literal for interpolation into Flux source: quotes
    * and backslashes are legal in measurement/field names, and unescaped
    * they are program text (injection → HTTP 400 or worse). */
  private[sources] def fluxEscape(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** One pipeline variant over the shared filtered source — the per-spec
    * query tail. `flux()` builds a whole program from one branch;
    * `fusedFlux()` unions several branches over ONE source read. */
  private[graft] final case class FluxBranch(
      limit: Option[Int] = None, sortDesc: Option[Boolean] = None,
      sortCol: String = "_time", count: Boolean = false,
      sumValue: Boolean = false, countValue: Boolean = false,
      groupCols: Seq[String] = Nil, aggPrep: Option[String] = None,
      windowEveryMs: Option[Long] = None, topN: Option[Int] = None,
      increase: Boolean = false, windowOffsetMs: Long = 0L,
      integral: Boolean = false, sumSq: Boolean = false,
      locfArea: Boolean = false)

  /** The FluxBranch of one pushed spec: the same stage text its
    * single-spec program carries, so a fused program computes exactly
    * what the per-spec POSTs would. The sort |> limit branches (min/max,
    * first/last and the numeric boundary pulls) group by `groupCols`; the
    * count, sum and other aggregate branches by `aggGroupCols` — the flat
    * push passes one list for both, the rollup its own aggregate key.
    * Windowed reads (the rollup) pass the window's size and offset. */
  private[graft] def branchOf(spec: AggSpec, groupCols: Seq[String],
                              aggGroupCols: Seq[String],
                              windowEveryMs: Option[Long] = None,
                              windowOffsetMs: Long = 0L): FluxBranch = {
    def pick(desc: Boolean, sortCol: String, prep: String) =
      FluxBranch(limit = Some(1), sortDesc = Some(desc), sortCol = sortCol,
        groupCols = groupCols, aggPrep = Some(prep),
        windowEveryMs = windowEveryMs, windowOffsetMs = windowOffsetMs)
    val agg = FluxBranch(groupCols = aggGroupCols,
      windowEveryMs = windowEveryMs, windowOffsetMs = windowOffsetMs)
    spec match {
      case AggMinTime => pick(desc = false, "_time", "time")
      case AggMaxTime => pick(desc = true, "_time", "time")
      case AggMinValue => pick(desc = false, "_value", "value")
      case AggMaxValue => pick(desc = true, "_value", "value")
      case AggFirstValue => pick(desc = false, "_time", "value_str")
      case AggLastValue => pick(desc = true, "_time", "value_str")
      case AggFirstNumTime | AggFirstNumValue => pick(desc = false, "_time", "value")
      case AggLastNumTime | AggLastNumValue => pick(desc = true, "_time", "value")
      case AggCountStar => agg.copy(count = true)
      case AggCountValue => agg.copy(countValue = true)
      case AggSumValue => agg.copy(sumValue = true)
      case AggSumSq => agg.copy(sumSq = true)
      case AggIncrease => agg.copy(increase = true)
      case AggIntegral => agg.copy(integral = true)
      case AggLocfArea => agg.copy(locfArea = true)
    }
  }

  /** Column name each fused branch stamps on its rows (the closing map
    * stage writes the branch index into it) — how the response parser
    * attributes tables back to their aggregate spec. Underscore-prefixed
    * like the platform's own columns; excluded from the tag map. */
  private[graft] val FusedMarkerCol = "_graft_agg"

  /** The stage lines of one branch (everything after the shared
    * from|>range|>filters|>bin source). Returns (needsTypesImport, lines).
    */
  private def branchStages(b: FluxBranch, tagEq: Seq[(String, Seq[String])],
                           binTok: Option[String],
                           tagRegex: Seq[(String, String)] = Nil)
      : (Boolean, Seq[String]) = {
    import b._
    // Flux sort()/limit()/count() operate PER TABLE (per series key);
    // group() first merges the stream into one table so the limit/count is
    // global — without it a 10k-series bucket returns n rows per series.
    // With pushed GROUPING, group(columns:) re-tables by exactly the group
    // key instead, so the same sort|>limit / count runs once PER GROUP —
    // the per-table semantics become the feature
    val groupStage =
      if (groupCols.nonEmpty)
        s"""  |> group(columns: [${groupCols
          .map(c => "\"" + fluxEscape(fluxGroupCol(c)) + "\"").mkString(", ")}])"""
      else "  |> group()"
    // aggPrep: server-side type hygiene for PUSHED AGGREGATES only (the
    // plain TopN path must return full untouched rows). group() errors
    // when it merges tables whose `_value` types conflict — a bucket
    // holding both float and string fields (InfluxSink writes both) would
    // fail the pushed query where the unpushed one succeeds. "time" keeps
    // only the time + group-key columns, so count/min-time never see
    // `_value` at all; "value" filters to numeric samples and floats them,
    // so the value sort is type-stable and a string row can never win it.
    val effPrep =
      if (count) Some("time")
      else if (sumValue || countValue || topN.isDefined || increase ||
        integral || sumSq || locfArea)
        Some("value")
      else aggPrep
    val prep = effPrep match {
      case Some("time") =>
        // grouped AND equality-filtered tag columns must survive the
        // prune: group(columns:) would otherwise re-table everything
        // under one empty key, and the executor's belt-and-braces
        // re-enforcement needs the filtered tag present on fallback
        // sample rows to re-check the pushed equality
        val tagKeep = (groupCols.collect {
          case t if t.startsWith("tag:") => fluxGroupCol(t)
        } ++ tagEq.map(_._1) ++ tagRegex.map(_._1)).distinct
          .map(k => ", \"" + fluxEscape(k) + "\"").mkString
        val binKeep = if (binTok.isDefined) ", \"bin\"" else ""
        Seq(s"""  |> keep(columns: ["_time", "_measurement", "_field"$tagKeep$binKeep])""")
      case Some("value") => Seq(
        """  |> filter(fn: (r) => types.isType(v: r._value, type: "float")""" +
          """ or types.isType(v: r._value, type: "int")""" +
          """ or types.isType(v: r._value, type: "uint"))""",
        "  |> toFloat()")
      case Some("value_str") =>
        // type-stable group() while PRESERVING string samples: last()/
        // first() must honor a newest sample that is string-typed (its
        // pushed value surfaces as NULL, exactly like the raw scan's
        // value column) — the numeric-only "value" prep would silently
        // skip to the newest NUMERIC sample instead. Go/Flux float→string
        // is shortest-round-trip, so a numeric value survives the detour
        // bit-exactly through the reader's parse
        Seq("""  |> map(fn: (r) => ({r with _value: string(v: r._value)}))""")
      case Some("nonnum") =>
        // the COMPLEMENT of "value": only non-numeric samples (strings,
        // bools), stringified for type-stable group() — these surface as
        // NULL-valued rows on the Spark side, the pad rows a value-ranked
        // TopN needs when the numeric population runs short of k (and the
        // whole answer under NULLS FIRST orderings)
        Seq("""  |> filter(fn: (r) => not (types.isType(v: r._value, type: "float")""" +
          """ or types.isType(v: r._value, type: "int")""" +
          """ or types.isType(v: r._value, type: "uint")))""",
          """  |> map(fn: (r) => ({r with _value: string(v: r._value)}))""")
      case _ => Nil
    }
    // window(every:) AFTER group(): the merged stream re-tables per time
    // window, so the following per-table sort|>limit / count runs once per
    // window — the aggregateWindow decomposition with an explicit reducer.
    // A non-zero offset shifts the boundaries off the epoch grid (the
    // timezone-aligned daily rollup).
    val windowStage = windowEveryMs.map(w =>
      if (windowOffsetMs != 0L)
        s"  |> window(every: ${w}ms, offset: ${windowOffsetMs}ms)"
      else s"  |> window(every: ${w}ms)").toSeq
    val lines =
      prep ++
      (if (limit.isDefined || count || sumValue || countValue ||
        topN.isDefined || increase || integral || sumSq || locfArea)
         Seq(groupStage)
       else Nil) ++
      windowStage ++
      // value-ranked TopN as the dedicated Flux selector: top() is
      // sort(desc)+limit fused server-side (bottom() the ascending twin) —
      // the per-shard partial TakeOrderedAndProject re-merges exactly
      topN.map(n =>
        if (sortDesc.contains(false))
          s"""  |> bottom(n: $n, columns: ["_value"])"""
        else s"""  |> top(n: $n, columns: ["_value"])""").toSeq ++
      (if (topN.isDefined) Nil
       else sortDesc.map(d =>
         s"""  |> sort(columns: ["$sortCol"], desc: $d)""").toSeq) ++
      limit.map(n => s"  |> limit(n: $n)").toSeq ++
      // count over `_time` (present on every raw row regardless of field
      // type), renamed back to `_value` — Flux stores an aggregate's
      // result IN the aggregated column, and every parser on our side
      // (and the real-CSV contract) reads counts from `_value`
      (if (count) Seq("""  |> count(column: "_time")""",
        """  |> rename(columns: {_time: "_value"})""") else Nil) ++
      // sum/count over the numeric-filtered, floated `_value` (prep
      // "value" above): the aggregate's result lands IN `_value`, which
      // is where the parsers read it — no rename needed
      (if (sumValue) Seq("""  |> sum(column: "_value")""") else Nil) ++
      // sum of squares: square the numeric-filtered, floated `_value`
      // row-wise, then the same windowed sum — the response parses under
      // the identical windowed-sums trust contract
      (if (sumSq) Seq(
        """  |> map(fn: (r) => ({r with _value: r._value * r._value}))""",
        """  |> sum(column: "_value")""") else Nil) ++
      (if (countValue) Seq("""  |> count(column: "_value")""") else Nil) ++
      // per-window reset-aware counter increase: increase() accumulates
      // non-negative deltas (a reset contributes the new value), last()
      // reads the window total, drop(_time) keeps the response in the
      // windowed-aggregate shape the trusted parser accepts
      (if (increase) Seq("""  |> increase(columns: ["_value"])""",
        """  |> last(column: "_value")""",
        """  |> drop(columns: ["_time"])""") else Nil) ++
      // per-window trapezoid area in value·ms: integral() is already an
      // aggregate (one row per window table, result in `_value`, no
      // `_time`) — the windowed-sums trusted parser reads it directly
      (if (integral) Seq("""  |> integral(unit: 1ms)""") else Nil) ++
      // per-window LOCF (rectangle) area in value·ms: each row's duration
      // to its successor via the contrib events package, the LAST row
      // zeroed by stopColumn "_time" (its "stop" is its own time) so only
      // within-window pairs count; v·d summed lands in `_value` — the
      // windowed-sums trusted parser reads it like any other sum
      (if (locfArea) Seq("""  |> sort(columns: ["_time"])""",
        """  |> events.duration(unit: 1ms, columnName: "_d", stopColumn: "_time")""",
        """  |> map(fn: (r) => ({r with _value: r._value * float(v: r._d)}))""",
        """  |> sum(column: "_value")""") else Nil)
    (effPrep.contains("value") || effPrep.contains("nonnum"), lines)
  }

  /** A synthesized regex as a Flux `/.../` literal: only `/` needs the
    * extra escape (it would close the literal); RE2 reads `\/` as a
    * literal slash. The regexes themselves are built exclusively from
    * escaped literals + `.*` / `.` / anchors (see InfluxTagSets), so no
    * other char can break out. */
  private def fluxRegexLit(re: String): String =
    "/" + re.replace("/", "\\/") + "/"

  /** The shared source stages: from |> range |> filters [|> bin map]. */
  private def sourceStages(bucket: String, startMs: Long,
                           stopMs: Option[Long], measurement: Option[String],
                           field: Option[String], tagEq: Seq[(String, Seq[String])],
                           binTok: Option[String],
                           tagRegex: Seq[(String, String)] = Nil): Seq[String] = {
    val range = stopMs match {
      case Some(e) => s"range(start: ${Instant.ofEpochMilli(startMs)}, " +
        s"stop: ${Instant.ofEpochMilli(e)})"
      case None => s"range(start: ${Instant.ofEpochMilli(startMs)})"
    }
    val filters =
      measurement.map(m =>
        s"""  |> filter(fn: (r) => r["_measurement"] == "${fluxEscape(m)}")""").toSeq ++
      field.map(f =>
        s"""  |> filter(fn: (r) => r["_field"] == "${fluxEscape(f)}")""").toSeq ++
      // one value → plain equality; a set (tags['k'] IN (...) / OR of
      // equalities) → Flux's contains() over the literal set
      tagEq.map {
        case (k, Seq(v)) =>
          s"""  |> filter(fn: (r) => r["${fluxEscape(k)}"] == "${fluxEscape(v)}")"""
        case (k, vs) =>
          val set = vs.map(v => "\"" + fluxEscape(v) + "\"").mkString(", ")
          s"""  |> filter(fn: (r) => contains(value: r["${fluxEscape(k)}"], set: [$set]))"""
      } ++
      // pushed LIKE-family predicates, one `=~` stage per conjunct (an
      // absent tag reads as an empty/missing column and never matches —
      // the anchored synthesized regexes all require at least the
      // literal, matching Spark's NULL-propagating LIKE)
      tagRegex.map { case (k, re) =>
        s"""  |> filter(fn: (r) => r["${fluxEscape(k)}"] =~ ${fluxRegexLit(re)})"""
      }
    // value-histogram bin column, computed server-side BEFORE any type
    // prep (the sample-pull preps rewrite `_value`; the bin must see the
    // raw numeric). Non-numeric samples bin to the "NULL" sentinel — the
    // same NULL group Spark's floor(NULL-value ∘ lit) produces — so the
    // per-bin group()/window() tables partition exactly like the final
    // Aggregate's keys. String cells survive every prep's group() and
    // parse back through the executor's canonicalization.
    val binStage = binTok.map { t =>
      val (op, x) = binSpec(t)
      val isNum = """types.isType(v: r._value, type: "float")""" +
        """ or types.isType(v: r._value, type: "int")""" +
        """ or types.isType(v: r._value, type: "uint")"""
      s"""  |> map(fn: (r) => ({r with bin: if $isNum then """ +
        s"""string(v: math.floor(x: float(v: r._value) $op ${fluxFloat(x)}))""" +
        s""" else "NULL"}))"""
    }.toSeq
    (s"""from(bucket: "${fluxEscape(bucket)}")""" +: s"  |> $range" +: filters) ++
      binStage
  }

  private def importsFor(needsTypes: Boolean, binTok: Option[String],
                         needsEvents: Boolean = false): Seq[String] =
    (if (needsTypes || binTok.isDefined) Seq("import \"types\"") else Nil) ++
      (if (binTok.isDefined) Seq("import \"math\"") else Nil) ++
      (if (needsEvents)
        Seq("import \"contrib/tomhollingworth/events\"") else Nil)

  /** Whether any branch's stage text uses the contrib events package
    * (`events.duration`, the locf_area push) — derived from the rendered
    * stages so the import can never drift from the stage builder. */
  private def needsEventsImport(stageLines: Seq[String]): Boolean =
    stageLines.exists(_.contains("events.duration"))

  private[graft] def flux(bucket: String, startMs: Long, stopMs: Option[Long],
                          measurement: Option[String],
                          field: Option[String],
                          limit: Option[Int] = None,
                          sortDesc: Option[Boolean] = None,
                          sortCol: String = "_time",
                          count: Boolean = false,
                          sumValue: Boolean = false,
                          countValue: Boolean = false,
                          groupCols: Seq[String] = Nil,
                          aggPrep: Option[String] = None,
                          windowEveryMs: Option[Long] = None,
                          tagEq: Seq[(String, Seq[String])] = Nil,
                          topN: Option[Int] = None,
                          increase: Boolean = false,
                          tagRegex: Seq[(String, String)] = Nil,
                          windowOffsetMs: Long = 0L,
                          integral: Boolean = false,
                          sumSq: Boolean = false,
                          locfArea: Boolean = false): String =
    branchFlux(bucket, startMs, stopMs, measurement, field,
      FluxBranch(limit, sortDesc, sortCol, count, sumValue, countValue,
        groupCols, aggPrep, windowEveryMs, topN, increase, windowOffsetMs,
        integral, sumSq, locfArea), tagEq, tagRegex)

  /** The whole program of ONE branch: the single-spec program. */
  private[graft] def branchFlux(bucket: String, startMs: Long,
                                stopMs: Option[Long],
                                measurement: Option[String],
                                field: Option[String], b: FluxBranch,
                                tagEq: Seq[(String, Seq[String])],
                                tagRegex: Seq[(String, String)]): String = {
    val binTok = b.groupCols.find(_.startsWith("bin:"))
    val (needsTypes, lines) = branchStages(b, tagEq, binTok, tagRegex)
    (importsFor(needsTypes, binTok, needsEventsImport(lines)) ++
      sourceStages(bucket, startMs, stopMs, measurement, field, tagEq, binTok,
        tagRegex) ++
      lines).mkString("\n")
  }

  /** ONE program computing every branch over a single source read: the
    * shared filtered stream binds to `data`, each branch pipes its own
    * prep/group/window/aggregate off it and stamps its rows with its index
    * in [[FusedMarkerCol]], and `union` returns them all — a count+sum+
    * min+max rollup costs one POST per shard instead of four. Branch
    * stage text is IDENTICAL to the single-spec programs (same builder),
    * so the fused push computes exactly what the per-spec pushes would. */
  private[graft] def fusedFlux(bucket: String, startMs: Long,
                               stopMs: Option[Long],
                               measurement: Option[String],
                               field: Option[String],
                               tagEq: Seq[(String, Seq[String])],
                               branches: Seq[FluxBranch],
                               tagRegex: Seq[(String, String)] = Nil): String = {
    require(branches.size >= 2, "fusedFlux needs at least two branches")
    val binTok = branches.flatMap(_.groupCols.find(_.startsWith("bin:")))
      .headOption
    val staged = branches.map(b => branchStages(b, tagEq, binTok, tagRegex))
    val src = sourceStages(bucket, startMs, stopMs, measurement, field,
      tagEq, binTok, tagRegex)
    val body = ("data = " + src.head) +: src.tail
    val branchDefs = staged.zipWithIndex.flatMap { case ((_, lines), i) =>
      (s"b$i = data" +: lines) :+
        s"""  |> map(fn: (r) => ({r with $FusedMarkerCol: "$i"}))"""
    }
    val union = s"union(tables: [${branches.indices.map("b" + _).mkString(", ")}])"
    (importsFor(staged.exists(_._1), binTok,
      needsEventsImport(staged.flatMap(_._2))) ++
      body ++ branchDefs :+ union)
      .mkString("\n")
  }

  /** How a fused program's response resolved ([[classifyFused]]). */
  private[graft] sealed trait Fused
  /** Every data row carried a valid branch marker: each branch's rows,
    * for the single-spec parsers and their trust checks. An empty
    * response is Marked with no branches — every branch empty. */
  private[graft] final case class Marked(branches: Map[Int, Seq[FluxCsv.Row]])
    extends Fused
  /** Unmarked rows that parse as samples: the server ignored the fused
    * program, and every spec folds this one set (the samples `keep`
    * passes). */
  private[graft] final case class RawDump(samples: Seq[Sample]) extends Fused
  /** Unmarked rows that are not samples (a legacy aggregate shape, say):
    * unattributable — re-POST each spec singly. */
  private[graft] case object AskEach extends Fused

  /** The one decision over a fused-program response, made by the
    * pushed-aggregate engine ([[InfluxRollup.partials]]): rows are routed by the
    * [[FusedMarkerCol]] each branch stamps. A data row without a valid
    * marker means the response did not come from the fused program
    * intact, and attributing it would be guesswork. */
  private[graft] def classifyFused(csv: String, nBranches: Int,
                                   keep: Sample => Boolean): Fused = {
    val rows = FluxCsv(csv)
    val branches = scala.collection.mutable.Map.empty[Int, Vector[FluxCsv.Row]]
    val marked = rows.iterator.forall { r =>
      val i = Option(r.cell(FusedMarkerCol)).flatMap(m => parsed(m.trim.toInt))
        .filter(i => i >= 0 && i < nBranches)
      i.foreach(i => branches(i) = branches.getOrElse(i, Vector.empty) :+ r.copy())
      i.isDefined
    }
    if (marked) Marked(branches.toMap)
    else {
      val samples = parseSamples(rows).toVector
      if (samples.nonEmpty) RawDump(samples.filter(keep)) else AskEach
    }
  }
}

final class InfluxScanBuilder(cfg: InfluxSink.Config, readPartitions: Int,
                              tableSchema: StructType = InfluxScan.schema,
                              streamLagMs: Long,
                              tagEq: Seq[(String, Seq[String])] = Nil,
                              groupTopN: Option[(Int, Boolean, Seq[String])] = None,
                              tagRegex: Seq[(String, String)] = Nil)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownTopN
    with SupportsPushDownAggregates {

  // start from the TABLE's schema (already validated against
  // InfluxScan.schema at analysis time), not the full sample schema — a
  // user-narrowed external schema must narrow the scan too
  private var required: StructType = tableSchema
  private var pushed = Array.empty[Filter]
  private var startMs = InfluxScan.MinTimeMs
  private var stopMs: Option[Long] = None
  private var measurement: Option[String] = None
  private var field: Option[String] = None
  private var limit: Option[Int] = None
  private var sortDesc: Option[Boolean] = None
  private var sortCol: String = "_time"
  private var aggSpecs: Seq[InfluxScan.AggSpec] = Nil
  private var aggGroupCols: Seq[String] = Nil
  // residual-kept measurement/field regex narrowings ((flux column, regex))
  private var colRegex: Seq[(String, String)] = Nil

  /** min/max over time_ms/value, count(*), sum(value) and count(value)
    * push as server-side Flux aggregates (PARTIAL push: each range
    * partition emits one partial row per group; Spark merges with
    * min/min, max/max, count→sum, sum→sum). GROUP BY measurement and/or
    * field pushes too — Flux `group(columns:)` runs the same sort|>limit /
    * count once per group server-side, so a grouped series inventory never
    * pulls raw samples. Anything else stays in Spark. Each partition runs
    * the rollup's engine without a window ([[InfluxRollup.flat]]): one
    * fused POST per shard for several specs, the same trust checks and
    * fallbacks. This is the entry point for every session, graft's
    * extensions installed or not.
    *
    * Boundary (probed empirically on Spark 4.1): TIME-BUCKET grouping
    * (`group by time_ms div 3600000` — the Flux `aggregateWindow` shape)
    * can NOT be offered here. V2ScanRelationPushDown only attempts
    * aggregate pushdown when every grouping expression is an attribute
    * reference; a div/floor bucket key means pushAggregation is never
    * called at all. That shape is handled OUTSIDE DSv2 by the injected
    * [[graft.plans.InfluxBucketRollupRule]] (preCBO), which swaps the
    * whole Aggregate-over-scan subtree for a windowed-Flux rollup leaf —
    * see InfluxRollupPlan.scala. */
  override def pushAggregation(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min, Sum}
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames().length == 1 =>
          Some(nr.fieldNames()(0))
        case _ => None
      }
    if (limit.isDefined) return false
    val gcols = agg.groupByExpressions().toSeq.map { e =>
      colOf(e) match {
        case Some(c @ ("measurement" | "field")) => c
        case _ => return false
      }
    }
    val specs = agg.aggregateExpressions().toSeq.map {
      case m: Min => colOf(m.column) match {
        case Some("time_ms") => InfluxScan.AggMinTime
        case Some("value") => InfluxScan.AggMinValue
        case _ => return false
      }
      case m: Max => colOf(m.column) match {
        case Some("time_ms") => InfluxScan.AggMaxTime
        case Some("value") => InfluxScan.AggMaxValue
        case _ => return false
      }
      case _: CountStar => InfluxScan.AggCountStar
      // sum/count over the value column (Spark offers avg decomposed to
      // these two when only partial push is supported): sum partials
      // merge by sum, count partials by sum — Flux `sum(column:
      // "_value")` / `count(column: "_value")` over the numeric-filtered
      // stream. DISTINCT variants cannot partial-merge; refuse them.
      case s: Sum if !s.isDistinct && colOf(s.column).contains("value") =>
        InfluxScan.AggSumValue
      case c: Count if !c.isDistinct && colOf(c.column).contains("value") =>
        InfluxScan.AggCountValue
      case _ => return false
    }
    // a bare grouped-distinct (group cols, zero agg functions) must NOT
    // claim the push: aggSpecs.isEmpty would leave the scan on the raw
    // sample schema while Spark believed the aggregate was handled
    if (specs.isEmpty) return false
    aggSpecs = specs
    aggGroupCols = gcols
    true
  }

  /** LIMIT pushes as a per-partition Flux `limit(n:)` — each task
    * over-fetches at most `limit` rows and Spark re-applies the global
    * limit (isPartiallyPushed), so the server stops streaming after n
    * rows instead of draining the range. */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }

  /** ORDER BY time_ms LIMIT n pushes as Flux `sort(columns: ["_time"])
    * |> limit(n:)` — exactly the reference's watermark pipeline
    * (sqllite2influxdb.py:57-63), now derived by Catalyst from a
    * declarative query: the server returns n rows per partition instead
    * of the bucket. ORDER BY value LIMIT n pushes as the dedicated Flux
    * selector `top(n:, columns: ["_value"])` (`bottom()` ascending) over
    * the numeric-filtered stream, PLUS a second limit-n pull of the
    * non-numeric samples — the NULL-value pad rows — so each shard
    * returns a guaranteed superset of its true top-n under EITHER null
    * ordering (numeric extremes from top()/bottom(), nulls from the pad
    * pull); that is why the null ordering needs no inspection here.
    * Only a single-key sort is accepted; Spark keeps the final
    * sort+limit (partial push). */
  override def pushTopN(orders: Array[SortOrder], l: Int): Boolean = {
    if (orders.length != 1) return false
    val key = orders.head.expression() match {
      case f: NamedReference if f.fieldNames().length == 1 =>
        f.fieldNames()(0)
      case _ => return false
    }
    key match {
      case "time_ms" =>
        sortDesc = Some(orders.head.direction() == SortDirection.DESCENDING)
        limit = Some(l)
        true
      case "value" =>
        sortDesc = Some(orders.head.direction() == SortDirection.DESCENDING)
        sortCol = "_value"
        limit = Some(l)
        true
      case _ => false
    }
  }
  override def isPartiallyPushed(): Boolean = true

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // accepted filters are FULLY pushed (not echoed as residuals): the
    // time translations are integer-exact, equality is exact, and the
    // partition reader re-enforces every accepted predicate on the parsed
    // samples anyway (belt and braces against server boundary quirks).
    // Full push is what lets Spark push TopN/Limit through the filter —
    // with residuals it never would. Anything not translatable exactly
    // (saturating bounds, a second conflicting equality) stays residual.
    val (accepted, residual) = filters.partition {
      case GreaterThanOrEqual("time_ms", v: Long) =>
        startMs = math.max(startMs, v); true
      case GreaterThan("time_ms", v: Long) if v != Long.MaxValue =>
        startMs = math.max(startMs, v + 1); true
      case LessThan("time_ms", v: Long) =>
        stopMs = Some(stopMs.fold(v)(math.min(_, v))); true
      case LessThanOrEqual("time_ms", v: Long) if v != Long.MaxValue =>
        stopMs = Some(stopMs.fold(v + 1)(math.min(_, v + 1))); true
      case EqualTo("measurement", m: String) if measurement.forall(_ == m) =>
        measurement = Some(m); true
      case EqualTo("field", f: String) if field.forall(_ == f) =>
        field = Some(f); true
      // the reader never emits NULL for these three (a sample without
      // _time is dropped at parse; measurement/field decode to "" at
      // worst) — and Catalyst derives isnotnull from every >=/= predicate,
      // so refusing it would leave a residual Filter that blocks the
      // TopN/Limit pushdown below
      case IsNotNull("time_ms" | "measurement" | "field") => true
      case _ => false
    }
    // prefix/suffix/contains on measurement/field (`measurement LIKE
    // 'ha%'` after LikeSimplification) narrow the scan with a Flux `=~`
    // stage but stay RESIDUAL: Spark re-applies them, so the server
    // narrowing only ever cuts bytes — the same posture as the tag
    // narrowing. (Keeping the residual also means pushed aggregates/TopN
    // never co-occur with these, so no trusted aggregate response is ever
    // taken over an unverifiable regex population.) The regex is
    // synthesized from the escaped literal — the RE2 ∩ Java-identical
    // subset — exactly like the tag-regex rule's.
    // assignment, not append: a re-offered filter set must not stack
    // duplicate stages
    // control-char literals decline (InfluxTagSets.printableSafe): they
    // cannot be interpolated into a Flux /…/ literal; the residual LIKE
    // still runs client-side, so declining only skips the byte-cut
    colRegex = residual.toSeq.collect {
      case org.apache.spark.sql.sources.StringStartsWith(a, p)
        if (a == "measurement" || a == "field") &&
          graft.plans.InfluxTagSets.printableSafe(p) =>
        fluxColOf(a) -> graft.plans.InfluxTagSets.prefixRe(p)
      case org.apache.spark.sql.sources.StringEndsWith(a, p)
        if (a == "measurement" || a == "field") &&
          graft.plans.InfluxTagSets.printableSafe(p) =>
        fluxColOf(a) -> graft.plans.InfluxTagSets.suffixRe(p)
      case org.apache.spark.sql.sources.StringContains(a, p)
        if (a == "measurement" || a == "field") &&
          graft.plans.InfluxTagSets.printableSafe(p) =>
        fluxColOf(a) -> graft.plans.InfluxTagSets.containsRe(p)
    }
    pushed = accepted
    residual
  }

  private def fluxColOf(a: String): String =
    if (a == "measurement") "_measurement" else "_field"
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new InfluxScanImpl(
    cfg, readPartitions, required, startMs, stopMs, measurement, field,
    limit, sortDesc, aggSpecs, aggGroupCols, streamLagMs, tagEq, sortCol,
    groupTopN, tagRegex ++ colRegex)
}

final class InfluxScanImpl(val cfg: InfluxSink.Config, val readPartitions: Int,
                           required: StructType, val startMs: Long,
                           val stopMs: Option[Long],
                           val measurement: Option[String],
                           val field: Option[String], val limit: Option[Int],
                           val sortDesc: Option[Boolean],
                           val aggSpecs: Seq[InfluxScan.AggSpec] = Nil,
                           aggGroupCols: Seq[String] = Nil,
                           streamLagMs: Long,
                           val tagEq: Seq[(String, Seq[String])] = Nil,
                           val sortCol: String = "_time",
                           val groupTopN: Option[(Int, Boolean, Seq[String])] = None,
                           val tagRegex: Seq[(String, String)] = Nil)
    extends Scan with Batch {

  /** readStream path: the poll loop as a MicroBatchStream. Pushed time
    * bounds become the initial offset / upper clamp; pushed
    * measurement/field filters AND the tag/grouped-TopN relation-option
    * narrowings apply per micro-batch exactly as in batch (re-enforced /
    * superset-recomputed by the consumer under the same trust posture —
    * a maintained bounded top-k is a mergeable monoid, so feeding it each
    * trigger's per-group `top(n:)` superset folds to the exact
    * leaderboard, see [[graft.streaming.StreamingEvents.influxTopkStream]]).
    * Aggregate/limit pushdown never reaches a streaming scan. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new InfluxMicroBatchStream(cfg, readPartitions, required, startMs,
      stopMs, measurement, field, streamLagMs, tagEq, groupTopN, tagRegex)
  override def readSchema(): StructType =
    if (aggSpecs.nonEmpty) InfluxScan.aggSchema(aggSpecs, aggGroupCols)
    else required
  override def toBatch: Batch = this
  override def description(): String = {
    val stop = stopMs.map(e => s", stop=$e").getOrElse("")
    val agg = if (aggSpecs.isEmpty) ""
      else aggSpecs.mkString(" PushedAggregates=[", ", ", "]")
    val grp = if (aggGroupCols.isEmpty) ""
      else aggGroupCols.mkString(" PushedGroupBy=[", ", ", "]")
    val topn =
      if (sortCol == "_value" && limit.isDefined)
        s" PushedTopN=[value ${if (sortDesc.contains(false)) "ASC" else "DESC"}" +
          s" limit=${limit.get}]"
      else ""
    val gtopn = groupTopN.map { case (n, desc, cols) =>
      s" PushedGroupTopN=[${cols.mkString(",")} value " +
        s"${if (desc) "DESC" else "ASC"} k=$n]"
    }.getOrElse("")
    val teq = if (tagEq.isEmpty) ""
      else tagEq.map { case (k, vs) => s"$k∈{${vs.mkString(",")}}" }
        .mkString(" PushedTagFilters=[", ", ", "]")
    val tre = if (tagRegex.isEmpty) ""
      else tagRegex.map { case (k, re) => s"$k=~/$re/" }
        .mkString(" PushedTagRegexes=[", ", ", "]")
    s"influx range(start=$startMs$stop) measurement=$measurement field=$field$agg$grp$topn$gtopn$teq$tre"
  }

  override def planInputPartitions(): Array[InputPartition] =
    // a flat GLOBAL aggregate over a contradictory range keeps ONE
    // partition, which emits the empty-range partial (count=0,
    // min/max=NULL) without a POST — a zero-partition aggregated scan
    // would make the final merge's sum-of-counts NULL instead of 0.
    // Grouped, zero groups IS the correct empty-range answer
    if (aggSpecs.nonEmpty && aggGroupCols.isEmpty && stopMs.exists(_ <= startMs))
      Array(InfluxInputPartition(startMs, Some(startMs)))
    else InfluxScan.shards(startMs, stopMs, readPartitions).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    InfluxReaderFactory(cfg, required, measurement, field, limit, sortDesc,
      aggSpecs, aggGroupCols, tagEq, sortCol, groupTopN, tagRegex)

}

final case class InfluxInputPartition(startMs: Long, stopMs: Option[Long])
  extends InputPartition

final case class InfluxReaderFactory(cfg: InfluxSink.Config,
                                     required: StructType,
                                     measurement: Option[String],
                                     field: Option[String],
                                     limit: Option[Int],
                                     sortDesc: Option[Boolean],
                                     aggSpecs: Seq[InfluxScan.AggSpec] = Nil,
                                     aggGroupCols: Seq[String] = Nil,
                                     tagEq: Seq[(String, Seq[String])] = Nil,
                                     sortCol: String = "_time",
                                     groupTopN: Option[(Int, Boolean, Seq[String])] = None,
                                     tagRegex: Seq[(String, String)] = Nil)
  extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[InfluxInputPartition]
    def samples(programs: (String, InfluxScan.Sample => Boolean)*) =
      new InfluxPartitionReader(() => InfluxScan.sampleRows(cfg, required,
        programs, part.startMs, part.stopMs, measurement, field))
    if (aggSpecs.nonEmpty)
      new InfluxPartitionReader(() => InfluxRollup.flat(cfg, aggSpecs,
        part.startMs, part.stopMs, measurement, field, aggGroupCols))
    else if (groupTopN.isDefined && sortCol != "_value") {
      // grouped TopN narrowing (the injected InfluxGroupTopNRule): per
      // shard, per GROUP, the k numeric extremes via `group(columns:) |>
      // top/bottom(n: k)` plus a per-group limit-k pull of the
      // non-numeric NULL-value pad rows — a guaranteed superset of any
      // valid row_number ≤ k selection under either null ordering. The
      // Window+Filter stay in the plan and recompute the ranks exactly,
      // so a lying server changes bytes moved, never results.
      val (n, desc, gcols) = groupTopN.get
      samples(
        (InfluxScan.flux(cfg.bucket, part.startMs, part.stopMs, measurement,
          field, sortDesc = Some(desc), sortCol = "_value", tagEq = tagEq,
          topN = Some(n), groupCols = gcols, tagRegex = tagRegex),
          _.value.nonEmpty),
        (InfluxScan.flux(cfg.bucket, part.startMs, part.stopMs, measurement,
          field, limit = Some(n), aggPrep = Some("nonnum"), tagEq = tagEq,
          groupCols = gcols, tagRegex = tagRegex),
          _.value.isEmpty))
    }
    else if (sortCol == "_value" && limit.isDefined)
      // value-ranked TopN: two POSTs whose union is a per-shard superset
      // of the true top-k under either null ordering — the numeric
      // extremes via Flux top()/bottom(), the NULL-value pad rows via a
      // limit-k pull of the non-numeric samples. Each program re-checks
      // its own population (numeric vs not), so the union is disjoint by
      // construction; Spark's final TakeOrderedAndProject re-merges
      // (isPartiallyPushed)
      samples(
        (InfluxScan.flux(cfg.bucket, part.startMs, part.stopMs, measurement,
          field, sortDesc = sortDesc, sortCol = sortCol, tagEq = tagEq,
          topN = limit, tagRegex = tagRegex),
          _.value.nonEmpty),
        (InfluxScan.flux(cfg.bucket, part.startMs, part.stopMs, measurement,
          field, limit = limit, aggPrep = Some("nonnum"), tagEq = tagEq,
          tagRegex = tagRegex),
          _.value.isEmpty))
    else samples(
      (InfluxScan.flux(cfg.bucket, part.startMs, part.stopMs, measurement,
        field, limit, sortDesc, tagEq = tagEq, tagRegex = tagRegex),
        _ => true))
  }
}

/** The one PartitionReader of the Influx source — raw samples, flat
  * aggregate partials and rollup partials alike: it drains a row
  * iterator built on the first `next()`, so a task POSTs only once it
  * runs. */
final class InfluxPartitionReader(rows: () => Iterator[InternalRow])
  extends PartitionReader[InternalRow] {
  private lazy val it = rows()
  private var row: InternalRow = _

  override def next(): Boolean =
    if (!it.hasNext) false
    else { row = it.next(); true }

  override def get(): InternalRow = row
  override def close(): Unit = ()
}

/** `clockOverride` pins the streaming source's notion of "now" (the
  * driver-side latestOffset poll) so specs can advance time
  * deterministically; unset = the wall clock. (The transport's test seam
  * is [[graft.etl.InfluxHttp.testExchange]].) */
object InfluxReadTransports {
  @volatile var clockOverride: Option[() => Long] = None
}

/** Streaming offset = an epoch-ms high-water mark: everything before it
  * has been emitted. Ranges between consecutive offsets are half-open
  * [start, end), matching the batch partition split, so no sample is ever
  * read twice or skipped at a boundary. */
final case class InfluxOffset(ms: Long)
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = ms.toString
}

/** The epoch-ms offset protocol of both Influx micro-batch streams (raw
  * samples and rollup partials): each trigger advances the offset to
  * "now" less `lagMs`, clamped to [startMs, stopMs] — never before the
  * initial offset, never past a pushed/declared upper bound — and passed
  * through [[snap]]; its half-open range since the last offset shards by
  * [[InfluxScan.shards]]. The offset log IS the state: commit and stop
  * hold nothing. */
abstract class InfluxOffsetStream(readPartitions: Int, startMs: Long,
                                  stopMs: Option[Long], lagMs: Long)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  /** Where a trigger ending at the clamped `ms` may end instead. */
  protected def snap(ms: Long): Long = ms

  override def initialOffset(): Offset = InfluxOffset(startMs)

  override def latestOffset(): Offset = {
    val now = InfluxReadTransports.clockOverride.map(_())
      .getOrElse(System.currentTimeMillis()) - lagMs
    InfluxOffset(snap(math.max(startMs, stopMs.fold(now)(math.min(now, _)))))
  }

  override def deserializeOffset(json: String): Offset =
    InfluxOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    InfluxScan.shards(start.asInstanceOf[InfluxOffset].ms,
      Some(end.asInstanceOf[InfluxOffset].ms), readPartitions).toArray

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** S2 as a STREAMING source (`spark.readStream.format("influx")`): the
  * reference's `while True: poll(newer-than-watermark)` loop
  * (sqllite2influxdb.py:183-189) expressed as a DSv2 MicroBatchStream.
  * Each trigger reads the half-open range since the last offset, split
  * into the same disjoint per-task Flux POSTs as the batch scan, so a
  * wide catch-up batch after downtime parallelizes instead of
  * single-threading. Offsets checkpoint as epoch-ms; restart resumes from
  * the committed high-water mark — exactly-once delivery into an
  * idempotent sink without any source-side state beyond the offset.
  * Samples back-written into already-polled time are missed BY DESIGN —
  * the same semantics as the reference's watermark resume (T2); set
  * `streamLagMs` to poll that far behind the wall clock if the bucket
  * receives late writes. */
final class InfluxMicroBatchStream(cfg: InfluxSink.Config,
                                   readPartitions: Int,
                                   required: StructType,
                                   startMs: Long, stopMs: Option[Long],
                                   measurement: Option[String],
                                   field: Option[String],
                                   lagMs: Long,
                                   tagEq: Seq[(String, Seq[String])] = Nil,
                                   groupTopN: Option[(Int, Boolean, Seq[String])] = None,
                                   tagRegex: Seq[(String, String)] = Nil)
  extends InfluxOffsetStream(readPartitions, startMs, stopMs, lagMs) {

  override def createReaderFactory(): PartitionReaderFactory =
    InfluxReaderFactory(cfg, required, measurement, field, None, None,
      tagEq = tagEq, groupTopN = groupTopN, tagRegex = tagRegex)
}
