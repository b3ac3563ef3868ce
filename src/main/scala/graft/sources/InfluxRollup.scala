package graft.sources

import graft.etl.InfluxSink
import graft.sources.InfluxWatermarkSource.postFlux
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** The one pushed-aggregate engine, shared by every surface that asks
  * Influx for partial aggregates: the batch
  * [[graft.plans.InfluxBucketRollupExec]] leaf (one call per range
  * shard), the streaming rollup read mode (one call per micro-batch
  * offset-range shard, see InfluxRollupRead) and, through [[flat]], the
  * flat DSv2 aggregate push ([[InfluxScanBuilder.pushAggregation]]).
  * Multi-spec reads post ONE fused program per shard (union of
  * marker-stamped branches, see [[InfluxScan.fusedFlux]]); single-spec
  * reads post the plain program. Either way the per-spec semantics are:
  * count/sum as trusted Flux aggregates (validated, tag-checked,
  * clamped), min/max/last/first as sort|>limit(1) sample pulls
  * re-enforced row by row — correctness never hinges on server behavior,
  * and a branch that fails its trust check falls back to its own
  * single-spec POST. With a window every sample lands in its window's
  * bucket; without one, in one bucket at the shard's start.
  */
private[graft] object InfluxRollup {

  /** Specs whose population is EVERY sample, string-typed ones included.
    * A spec set without one would lose string-only groups (the unpushed
    * aggregate emits them with NULL values and 0 counts), so the rollup
    * rule and [[flat]] add a hidden count-star branch for its key set. */
  def occupancyBearing(spec: InfluxScan.AggSpec): Boolean = spec match {
    case InfluxScan.AggCountStar | InfluxScan.AggMinTime |
         InfluxScan.AggMaxTime | InfluxScan.AggLastValue |
         InfluxScan.AggFirstValue => true
    case _ => false
  }

  /** The flat pushed aggregate of one shard: [[partials]] without a
    * window, less the bucket column and the hidden occupancy slot. Per
    * group, one slot per spec (group cells first, the aggSchema
    * contract). An ungrouped read always emits its one row — count 0,
    * every other slot NULL when no sample answered — and a degenerate
    * range (stop ≤ start) emits it without a POST. */
  def flat(cfg: InfluxSink.Config, specs: Seq[InfluxScan.AggSpec],
           startMs: Long, stopMs: Option[Long],
           measurement: Option[String], field: Option[String],
           groupCols: Seq[String]): Iterator[InternalRow] = {
    val fetch =
      if (groupCols.isEmpty || specs.exists(occupancyBearing)) specs
      else specs :+ InfluxScan.AggCountStar
    val types = InfluxScan.aggSchema(specs, groupCols).fields.map(_.dataType)
    val rows =
      if (stopMs.exists(_ <= startMs)) Iterator.empty
      else partials(cfg, fetch, None, startMs, stopMs, measurement, field,
        groupCols).map { r =>
        // skip the bucket column after the group cells
        new GenericInternalRow(Array.tabulate[Any](types.length) { i =>
          r.get(if (i < groupCols.length) i else i + 1, types(i))
        })
      }
    if (groupCols.nonEmpty || rows.hasNext) rows
    else Iterator.single(new GenericInternalRow(specs.map {
      case InfluxScan.AggCountStar | InfluxScan.AggCountValue => Long.box(0L)
      case _ => null
    }.toArray[Any]))
  }

  def partials(cfg: InfluxSink.Config, specs: Seq[InfluxScan.AggSpec],
               bucketMs: Option[Long], startMs: Long, stopMs: Option[Long],
               measurement: Option[String], field: Option[String],
               groupCols: Seq[String] = Nil,
               tagEq: Seq[(String, Seq[String])] = Nil,
               tagRegex: Seq[(String, String)] = Nil,
               offsetMs: Long = 0L)
      : Iterator[InternalRow] = {
    // pushed regex predicates compiled once per task (synthesized in the
    // RE2 ∩ Java-safe form, so this Java matcher selects exactly the rows
    // the server's Flux `=~` did)
    val regexChecks: Seq[(String, java.util.regex.Pattern)] =
      tagRegex.map { case (k, re) => k -> java.util.regex.Pattern.compile(re) }
    def keep(s: InfluxScan.Sample): Boolean =
      s.within(startMs, stopMs, measurement, field) &&
        // pushed tag predicates re-checked on every fallback sample —
        // the "time" prep keeps filtered tag columns alive for this; a
        // single-value set is the plain equality, a wider one the IN
        tagEq.forall { case (k, vs) => s.tags.get(k).exists(vs.contains) } &&
        regexChecks.forall { case (k, p) =>
          s.tags.get(k).exists(v => p.matcher(v).find()) }
    def reEnforced(rows: Iterable[FluxCsv.Row]): Seq[InfluxScan.Sample] =
      InfluxScan.parseSamples(rows).filter(keep).toSeq
    def post(flux: String): Iterable[FluxCsv.Row] = FluxCsv(postFlux(cfg, flux))
    // offset buckets: grid = epoch multiples of bucketMs, shifted +offset
    // (the timezone-aligned window); offset 0 is the plain grid. No
    // window: the shard is one bucket, keyed by its start
    def bucketOf(t: Long): Long = bucketMs.fold(startMs)(w =>
      Math.floorDiv(t - offsetMs, w) * w + offsetMs)
    def keyOf(s: InfluxScan.Sample): Seq[String] = groupCols.map {
      case "measurement" => s.measurement
      case "field" => s.field
      // absent tag → NULL group cell, matching Spark's tags['k'] (the
      // reader drops empty tags; InfluxDB does not store them)
      case t if t.startsWith("tag:") =>
        s.tags.get(t.stripPrefix("tag:")).orNull
      // value-histogram bin, computed from the sample itself — the exact
      // fold, no server cooperation needed; a string-typed sample bins
      // to NULL like Spark's floor(NULL ∘ lit)
      case b if b.startsWith("bin:") =>
        s.value.map(v => InfluxScan.binOf(v, b).toString).orNull
      case other => throw new IllegalArgumentException(s"ungroupable $other")
    }
    // TRUSTED aggregate responses must carry the pushed tag equalities:
    // the count/sum queries append each tagEq key to the group(columns:)
    // key (when not already grouped), so every returned group names its
    // tag value — a server that returned aggregate-shaped windowed rows
    // but IGNORED the pushed tag filter is caught here, its non-matching
    // groups dropped before they can contaminate a bucket. Dropping is
    // sound: a group failing the check consists entirely of rows the
    // pushed equality excludes. The min/max/last/first queries need no
    // such guard — their responses parse as SAMPLES and re-enforce tagEq
    // row by row in reEnforced above.
    val aggGroupCols: Seq[String] =
      groupCols ++ (tagEq.map(_._1) ++ tagRegex.map(_._1)).distinct
        .map(k => s"tag:$k").filterNot(groupCols.contains)
    // per-key predicate over the group's returned tag cell: set membership
    // for equalities/INs, the compiled matcher for regexes (NULL — the
    // normalized absent-tag cell — passes neither)
    val tagChecks: Seq[(Int, String => Boolean)] =
      tagEq.map { case (k, vs) =>
        aggGroupCols.indexOf(s"tag:$k") ->
          ((v: String) => vs.contains(v))
      } ++ regexChecks.map { case (k, p) =>
        aggGroupCols.indexOf(s"tag:$k") ->
          ((v: String) => v != null && p.matcher(v).find())
      }
    // trusted grouped responses surface a missing tag as "" — normalize
    // to the same NULL cell the local fold produces
    def normKey(g: Seq[String]): Seq[String] =
      g.lazyZip(aggGroupCols).map { (v, c) =>
        if (c.startsWith("tag:") && (v == null || v.isEmpty)) null else v
      }
    // TRUSTED bin cells must canonicalize to the local fold's Long string
    // ("NULL" sentinel → the NULL cell; Go float shortest-round-trip may
    // render an integral floor as "12" or "12.0"). ANY other cell —
    // including a missing bin column — means the server did not run the
    // pushed map stage: the whole response is untrusted and the caller
    // falls back to sample parsing. Canonicalized keys that collide
    // ("12" + "12.0") re-merge with the spec's own add.
    val binIdx: Seq[Int] = aggGroupCols.zipWithIndex.collect {
      case (c, i) if c.startsWith("bin:") => i
    }
    def canonBinCell(cell: String): Option[String] =
      if (cell == null) None
      else if (cell == "NULL") Some(null)
      else {
        val s = if (cell.endsWith(".0")) cell.dropRight(2) else cell
        if (s.matches("-?\\d{1,18}")) Some(s) else None
      }
    def canonBins[T](m: Map[(Seq[String], Long), T], add: (T, T) => T)
        : Option[Map[(Seq[String], Long), T]] =
      if (binIdx.isEmpty) Some(m)
      else {
        val out = scala.collection.mutable.Map.empty[(Seq[String], Long), T]
        m.foreach { case ((g, b), n) =>
          val g2 = g.toArray
          binIdx.foreach { i =>
            canonBinCell(g2(i)) match {
              case Some(v) => g2(i) = v
              case None => return None
            }
          }
          val k = (g2.toSeq: Seq[String], b)
          out(k) = out.get(k).fold(n)(add(_, n))
        }
        Some(out.toMap)
      }

    val acc = scala.collection.mutable.LinkedHashMap
      .empty[(Seq[String], Long), Array[Any]]
    def slotsAt(k: (Seq[String], Long)): Array[Any] =
      acc.getOrElseUpdate(k, new Array[Any](specs.length))

    // each spec's pipeline, the same stage text alone (its single-spec
    // program) or fused; sort |> limit(1) branches (min/max, first/last,
    // the numeric boundary pulls) return samples, the rest aggregates
    val branches = specs.map(InfluxScan.branchOf(_, groupCols, aggGroupCols,
      bucketMs, offsetMs))
    val samplePull = branches.map(_.limit.isDefined)

    // a trusted server aggregate keyed by (EXTENDED group, normalized
    // bucket), clamped to the shard; groups whose tagEq cells do not
    // match the pushed equalities are dropped, the surviving key is
    // projected back to the user's grouping; accumulate with `add`
    def foldTrusted[T](m: Map[(Seq[String], Long), T], i: Int,
                       add: (T, T) => T, box: T => Any): Unit =
      m.foreach { case ((g0, b0), n) =>
        val gExt = normKey(g0)
        if (tagChecks.forall { case (ix, pred) => pred(gExt(ix)) } &&
            b0 >= bucketOf(startMs) && stopMs.forall(b0 < _)) {
          val sl = slotsAt((gExt.take(groupCols.length), b0))
          sl(i) = if (sl(i) == null) box(n)
                  else box(add(sl(i).asInstanceOf[T], n))
        }
      }
    // local fallback over re-enforced raw samples
    def foldLocal[T](samples: Seq[InfluxScan.Sample], i: Int,
                     of: InfluxScan.Sample => Option[T],
                     add: (T, T) => T, box: T => Any): Unit =
      samples.foreach { smp =>
        of(smp).foreach { v =>
          val sl = slotsAt((keyOf(smp), bucketOf(smp.timeMs)))
          sl(i) = if (sl(i) == null) box(v)
                  else box(add(sl(i).asInstanceOf[T], v))
        }
      }

    // the LOCAL fold of one spec over already-re-enforced samples — shared
    // by every fallback (untrusted single-spec response, raw samples
    // answering the fused program, marked sample-pull branches)
    def foldLocalFor(spec: InfluxScan.AggSpec, i: Int,
                     samples: Seq[InfluxScan.Sample]): Unit = spec match {
      case InfluxScan.AggMinTime =>
        foldLocal[Long](samples, i, s => Some(s.timeMs), math.min, Long.box)
      case InfluxScan.AggMaxTime =>
        foldLocal[Long](samples, i, s => Some(s.timeMs), math.max, Long.box)
      // Spark's double order: NaN above every number (math.min would let
      // a NaN-valued sample win the min)
      case InfluxScan.AggMinValue =>
        foldLocal[Double](samples, i, _.value,
          (a, b) => if (java.lang.Double.compare(a, b) <= 0) a else b, Double.box)
      case InfluxScan.AggMaxValue =>
        foldLocal[Double](samples, i, _.value,
          (a, b) => if (java.lang.Double.compare(a, b) >= 0) a else b, Double.box)
      case InfluxScan.AggCountStar =>
        foldLocal[Long](samples, i, _ => Some(1L), _ + _, Long.box)
      case InfluxScan.AggCountValue =>
        foldLocal[Long](samples, i, s => s.value.map(_ => 1L), _ + _, Long.box)
      case InfluxScan.AggSumValue =>
        foldLocal[Double](samples, i, _.value, _ + _, Double.box)
      case InfluxScan.AggSumSq =>
        foldLocal[Double](samples, i, _.value.map(v => v * v), _ + _,
          Double.box)
      // value at the extreme timestamp (Flux last()/first()): the fold
      // state is the (time, value) pair; the emit loop below unwraps it to
      // the value slot (NULL when the extreme sample was string-typed)
      case InfluxScan.AggLastValue =>
        foldLocal[(Long, Option[Double])](samples, i,
          s => Some((s.timeMs, s.value)),
          (a, b) => if (b._1 > a._1) b else a, x => x)
      case InfluxScan.AggFirstValue =>
        foldLocal[(Long, Option[Double])](samples, i,
          s => Some((s.timeMs, s.value)),
          (a, b) => if (b._1 < a._1) b else a, x => x)
      // counter-rate family: numeric-only boundary samples (the stitch
      // pairs numeric neighbors, so string samples are invisible here)...
      case InfluxScan.AggFirstNumTime =>
        foldLocal[Long](samples, i, s => s.value.map(_ => s.timeMs),
          math.min, Long.box)
      case InfluxScan.AggLastNumTime =>
        foldLocal[Long](samples, i, s => s.value.map(_ => s.timeMs),
          math.max, Long.box)
      case InfluxScan.AggFirstNumValue =>
        foldLocal[(Long, Double)](samples, i,
          s => s.value.map(v => (s.timeMs, v)),
          (a, b) => if (b._1 < a._1) b else a, x => x)
      case InfluxScan.AggLastNumValue =>
        foldLocal[(Long, Double)](samples, i,
          s => s.value.map(v => (s.timeMs, v)),
          (a, b) => if (b._1 > a._1) b else a, x => x)
      // ...and the within-segment increase, whose fold is ORDERED: collect
      // the numeric (time, value) pairs and sum reset-aware consecutive
      // deltas at emit (lists only ever build on the raw-sample fallback
      // path — a trusted response lands the final Double directly)
      case InfluxScan.AggIncrease =>
        foldLocal[List[(Long, Double)]](samples, i,
          s => s.value.map(v => List((s.timeMs, v))), _ ++ _, x => x)
      // ...and the within-window trapezoid integral, ordered like the
      // increase: numeric (time, value) pairs accumulate and the emit
      // loop sums consecutive trapezoid areas
      case InfluxScan.AggIntegral =>
        foldLocal[List[(Long, Double)]](samples, i,
          s => s.value.map(v => List((s.timeMs, v))), _ ++ _, x => x)
      // ...and the within-window LOCF (rectangle) area, ordered like the
      // integral: numeric (time, value) pairs accumulate and the emit
      // loop sums v_i·Δt over consecutive pairs (the last sample of a
      // window holds nothing — within-window pairs only)
      case InfluxScan.AggLocfArea =>
        foldLocal[List[(Long, Double)]](samples, i,
          s => s.value.map(v => List((s.timeMs, v))), _ ++ _, x => x)
    }

    // parse-or-None of a TRUSTED aggregate response for a count/sum spec
    // (shared by the single-spec path and fused branches): windowed
    // responses key each row by its window, unwindowed ones by the shard
    def atStart[T](m: Option[Map[Seq[String], T]])
        : Option[Map[(Seq[String], Long), T]] =
      m.map(_.map { case (g, n) => (g, startMs) -> n })
    def foldTrustedAgg(spec: InfluxScan.AggSpec, i: Int,
                       rows: Iterable[FluxCsv.Row]): Boolean = spec match {
      case InfluxScan.AggCountStar | InfluxScan.AggCountValue =>
        bucketMs.fold(atStart(InfluxScan.parseGroupedCounts(rows, aggGroupCols)))(
            InfluxScan.parseWindowedCounts(rows, _, startMs, aggGroupCols, offsetMs))
          .flatMap(canonBins[Long](_, _ + _)) match {
          case Some(m) => foldTrusted[Long](m, i, _ + _, Long.box); true
          case None => false
        }
      case InfluxScan.AggSumValue | InfluxScan.AggSumSq |
           InfluxScan.AggIncrease | InfluxScan.AggIntegral |
           InfluxScan.AggLocfArea =>
        bucketMs.fold(atStart(InfluxScan.parseGroupedSums(rows, aggGroupCols)))(
            InfluxScan.parseWindowedSums(rows, _, startMs, aggGroupCols, offsetMs))
          .flatMap(canonBins[Double](_, _ + _)) match {
          case Some(m) => foldTrusted[Double](m, i, _ + _, Double.box); true
          case None => false
        }
      case other => throw new IllegalStateException(s"not a trusted agg $other")
    }

    // ONE spec, its own POST — the single-spec protocol (also the per-spec
    // fallback when a fused branch fails its trust check): an aggregate
    // response that fails its trust check, like a sample pull, folds its
    // re-enforced samples locally
    def runSpec(i: Int): Unit = {
      val rows = post(InfluxScan.branchFlux(cfg.bucket, startMs, stopMs,
        measurement, field, branches(i), tagEq, tagRegex))
      if (samplePull(i) || !foldTrustedAgg(specs(i), i, rows))
        foldLocalFor(specs(i), i, reEnforced(rows))
    }

    if (specs.length >= 2) {
      // FUSED protocol: every spec's pipeline rides ONE program over ONE
      // source read (union of marker-stamped branches) — a count+sum+min+
      // max rollup posts once per shard, not four times. Trust is
      // per-branch and falls back per-branch:
      //  - marked response → each count/sum branch parses under the same
      //    trust checks as its single-spec twin (a failing branch
      //    re-POSTs its own single-spec query); min/max/last/first
      //    branches fold their re-enforced sample rows;
      //  - unmarked response WITH samples → the server ignored the fused
      //    program and returned raw samples: every spec folds locally over
      //    the same re-enforced set — exactly what each single-spec
      //    fallback would have computed from its own identical response
      //    (an all-out-of-range dump folds to nothing, as N re-POSTs would);
      //  - unmarked response WITHOUT samples → unattributable (could be a
      //    trusted aggregate shape): re-POST every spec singly, whose
      //    responses the per-spec trust checks adjudicate.
      InfluxScan.classifyFused(postFlux(cfg, InfluxScan.fusedFlux(cfg.bucket,
        startMs, stopMs, measurement, field, tagEq, branches, tagRegex)),
        specs.length, keep) match {
        case InfluxScan.Marked(marked) =>
          specs.indices.foreach { i =>
            val rows = marked.getOrElse(i, Nil)
            if (samplePull(i)) foldLocalFor(specs(i), i, reEnforced(rows))
            else if (!foldTrustedAgg(specs(i), i, rows)) runSpec(i)
          }
        case InfluxScan.RawDump(samples) =>
          specs.zipWithIndex.foreach { case (spec, i) =>
            foldLocalFor(spec, i, samples)
          }
        case InfluxScan.AskEach => specs.indices.foreach(runSpec)
      }
    } else specs.indices.foreach(runSpec)
    // a bucket discovered only by a min/max query still needs its count
    // slots non-null (the final merge sums them)
    val countIdx = specs.zipWithIndex.collect {
      case (InfluxScan.AggCountStar, i) => i
      case (InfluxScan.AggCountValue, i) => i
    }
    val lastFirstIdx = specs.zipWithIndex.collect {
      case (InfluxScan.AggLastValue, i) => i
      case (InfluxScan.AggFirstValue, i) => i
    }
    val numPairIdx = specs.zipWithIndex.collect {
      case (InfluxScan.AggFirstNumValue, i) => i
      case (InfluxScan.AggLastNumValue, i) => i
    }
    val increaseIdx = specs.zipWithIndex.collect {
      case (InfluxScan.AggIncrease, i) => i
    }
    val integralIdx = specs.zipWithIndex.collect {
      case (InfluxScan.AggIntegral, i) => i
    }
    val locfAreaIdx = specs.zipWithIndex.collect {
      case (InfluxScan.AggLocfArea, i) => i
    }
    acc.iterator.map { case ((g, b), sl) =>
      countIdx.foreach(i => if (sl(i) == null) sl(i) = 0L)
      // unwrap the (time, value) fold state to the value slot (NULL when
      // the extreme sample was string-typed)
      lastFirstIdx.foreach { i =>
        if (sl(i) != null)
          sl(i) = sl(i).asInstanceOf[(Long, Option[Double])]
            ._2.map(Double.box).orNull
      }
      // numeric boundary pairs: always local fold state, never trusted
      numPairIdx.foreach { i =>
        if (sl(i) != null)
          sl(i) = Double.box(sl(i).asInstanceOf[(Long, Double)]._2)
      }
      // increase: a trusted response landed the Double directly; the
      // local fallback accumulated the cell's (time, value) pairs — sort
      // by time and sum the reset-aware consecutive deltas (equal-time
      // pairs within one cell order nondeterministically, the same caveat
      // the last/first specs carry)
      increaseIdx.foreach { i =>
        sl(i) match {
          case l: List[_] =>
            val pts = l.asInstanceOf[List[(Long, Double)]].sortBy(_._1)
            val inc = pts.lazyZip(pts.drop(1)).map { (a, b) =>
              if (b._2 >= a._2) b._2 - a._2 else b._2
            }.sum
            sl(i) = Double.box(inc)
          case _ => ()
        }
      }
      // integral: same emit contract as increase — a trusted response
      // landed the Double; the local fallback sums consecutive trapezoid
      // areas (v_i + v_{i+1})/2 · Δt over the time-sorted numeric pairs
      // (a single-sample window integrates to 0, Flux's convention)
      integralIdx.foreach { i =>
        sl(i) match {
          case l: List[_] =>
            val pts = l.asInstanceOf[List[(Long, Double)]].sortBy(_._1)
            val area = pts.lazyZip(pts.drop(1)).map { (a, b) =>
              (a._2 + b._2) * (b._1 - a._1) / 2.0
            }.sum
            sl(i) = Double.box(area)
          case _ => ()
        }
      }
      // locf_area: same emit contract — a trusted response landed the
      // Double; the local fallback sums rectangle areas v_i · Δt over
      // the time-sorted numeric pairs (the last sample holds nothing
      // within the window; single-sample windows area to 0)
      locfAreaIdx.foreach { i =>
        sl(i) match {
          case l: List[_] =>
            val pts = l.asInstanceOf[List[(Long, Double)]].sortBy(_._1)
            val area = pts.lazyZip(pts.drop(1)).map { (a, b) =>
              a._2 * (b._1 - a._1)
            }.sum
            sl(i) = Double.box(area)
          case _ => ()
        }
      }
      // bin group cells surface as LONG (Spark's floor returns LongType);
      // everything else as the string group value
      val tagCells = groupCols.lazyZip(g).map { (c, s) =>
        (if (s == null) null
         else if (c.startsWith("bin:")) Long.box(s.toLong)
         else UTF8String.fromString(s)): Any
      }
      new GenericInternalRow((tagCells ++ (Long.box(b) +: sl.toSeq)).toArray)
    }
  }
}
