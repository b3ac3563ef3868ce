package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

import java.time.Instant
import scala.collection.mutable.ArrayBuffer

/** ScalaCheck property for the FLAT pushed aggregate — the DSv2
  * `pushAggregation` contract, which the pointwise `InfluxReadSpec` tests
  * pin one spec set at a time. A random subset of the seven flat specs
  * (min/max over time_ms and value, count(*), sum(value), count(value)),
  * ungrouped or grouped by `measurement` or `measurement, field`, over 1
  * or 3 range shards, must CLAIM `PushedAggregates` and equal the
  * unpushed evaluation exactly against three servers:
  *
  *  - a raw dump: every program gets every sample, in range or not;
  *  - an honest emulator: each program gets what a correct InfluxDB
  *    returns — per-group aggregate rows for count/sum branches, the
  *    extreme sample per group for sort |> limit branches, the samples
  *    in range for a raw pull; a fused program's branches carry their
  *    marker (branch kinds read off the program text);
  *  - an empty reply.
  *
  * The samples include string-only groups (a measurement and a field
  * holding only string values), which no numeric-population spec sees.
  * Values are quarters, so double sums are exact in any association.
  * `flat_agg_programs.golden` pins the Flux programs each case POSTs;
  * every server must be sent exactly those programs. */
class InfluxFlatAggPropSpec extends AnyFunSuite {
  import InfluxFlatAggPropSpec.{Case, P}
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L
  private val day = 86400000L
  private val hour = 3600000L

  // (measurement, field, numeric?): ha_text and the (ha_states, state)
  // series hold only strings, so each grouping has string-only groups
  private val series = Seq(("ha_states", "value", true),
    ("ha_meter", "power", true), ("ha_states", "state", false),
    ("ha_text", "state", false))

  private val samplesGen: Gen[List[P]] = for {
    n <- Gen.chooseNum(0, 30)
    ps <- Gen.listOfN(n, for {
      s <- Gen.oneOf(series)
      // an hour either side of the queried day: a raw dump carries
      // samples the readers must drop
      off <- Gen.chooseNum(-hour, day + hour - 1)
      v <- if (s._3) Gen.option(Gen.chooseNum(-2000, 2000).map(_ / 4.0))
           else Gen.const(None)
    } yield P(s._1, s._2, t0 + off, v))
  } yield ps

  private val specPool: Seq[(String, () => Column)] = Seq(
    "mnt" -> (() => min(col("time_ms")).as("mnt")),
    "mxt" -> (() => max(col("time_ms")).as("mxt")),
    "mnv" -> (() => min(col("value")).as("mnv")),
    "mxv" -> (() => max(col("value")).as("mxv")),
    "n" -> (() => count(lit(1)).as("n")),
    "s" -> (() => sum(col("value")).as("s")),
    "nv" -> (() => count(col("value")).as("nv")))

  private val groupings: Seq[Seq[String]] =
    Seq(Nil, Seq("measurement"), Seq("measurement", "field"))

  private def iso(ms: Long): String = Instant.ofEpochMilli(ms).toString

  private def csvOf(ps: Seq[P]): String =
    (",result,table,_time,_value,_field,_measurement" +:
      ps.zipWithIndex.map { case (p, i) =>
        s",_result,$i,${iso(p.ms)},${p.v.map(_.toString).getOrElse(s"str_$i")}," +
          s"${p.f},${p.m}"
      }).mkString("", "\n", "\n")

  /** The samples a program's source stages select: its range and its
    * measurement/field equalities. */
  private def selected(flux: String, ps: Seq[P]): Seq[P] = {
    val bounded = """range\(start: ([0-9T:.Z-]+), stop: ([0-9T:.Z-]+)\)""".r
    val open = """range\(start: ([0-9T:.Z-]+)\)""".r
    val (lo, hi) = bounded.findFirstMatchIn(flux) match {
      case Some(r) => (Instant.parse(r.group(1)).toEpochMilli,
        Instant.parse(r.group(2)).toEpochMilli)
      case None => (open.findFirstMatchIn(flux)
        .map(r => Instant.parse(r.group(1)).toEpochMilli)
        .getOrElse(Long.MinValue), Long.MaxValue)
    }
    def eq(col: String) = ("r\\[\"" + col + "\"\\] == \"([^\"]*)\"").r
      .findFirstMatchIn(flux).map(_.group(1))
    val m = eq("_measurement")
    val f = eq("_field")
    ps.filter(p => p.ms >= lo && p.ms < hi && m.forall(_ == p.m) &&
      f.forall(_ == p.f))
  }

  /** One branch's honest table: `stages` is the branch's stage text. */
  private def honestBranch(stages: String, ps: Seq[P],
                           marker: Option[Int]): String = {
    val gcols = """group\(columns: \[([^\]]*)\]\)""".r
      .findFirstMatchIn(stages).toSeq
      .flatMap(_.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")))
      .filter(_.nonEmpty)
    def key(p: P): Seq[String] = gcols.map {
      case "_measurement" => p.m
      case "_field" => p.f
      case c => sys.error(s"emulator: ungroupable $c")
    }
    val numeric = stages.contains("types.isType")
    val pop = if (numeric) ps.filter(_.v.isDefined) else ps
    val groups = pop.groupBy(key).toSeq.sortBy(_._1.mkString("\u0000"))
    val mk = marker.map(i => s",$i").getOrElse("")
    val mkHead = if (marker.isDefined) ",_graft_agg" else ""
    val gHead = gcols.map("," + _).mkString
    val sort = """sort\(columns: \["(_time|_value)"\], desc: (true|false)\)""".r
      .findFirstMatchIn(stages)
    val rows: Seq[String] = sort match {
      case Some(s) =>
        // sort |> limit(n: 1) per group table: the extreme sample
        val byTime = s.group(1) == "_time"
        val desc = s.group(2) == "true"
        val keepValue = !stages.contains("keep(columns:")
        val head = ",result,table,_time" + (if (keepValue) ",_value" else "") +
          ",_field,_measurement" + mkHead
        head +: groups.zipWithIndex.map { case ((_, g), t) =>
          val ord = if (byTime) g.sortBy(_.ms) else g.sortBy(_.v.get)
          val p = if (desc) ord.last else ord.head
          val v = if (keepValue) "," + p.v.get.toString else ""
          s",_result,$t,${iso(p.ms)}$v,${p.f},${p.m}$mk"
        }
      case None =>
        val agg: Seq[P] => String =
          if (stages.contains("count(column: \"_time\")") ||
            stages.contains("count(column: \"_value\")")) g => g.size.toString
          else if (stages.contains("sum(column: \"_value\")"))
            g => g.flatMap(_.v).sum.toString
          else sys.error(s"emulator: unclassifiable branch stages:\n$stages")
        s",result,table,_value$gHead$mkHead" +: groups.zipWithIndex.map {
          case ((k, g), t) => s",_result,$t,${agg(g)}${k.map("," + _).mkString}$mk"
        }
    }
    rows.mkString("", "\n", "\n")
  }

  /** What a correct InfluxDB answers to each program the flat path
    * sends: a fused program gets one marked table per branch, an
    * aggregate program its one unmarked table, a raw pull the selected
    * samples. */
  private def honestServer(ps: Seq[P])(flux: String): String = {
    val sel = selected(flux, ps)
    if (flux.contains("union(tables: ["))
      flux.split("""b\d+ = data""").toSeq.tail
        .map(_.split("union\\(tables").head).zipWithIndex
        .map { case (st, i) => honestBranch(st, sel, Some(i)) }
        .mkString("\n")
    else if (flux.contains("|> group(")) honestBranch(flux, sel, None)
    else csvOf(sel)
  }

  private val servers: Seq[(String, Seq[P] => String => String)] = Seq(
    "raw-dump" -> (ps => _ => csvOf(ps)),
    "honest" -> (ps => honestServer(ps)),
    "empty" -> (_ => _ => ""))

  private val caseGen: Gen[Case] = for {
    ps <- samplesGen
    mask <- Gen.listOfN(specPool.length, Gen.prob(0.3))
    lone <- Gen.oneOf(specPool)
    order <- Gen.long
    g <- Gen.oneOf(groupings)
    parts <- Gen.oneOf(1, 3)
    onlyStates <- Gen.frequency(1 -> true, 2 -> false)
  } yield {
    val picked = specPool.lazyZip(mask).collect { case (sp, true) => sp }
    val specs = if (picked.isEmpty) Seq(lone) else picked
    Case(ps, new scala.util.Random(order).shuffle(specs).toList, g, parts,
      onlyStates)
  }

  /** (label, the sorted programs the pushed read POSTed) per case. */
  private def runCase(c: Case, posts: ArrayBuffer[(String, Seq[String])])
      : Prop = {
    val runs = servers.map { case (name, server) =>
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      FakeInflux.reads = Some { flux => seen.add(flux); server(c.ps)(flux) }
      try {
        val base0 = spark.read.format("influx").option("bucket", "bkt")
          .option("readPartitions", c.parts.toString).load()
          .filter(col("time_ms") >= t0 && col("time_ms") < t0 + day)
        val base =
          if (c.onlyStates) base0.filter(col("measurement") === "ha_states")
          else base0
        def q(df: DataFrame): DataFrame =
          df.groupBy(c.groupCols.map(col): _*)
            .agg(c.specs.head._2(), c.specs.tail.map(_._2()): _*)
        def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet
        val pushedDf = q(base)
        val claimed = pushedDf.queryExecution
          .explainString(ExplainMode.fromString("formatted"))
          .contains("PushedAggregates")
        val pushed = rows(pushedDf)
        val programs = Iterator.continually(seen.poll())
          .takeWhile(_ != null).toSeq.sorted
        // the length(field) >= 0 residual blocks the push without
        // changing the rows — the unpushed twin over the same server
        val unpushed = rows(q(base.filter(length(col("field")) >= 0)))
        (name, claimed, pushed, unpushed, programs)
      } finally FakeInflux.reads = None
    }
    val programs = runs.head._5
    posts += c.label -> programs
    runs.map { case (name, claimed, pushed, unpushed, progs) =>
      Prop.propBoolean(claimed && pushed == unpushed && progs == programs) :|
        s"flat agg mismatch [$name]: ${c.label} claimed=$claimed " +
          s"samePrograms=${progs == programs}\n  pushed=$pushed\n" +
          s"  unpushed=$unpushed"
    }.reduce(_ && _)
  }

  private def renderGolden(posts: Seq[(String, Seq[String])]): String =
    posts.zipWithIndex.flatMap { case ((label, programs), i) =>
      s"=== case $i $label" +: programs.flatMap(p => "--- post" +: p.split("\n").toSeq)
    }.mkString("", "\n", "\n")

  test("a flat pushed aggregate claims the push and equals the unpushed " +
    "evaluation for random spec subsets × groupings × shards × servers, " +
    "POSTing exactly the golden programs (property)") {
    val posts = ArrayBuffer.empty[(String, Seq[String])]
    val prop = Prop.forAllNoShrink(caseGen)(runCase(_, posts))
    PropCheck.check(prop, minSuccessful = 32, tag = "InfluxFlatAggPropSpec#1")
    val got = renderGolden(posts.toSeq)
    val want = Option(getClass.getResourceAsStream("/graft/flat_agg_programs.golden"))
      .map { in => try new String(in.readAllBytes(), "UTF-8") finally in.close() }
      .getOrElse("")
    if (got != want) {
      val out = java.nio.file.Paths.get("target", "flat_agg_programs.golden.actual")
      java.nio.file.Files.writeString(out, got)
      fail(s"the programs POSTed differ from flat_agg_programs.golden " +
        s"(actual written to $out)")
    }
  }
}

object InfluxFlatAggPropSpec {
  /** One raw sample; `v` None is a string-typed sample. */
  private final case class P(m: String, f: String, ms: Long, v: Option[Double])

  private final case class Case(ps: List[P], specs: List[(String, () => Column)],
                                groupCols: Seq[String], parts: Int,
                                onlyStates: Boolean) {
    def label: String = s"specs=${specs.map(_._1).mkString(",")} " +
      s"group=${groupCols.mkString(",")} shards=$parts " +
      s"measurement=${if (onlyStates) "ha_states" else "any"}"
  }
}
