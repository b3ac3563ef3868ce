package graft

import graft.sources.{InfluxRollupRead, InfluxTable}
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property for the COMPOSED panel reads — the realistic
  * per-sensor local-midnight dashboard shape: every pushed panel read
  * (locf, lerp, moving-average, stddev, bollinger, TWA, counter-rate,
  * trapezoid-integral, HA-statistics, HA-counter-statistics) under a random
  * (tag-grouping × tagRegex × offsetMs × shards) composition must equal
  * the same read over the regex-PREFILTERED sample population with no
  * regex option — `composed read ≡ filter ∘ read`, the defining equation
  * of the tagRegex narrowing. Bit-exact: both sides run the identical
  * shipped fold over the identical effective samples (the client
  * re-check uses Java find(), the same predicate the prefilter applies),
  * so no tolerance is needed. The offset and shard dimensions ride both
  * sides, pinning the grid/stitch plumbing's independence from the
  * regex narrowing — the composition surface the per-read specs pin
  * only pointwise. */
class InfluxPanelComposePropSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L
  private val hour = 3600000L
  private val span = 3 * hour

  import InfluxCsvFixture.{S, csvOf}

  private val entityPool =
    Seq("sensor.a", "sensor.b", "meter.a", "m1")

  // synthesized-form regexes (the LIKE-family shapes the recognizer
  // emits), matched with Java find() exactly like the executor re-check
  private val regexPool = Seq(
    "^sensor\\.", // prefix family
    "\\.a",       // contains family
    "^m",         // prefix catching meter.a + m1
    "^sensor\\.a$") // exact

  private val samplesGen: Gen[List[S]] = for {
    n <- Gen.chooseNum(0, 30)
    raw <- Gen.listOfN(n, for {
      ent <- Gen.oneOf(entityPool)
      slot <- Gen.chooseNum(0L, 35L)
      v <- Gen.frequency(
        6 -> Gen.chooseNum(0, 400).map(x => Some(x / 4.0)),
        1 -> Gen.const(None))
    } yield S(Some(ent), t0 + slot * 300000L, v))
  } yield raw.groupBy(s => (s.entity, s.ms)).map(_._2.head).toList

  private val caseGen = for {
    ss <- samplesGen
    re <- Gen.oneOf(regexPool)
    off <- Gen.oneOf(0L, 300000L, 1800000L, 2700000L)
    parts <- Gen.chooseNum(1, 3)
    group <- Gen.oneOf(Seq("tag:entity_id"), Seq("tag:entity_id", "field"))
  } yield (ss, re, off, parts, group)

  private def baseOpts(parts: Int, group: Seq[String]): Map[String, String] =
    Map("bucket" -> "bkt", "readPartitions" -> parts.toString,
      "rollup.group" -> group.mkString(","),
      "rollup.measurement" -> "ha_states",
      "rollup.startMs" -> t0.toString,
      "rollup.stopMs" -> (t0 + span).toString)

  /** Each panel read as (name, off => extra => frame). */
  private def reads(off: Long, extra: Map[String, String])
      : Seq[(String, () => DataFrame)] = Seq(
    "locf" -> (() => InfluxRollupRead.locfRead(spark,
      InfluxRollupRead.locfOptions(hour, extra, off))),
    "lerp" -> (() => InfluxRollupRead.lerpRead(spark,
      InfluxRollupRead.lerpOptions(hour, extra, off))),
    "moving" -> (() => InfluxRollupRead.movingAvgRead(spark,
      InfluxRollupRead.movingOptions(hour, extra, off), 3)),
    "stddev" -> (() => InfluxRollupRead.stddevRead(spark,
      InfluxRollupRead.stddevOptions(hour, extra, off))),
    "bollinger" -> (() => InfluxRollupRead.bollingerRead(spark,
      InfluxRollupRead.stddevOptions(hour, extra, off), 3)),
    "twa" -> (() => InfluxRollupRead.twaRead(spark,
      InfluxRollupRead.twaOptions(hour, extra, off))),
    "rate" -> (() => InfluxRollupRead.rateRead(spark,
      InfluxRollupRead.rateOptions(hour, extra, off))),
    "integral" -> (() => InfluxRollupRead.integralRead(spark,
      InfluxRollupRead.integralOptions(hour, extra, off))),
    "statistics" -> (() => InfluxRollupRead.statisticsRead(spark,
      InfluxRollupRead.statisticsOptions(hour, extra, off))),
    "counter_stats" -> (() => InfluxRollupRead.counterStatisticsRead(spark,
      InfluxRollupRead.counterStatisticsOptions(hour, extra, off))),
    // the range endpoints land mid-span so both the pre-range baseline
    // and the in-range differencing paths execute under the composition
    "energy_range" -> (() => InfluxRollupRead.energyRange(spark,
      InfluxRollupRead.counterStatisticsOptions(hour, extra, off),
      t0 + hour, t0 + 2 * hour)),
    // the bar series anchors its own grid at the range start (off is
    // internal to it), but must still compose with the tag narrowing
    "energy_bars" -> (() => InfluxRollupRead.energyBars(spark, extra,
      t0 + hour, t0 + 2 * hour, hour)))

  private def withStub[T](csv: String)(body: => T): T = {
    FakeInflux.reads = Some(_ => csv)
    try body finally FakeInflux.reads = None
  }

  private def rowsOf(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("composed (tagRegex × offsetMs × grouping × shards) panel reads " +
    "≡ the same read over the prefiltered population, bit-exact, for " +
    "all TWELVE reads (property)") {
    val prop = Prop.forAllNoShrink(caseGen) { case (ss, re, off, parts, group) =>
      val p = java.util.regex.Pattern.compile(re)
      val matching = ss.filter(_.entity.exists(e => p.matcher(e).find()))
      val extra = baseOpts(parts, group)
      val narrowed = extra +
        ("rollup.tagRegex" -> InfluxTable.encodeTagRegex(
          Seq("entity_id" -> re)))
      Prop.all(reads(off, narrowed).zip(reads(off, extra)).map {
        case ((name, composed), (_, baseline)) =>
          val a = withStub(csvOf(ss)) { rowsOf(composed()) }
          val b = withStub(csvOf(matching)) { rowsOf(baseline()) }
          val msg =
            s"panel compose mismatch: $name re=$re off=$off parts=$parts " +
              s"group=$group\n  composed=$a\n  baseline=$b"
          Prop.propBoolean(a == b) :| msg
      }: _*)
    }
    PropCheck.check(prop, minSuccessful = 10, tag = "InfluxPanelComposePropSpec#1")
  }
}
