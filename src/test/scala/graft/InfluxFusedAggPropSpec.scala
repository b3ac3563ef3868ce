package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property for the FUSED multi-aggregate rollup push — the
  * surface every panel read rides but whose combinations the unit specs
  * pin only pointwise: a random SUBSET of the claimable aggregates
  * (count, count(value), sum, avg, min, max, sum(v·v), max_by/min_by),
  * over a random grouping (hour / entity × hour), shift and shard
  * count, must (a) CLAIM the rollup rewrite and (b) match the unpushed
  * evaluation of the same plan EXACTLY under a full-raw-dump stub — the
  * per-shard local folds and finalMerge must reproduce Spark's own
  * aggregation bit-for-bit. Sample values are dyadic (quarters), so
  * double sums are exact in any association and the equality needs no
  * tolerance. */
class InfluxFusedAggPropSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L
  private val day = 86400000L
  private val hour = 3600000L

  import InfluxCsvFixture.{S, csvOf}

  private val samplesGen: Gen[List[S]] = for {
    n <- Gen.chooseNum(0, 30)
    ss <- Gen.listOfN(n, for {
      ent <- Gen.oneOf(Some("a"), Some("b"), None)
      off <- Gen.chooseNum(0L, day - 1)
      v <- Gen.option(Gen.chooseNum(-2000, 2000).map(_ / 4.0))
    } yield S(ent, t0 + off, v))
  } yield ss

  // the claimable aggregate pool: name → column builder (aliased so the
  // two sides' schemas line up)
  private val corePool: Seq[(String, () => Column)] = Seq(
    "n" -> (() => count(lit(1)).as("n")),
    "nv" -> (() => count(col("value")).as("nv")),
    "s" -> (() => sum(col("value")).as("s")),
    "av" -> (() => avg(col("value")).as("av")),
    "mn" -> (() => min(col("value")).as("mn")),
    "mx" -> (() => max(col("value")).as("mx")),
    "s2" -> (() => sum(col("value") * col("value")).as("s2")))
  private val byPool: Seq[(String, () => Column)] = Seq(
    "lv" -> (() => max_by(col("value"), col("time_ms")).as("lv")),
    "fv" -> (() => min_by(col("value"), col("time_ms")).as("fv")))

  private def run(samples: Seq[S], aggs: Seq[(String, () => Column)],
                  groupEntity: Boolean, shiftMs: Long, parts: Int)
      : (Boolean, Boolean, String) = {
    FakeInflux.reads = Some(_ => csvOf(samples))
    try {
      val keyCols: Seq[Column] =
        (if (groupEntity) Seq(col("tags")("entity_id").as("e")) else Nil) :+
          expr(s"(time_ms + $shiftMs) div $hour").as("h")
      def q(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(keyCols: _*).agg(aggs.head._2(), aggs.tail.map(_._2()): _*)
      val base = spark.read.format("influx").option("bucket", "bkt")
        .option("readPartitions", parts.toString).load()
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + day &&
          col("measurement") === "ha_states")
      def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
        df.collect().map(_.toSeq).toSet
      val pushedDf = q(base)
      val claimed = pushedDf.queryExecution.optimizedPlan.toString
        .contains("InfluxBucketRollup")
      val pushed = rows(pushedDf)
      // the length(field) >= 0 residual breaks the claim without
      // changing the rows — the unpushed twin over the same stub
      val unp = rows(q(base.filter(length(col("field")) >= 0)))
      val ok = pushed == unp
      val msg = s"fused agg mismatch: aggs=${aggs.map(_._1)} ent=$groupEntity " +
        s"shift=$shiftMs parts=$parts claimed=$claimed\n" +
        s"  pushed=$pushed\n  unpushed=$unp"
      (claimed, ok, msg)
    } finally FakeInflux.reads = None
  }

  test("random CORE aggregate subsets claim the fused rollup and match " +
    "the unpushed twin exactly (property)") {
    val gen = for {
      ss <- samplesGen
      k <- Gen.chooseNum(1, corePool.length)
      aggs <- Gen.pick(k, corePool)
      ent <- Gen.oneOf(true, false)
      shift <- Gen.oneOf(0L, 1800000L, -300000L)
      parts <- Gen.chooseNum(1, 3)
    } yield (ss, aggs.toList, ent, shift, parts)
    val prop = Prop.forAllNoShrink(gen) { case (ss, aggs, ent, shift, parts) =>
      // shrinking can void the pick/chooseNum invariants; skip, don't fail
      if (aggs.isEmpty || parts < 1) Prop.passed
      else {
        val (claimed, ok, msg) = run(ss, aggs, ent, shift, parts)
        Prop.propBoolean(claimed && ok) :| msg
      }
    }
    PropCheck.check(prop, minSuccessful = 15, tag = "InfluxFusedAggPropSpec#1")
  }

  test("subsets including max_by/min_by (the last()/first() rungs) " +
    "match the unpushed twin exactly (property)") {
    val gen = for {
      ss <- samplesGen
      k <- Gen.chooseNum(0, 3)
      core <- Gen.pick(k, corePool)
      kb <- Gen.chooseNum(1, byPool.length)
      by <- Gen.pick(kb, byPool)
      ent <- Gen.oneOf(true, false)
      parts <- Gen.chooseNum(1, 3)
    } yield (ss, (core ++ by).toList, ent, parts)
    val prop = Prop.forAllNoShrink(gen) { case (ss, aggs, ent, parts) =>
      if (aggs.isEmpty || parts < 1) Prop.passed
      else {
        // max_by/min_by need a deterministic argmax: one sample per ms —
        // under the hour-only grouping, same-ms samples from DIFFERENT
        // entities still tie on time_ms, and Spark's max_by picks an
        // arbitrary tied row just like the server's sort|>limit(1)
        val dd = ss.groupBy(_.ms).map(_._2.head).toList
        val (_, ok, msg) = run(dd, aggs, ent, 0L, parts)
        Prop.propBoolean(ok) :| msg
      }
    }
    PropCheck.check(prop, minSuccessful = 15, tag = "InfluxFusedAggPropSpec#2")
  }
}
