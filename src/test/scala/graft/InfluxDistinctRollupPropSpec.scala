package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property for the DISTINCT-count rollup push: over random
  * sample populations (tagged and untagged series, numeric and string
  * values, 1–3 range shards, with and without a time bucket, alone and
  * composed with plain aggregates) the PUSHED count(distinct tags['k'])
  * must equal the unpushed one exactly under a stub server that answers
  * every program with the full raw dump — cross-shard duplicates of one
  * (entity, bucket) must collapse in the distinct, and the NULL
  * absent-tag group must never count. */
class InfluxDistinctRollupPropSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L
  private val day = 86400000L

  import InfluxCsvFixture.{S, csvOf}

  private val samplesGen: Gen[List[S]] = for {
    n <- Gen.chooseNum(0, 40)
    ss <- Gen.listOfN(n, for {
      ent <- Gen.oneOf(Some("a"), Some("b"), Some("c"), None)
      off <- Gen.chooseNum(0L, day - 1)
      v <- Gen.option(Gen.chooseNum(-200, 200).map(_ / 4.0))
    } yield S(ent, t0 + off, v))
  } yield ss

  private def run(samples: Seq[S], parts: Int, bucketed: Boolean,
                  composed: Boolean) = {
    FakeInflux.reads = Some(_ => csvOf(samples))
    try {
      def q(df: org.apache.spark.sql.DataFrame) = {
        val distinct =
          countDistinct(col("tags").getItem("entity_id")).as("nd")
        val aggs = if (composed)
          Seq(distinct, count(lit(1)).as("n"), max(col("value")).as("mx"))
        else Seq(distinct)
        val grouped = if (bucketed)
          df.groupBy(expr("time_ms div 21600000").as("b"))
        else df.groupBy()
        grouped.agg(aggs.head, aggs.tail: _*)
      }
      val base = spark.read.format("influx").option("bucket", "bkt")
        .option("readPartitions", parts.toString).load()
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + day &&
          col("measurement") === "ha_states")
      def collectRows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map { r =>
          val off = if (bucketed) 1 else 0
          val key = if (bucketed) Some(r.getLong(0)) else None
          key -> ((r.getLong(off),
            if (composed) Some((r.getLong(off + 1),
              if (r.isNullAt(off + 2)) None else Some(r.getDouble(off + 2))))
            else None))
        }.toMap
      val pushedDf = q(base)
      val claimed = pushedDf.queryExecution.optimizedPlan.toString
        .contains("InfluxBucketRollup")
      val pushed = collectRows(pushedDf)
      // untranslatable conjunct declines the rewrite → the unpushed twin
      val unp = collectRows(q(base.filter(
        org.apache.spark.sql.functions.length(col("field")) >= 0)))
      (claimed, pushed, unp)
    } finally FakeInflux.reads = None
  }

  test("pushed count(distinct tags['k']) ≡ unpushed for random " +
    "populations, shard counts, bucketing and composition (property)") {
    val gen = for {
      ss <- samplesGen
      parts <- Gen.chooseNum(1, 3)
      bucketed <- Gen.oneOf(true, false)
      composed <- Gen.oneOf(true, false)
    } yield (ss, parts, bucketed, composed)
    val prop = Prop.forAllNoShrink(gen) { case (ss, parts, bucketed, composed) =>
      val (claimed, pushed, unp) = run(ss, parts, bucketed, composed)
      claimed && pushed == unp
    }
    PropCheck.check(prop, minSuccessful = 25, tag = "InfluxDistinctRollupPropSpec#1")
  }
}
