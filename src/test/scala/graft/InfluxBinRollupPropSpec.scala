package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property for the value-histogram rollup push: over random
  * sample populations (numeric and string values, tagged and untagged
  * series, both bin ops, with and without a time bucket) the PUSHED
  * aggregate must equal the unpushed one bit-for-bit under a stub server
  * that answers every program with the full raw dump — the fallback path
  * bins locally, and counts/sums/mins are deterministic. */
class InfluxBinRollupPropSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L
  private val day = 86400000L

  import InfluxCsvFixture.{S, csvOf}

  private val samplesGen: Gen[List[S]] = for {
    n <- Gen.chooseNum(0, 30)
    ss <- Gen.listOfN(n, for {
      ent <- Gen.oneOf(Some("a"), Some("b"), None)
      off <- Gen.chooseNum(0L, day - 1)
      // quarters are dyadic → every partial sum is EXACT in double, so
      // the pushed and unpushed plans' different addition orders cannot
      // differ even in the last bit
      v <- Gen.option(Gen.chooseNum(-2000, 2000).map(_ / 4.0))
    } yield S(ent, t0 + off, v))
  } yield ss

  private def run(samples: Seq[S], mult: Boolean, bucketed: Boolean) = {
    FakeInflux.reads = Some(_ => csvOf(samples))
    try {
      val bin = (if (mult) floor(col("value") * 0.2)
                 else floor(col("value") / 7.0)).as("bin")
      def q(df: org.apache.spark.sql.DataFrame) = {
        val keys = if (bucketed) Seq(bin, expr("time_ms div 21600000").as("b"))
                   else Seq(bin)
        df.groupBy(keys: _*)
          .agg(count(lit(1)).as("n"), sum(col("value")).as("s"),
            min(col("value")).as("mn"))
      }
      val base = spark.read.format("influx").option("bucket", "bkt")
        .option("readPartitions", "2").load()
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + day &&
          col("measurement") === "ha_states")
      def collectRows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map { r =>
          val key = (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
            (if (bucketed) Some(r.getLong(1)) else None)
          val base = if (bucketed) 2 else 1
          key -> ((r.getLong(base),
            if (r.isNullAt(base + 1)) None else Some(r.getDouble(base + 1)),
            if (r.isNullAt(base + 2)) None else Some(r.getDouble(base + 2))))
        }.toMap
      val pushedDf = q(base)
      val claimed = pushedDf.queryExecution.optimizedPlan.toString
        .contains("InfluxBucketRollup")
      val pushed = collectRows(pushedDf)
      val unp = collectRows(q(base.filter(
        org.apache.spark.sql.functions.length(col("field")) >= 0)))
      (claimed, pushed, unp)
    } finally FakeInflux.reads = None
  }

  test("pushed bin rollup ≡ unpushed for random populations, both ops, " +
    "with and without a time bucket (property)") {
    val gen = for {
      ss <- samplesGen
      mult <- Gen.oneOf(true, false)
      bucketed <- Gen.oneOf(true, false)
    } yield (ss, mult, bucketed)
    val prop = Prop.forAllNoShrink(gen) { case (ss, mult, bucketed) =>
      val (claimed, pushed, unp) = run(ss, mult, bucketed)
      claimed && pushed == unp
    }
    PropCheck.check(prop, minSuccessful = 25, tag = "InfluxBinRollupPropSpec#1")
  }
}
