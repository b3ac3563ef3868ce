package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property for the timezone-shifted bucket push: over random
  * sample populations, widths, shifts (positive, negative, wider than a
  * bucket) and all three grouping spellings (`div`, floor, and the
  * `* W` start form), the PUSHED aggregate must equal the unpushed one
  * exactly under a stub server that answers with the full raw dump —
  * the fallback re-buckets on the shifted grid, and the group labels the
  * re-aim reproduces must match Spark's own evaluation of the original
  * expression. */
class InfluxShiftRollupPropSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L
  private val day = 86400000L

  import InfluxCsvFixture.{S, csvOf}

  private val samplesGen: Gen[List[S]] = for {
    n <- Gen.chooseNum(0, 30)
    ss <- Gen.listOfN(n, for {
      ent <- Gen.oneOf(Some("a"), Some("b"), None)
      off <- Gen.chooseNum(0L, day - 1)
      v <- Gen.option(Gen.chooseNum(-2000, 2000).map(_ / 4.0))
    } yield S(ent, t0 + off, v))
  } yield ss

  private def run(samples: Seq[S], w: Long, c: Long, spelling: Int) = {
    FakeInflux.reads = Some(_ => csvOf(samples))
    try {
      val key = spelling match {
        case 0 => expr(s"(time_ms + $c) div $w").as("h")
        case 1 => floor((col("time_ms") + c) / w.toDouble).as("h")
        case _ => (expr(s"(time_ms + $c) div $w") * w).as("h")
      }
      def q(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(key)
          .agg(count(lit(1)).as("n"), min(col("value")).as("mn"))
      val base = spark.read.format("influx").option("bucket", "bkt")
        .option("readPartitions", "2").load()
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + day &&
          col("measurement") === "ha_states")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) ->
          ((r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
      val pushedDf = q(base)
      val claimed = pushedDf.queryExecution.optimizedPlan.toString
        .contains("InfluxBucketRollup")
      val pushed = rows(pushedDf)
      val unp = rows(q(base.filter(
        org.apache.spark.sql.functions.length(col("field")) >= 0)))
      (claimed, pushed, unp)
    } finally FakeInflux.reads = None
  }

  test("pushed shifted-bucket rollup ≡ unpushed for random widths, " +
    "shifts and spellings (property)") {
    val gen = for {
      ss <- samplesGen
      w <- Gen.oneOf(3600000L, 7200000L, 21600000L)
      c <- Gen.chooseNum(-2 * 21600000L, 2 * 21600000L)
      spelling <- Gen.chooseNum(0, 2)
    } yield (ss, w, c, spelling)
    val prop = Prop.forAllNoShrink(gen) { case (ss, w, c, spelling) =>
      val (claimed, pushed, unp) = run(ss, w, c, spelling)
      claimed && pushed == unp
    }
    PropCheck.check(prop, minSuccessful = 30, tag = "InfluxShiftRollupPropSpec#1")
  }
}
