package graft

import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property for the grouped-TopN narrowing: over random
  * sample populations — numeric and string values, tagged and untagged
  * series, duplicate-free values so row_number is deterministic — the
  * PUSHED per-group top-k must equal the unpushed Window for every k and
  * both directions, under a stub server that answers every program with
  * the full raw dump (the residual Window is what makes that safe). */
class InfluxGroupTopNPropSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L
  private val day = 86400000L

  import InfluxCsvFixture.{S, csvOf}

  private val samplesGen: Gen[List[S]] = for {
    n <- Gen.chooseNum(0, 25)
    raw <- Gen.listOfN(n, for {
      ent <- Gen.oneOf(Some("a"), Some("b"), Some("c"), None)
      off <- Gen.chooseNum(0L, day - 1)
      // value in deci-steps; None = a string-typed sample (NULL value)
      v <- Gen.option(Gen.chooseNum(-500, 500).map(_ / 10.0))
    } yield (ent, off, v))
  } yield {
    // distinct values AND at most one string (NULL-value) sample per
    // entity, so the single-key value order is TOTAL per group and
    // row_number needs no tie-break — the pushed and unpushed plans
    // cannot legally differ
    val seen = scala.collection.mutable.Set.empty[(Option[String], Option[Double])]
    raw.zipWithIndex.flatMap { case ((e, off, v), i) =>
      if (!seen.add((e, v))) None
      else Some(S(e, t0 + off - (off % 25) + (i % 25), v))
    }
  }

  private def run(samples: Seq[S], k: Int, asc: Boolean) = {
    FakeInflux.reads = Some(_ => csvOf(samples))
    try {
      val ord = if (asc) col("value").asc else col("value").desc
      def q(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("rn", row_number().over(
          W.partitionBy(col("tags").getItem("entity_id"))
            .orderBy(ord))) // single key — total per group by generator
        .filter(col("rn") <= k)
        .select(col("tags").getItem("entity_id").as("e"),
          col("time_ms"), col("value"), col("rn"))
      val base = spark.read.format("influx").option("bucket", "bkt")
        .option("readPartitions", "2").load()
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + day &&
          col("measurement") === "ha_states")
      val pushedDf = q(base)
      val plan = pushedDf.queryExecution.executedPlan.toString
      val pushed = pushedDf.collect().map(r =>
        (Option(r.getString(0)), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          r.getInt(3))).toSet
      val unp = q(base.filter(
          org.apache.spark.sql.functions.length(col("field")) >= 0))
        .collect().map(r =>
          (Option(r.getString(0)), r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getDouble(2)),
            r.getInt(3))).toSet
      (plan, pushed, unp)
    } finally FakeInflux.reads = None
  }

  test("pushed grouped top-k ≡ unpushed Window for random populations, " +
    "k and direction (property)") {
    val gen = for {
      ss <- samplesGen
      k <- Gen.chooseNum(1, 4)
      asc <- Gen.oneOf(true, false)
    } yield (ss, k, asc)
    val prop = Prop.forAllNoShrink(gen) { case (ss, k, asc) =>
      val (plan, pushed, unp) = run(ss, k, asc)
      plan.contains("PushedGroupTopN") && pushed == unp
    }
    PropCheck.check(prop, minSuccessful = 25, tag = "InfluxGroupTopNPropSpec#1")
  }
}
