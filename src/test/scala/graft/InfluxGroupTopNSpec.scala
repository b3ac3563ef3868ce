package graft

import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.util.concurrent.ConcurrentLinkedQueue

/** Grouped-TopN narrowing (the injected InfluxGroupTopNRule):
  * `row_number() OVER (PARTITION BY tags['k'] ORDER BY value) <= k` must
  * narrow the scan to per-group Flux top/bottom(n:) + NULL pads while the
  * Window stays in the plan as the exact residual — a lying server
  * changes bytes moved, never results. Transport stubbed as everywhere. */
class InfluxGroupTopNSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L // 2024-01-01T00:00:00Z
  private val day = 86400000L

  // three series (one untagged) with distinct values — tie-free, so the
  // pushed and unpushed row_number selections are deterministic and equal
  private val cannedCsv =
    """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,double,string,string,string
      |#group,false,false,true,true,false,false,true,true,true
      |#default,_result,,,,,,,,
      |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:00:07Z,21.5,value,ha_states,sensor.temp
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:30:00Z,10.0,value,ha_states,sensor.temp
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T01:00:00Z,17.0,value,ha_states,sensor.temp
      |,_result,1,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:10:00Z,55.0,value,ha_states,sensor.hum
      |,_result,1,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T01:20:00Z,60.0,value,ha_states,sensor.hum
      |,_result,2,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T01:40:00Z,7.0,value,ha_states,
      |""".stripMargin

  private def withTransport[T](csv: String)(body: ConcurrentLinkedQueue[String] => T): T = {
    val seen = new ConcurrentLinkedQueue[String]()
    FakeInflux.reads = Some { flux => seen.add(flux); csv }
    try body(seen) finally FakeInflux.reads = None
  }

  private def bounded(parts: Int = 1) = spark.read.format("influx")
    .option("bucket", "bkt").option("readPartitions", parts.toString).load()
    .filter(col("time_ms") >= t0 && col("time_ms") < t0 + day &&
      col("measurement") === "ha_states")

  private def topPerEntity(df: org.apache.spark.sql.DataFrame, k: Int,
                           asc: Boolean = false) = {
    val ord = if (asc) col("value").asc else col("value").desc
    df.withColumn("rn", row_number().over(
        W.partitionBy(col("tags").getItem("entity_id")).orderBy(ord)))
      .filter(col("rn") <= k)
      .select(col("tags").getItem("entity_id").as("entity"),
        col("value"), col("rn"))
  }

  test("row_number <= k per tags['k'] narrows the scan to per-group " +
    "top(n:) + NULL pads; the residual Window recomputes ranks exactly " +
    "even against a server that dumps everything") {
    withTransport(cannedCsv) { seen =>
      val df = topPerEntity(bounded(), 2)
      df.queryExecution.executedPlan.toString should
        include("PushedGroupTopN=[tag:entity_id value DESC k=2]")
      // the stub answers BOTH programs with the full dump — the residual
      // WindowGroupLimit/Window recompute the exact per-group top-2
      val rows = df.collect()
        .map(r => (Option(r.getString(0)), r.getDouble(1), r.getInt(2))).toSet
      rows shouldBe Set(
        (Some("sensor.temp"), 21.5, 1), (Some("sensor.temp"), 17.0, 2),
        (Some("sensor.hum"), 60.0, 1), (Some("sensor.hum"), 55.0, 2),
        (None, 7.0, 1))
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.count(f => f.contains("top(n: 2") &&
        f.contains("""group(columns: ["entity_id"])""")) shouldBe 1
      // the NULL-value pad pull, also per group
      fluxes.count(f => f.contains("limit(n: 2") &&
        f.contains("not (types.isType")) shouldBe 1
    }
  }

  test("ascending order pushes bottom(n:); rank()==1 'min per sensor' " +
    "equals the unpushed twin") {
    withTransport(cannedCsv) { seen =>
      val pushed = topPerEntity(bounded(), 1, asc = true)
      pushed.queryExecution.executedPlan.toString should
        include("PushedGroupTopN=[tag:entity_id value ASC k=1]")
      val got = pushed.collect()
        .map(r => Option(r.getString(0)) -> r.getDouble(1)).toSet
      got shouldBe Set(Some("sensor.temp") -> 10.0,
        Some("sensor.hum") -> 55.0, None -> 7.0)
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.count(_.contains("bottom(n: 1")) shouldBe 1
      // unpushed twin (untranslatable conjunct under the window declines)
      val unp = topPerEntity(bounded().filter(
        org.apache.spark.sql.functions.length(col("field")) >= 0), 1,
        asc = true)
      unp.queryExecution.executedPlan.toString should
        not include "PushedGroupTopN"
      unp.collect().map(r => Option(r.getString(0)) -> r.getDouble(1))
        .toSet shouldBe got
    }
  }

  test("rank() is NOT claimed (ties past k would be dropped server-side)") {
    withTransport(cannedCsv) { _ =>
      val df = bounded()
        .withColumn("rk", rank().over(
          W.partitionBy(col("tags").getItem("entity_id"))
            .orderBy(col("value").desc)))
        .filter(col("rk") <= 2)
      df.queryExecution.executedPlan.toString should
        not include "PushedGroupTopN"
      df.count() shouldBe 5 // and the unpushed answer still computes
    }
  }

  test("an untranslatable filter under the window declines the push (the " +
    "server would rank the wrong population); one above it does not") {
    withTransport(cannedCsv) { _ =>
      // value > 15 sits UNDER the window → decline
      val below = topPerEntity(bounded().filter(col("value") > 15.0), 1)
      below.queryExecution.executedPlan.toString should
        not include "PushedGroupTopN"
      below.collect().map(r =>
        (Option(r.getString(0)), r.getDouble(1))).toSet shouldBe
        Set((Some("sensor.temp"), 21.5), (Some("sensor.hum"), 60.0))
      // rn <= 2 AND value > 15 applies ABOVE the window → push stands,
      // the extra conjunct filters the recomputed rows client-side
      val above = bounded()
        .withColumn("rn", row_number().over(
          W.partitionBy(col("tags").getItem("entity_id"))
            .orderBy(col("value").desc)))
        .filter(col("rn") <= 2 && col("value") > 18.0)
        .select(col("tags").getItem("entity_id").as("entity"), col("value"))
      above.queryExecution.executedPlan.toString should
        include("PushedGroupTopN=[tag:entity_id value DESC k=2]")
      above.collect().map(r =>
        (Option(r.getString(0)), r.getDouble(1))).toSet shouldBe
        Set((Some("sensor.temp"), 21.5), (Some("sensor.hum"), 60.0),
          (Some("sensor.hum"), 55.0))
    }
  }

  test("isnotnull(tags['k']) beside its equality still pushes (the " +
    "equality implies it), alone it declines") {
    withTransport(cannedCsv) { _ =>
      val both = topPerEntity(bounded()
        .filter(col("tags").getItem("entity_id").isNotNull &&
          col("tags").getItem("entity_id") === "sensor.temp"), 1)
      both.queryExecution.executedPlan.toString should
        include("PushedGroupTopN")
      both.collect().map(r =>
        (Option(r.getString(0)), r.getDouble(1))).toSet shouldBe
        Set((Some("sensor.temp"), 21.5))
      val alone = topPerEntity(bounded()
        .filter(col("tags").getItem("entity_id").isNotNull), 1)
      alone.queryExecution.executedPlan.toString should
        not include "PushedGroupTopN"
      alone.collect().map(r =>
        (Option(r.getString(0)), r.getDouble(1))).toSet shouldBe
        Set((Some("sensor.temp"), 21.5), (Some("sensor.hum"), 60.0))
    }
  }

  test("range shards each pull per-group top-k: the union is a superset " +
    "and the recomputed ranks match the single-shard answer") {
    withTransport(cannedCsv) { seen =>
      val df = topPerEntity(bounded(parts = 4), 1)
      df.queryExecution.executedPlan.toString should
        include("PushedGroupTopN")
      df.collect().map(r =>
        (Option(r.getString(0)), r.getDouble(1))).toSet shouldBe
        Set((Some("sensor.temp"), 21.5), (Some("sensor.hum"), 60.0),
          (None, 7.0))
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.count(_.contains("top(n: 1")) shouldBe 4 // one per shard
    }
  }

  test("same-key tag conjuncts: the narrowed top-k program carries the " +
    "INTERSECTION (never the union — foreign-set rows could displace true " +
    "top-k rows on an honest server); empty intersection declines") {
    withTransport(cannedCsv) { seen =>
      // rows: temp {21.5, 10.0, 17.0}, hum {55.0, 60.0}; group by
      // MEASUREMENT while the filter constrains entity_id — exactly the
      // shape where a union-pushed set would rank hum rows into the
      // per-measurement board that the residual then drops
      def topPerMeas(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("rn", row_number().over(
            W.partitionBy(col("measurement")).orderBy(col("value").desc)))
          .filter(col("rn") <= 2)
          .select(col("measurement"), col("value"), col("rn"))
      val inter = topPerMeas(bounded().filter(
        col("tags").getItem("entity_id") === "sensor.temp" &&
          col("tags").getItem("entity_id")
            .isin("sensor.temp", "sensor.hum")))
      inter.queryExecution.executedPlan.toString should
        include("PushedGroupTopN")
      inter.collect().map(r => (r.getString(0), r.getDouble(1), r.getInt(2)))
        .toSet shouldBe Set(("ha_states", 21.5, 1), ("ha_states", 17.0, 2))
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      val topFlux = fluxes.filter(_.contains("top(n: 2"))
      topFlux should have size 1
      topFlux.head should include("""r["entity_id"] == "sensor.temp"""")
      topFlux.head should not include "contains("
      // contradictory equalities — always-false: the filter rule pushes
      // nothing, so the narrowing declines rather than rank an
      // unconstrained population
      val none = topPerMeas(bounded().filter(
        col("tags").getItem("entity_id") === "sensor.temp" &&
          col("tags").getItem("entity_id") === "sensor.hum"))
      none.queryExecution.executedPlan.toString should
        not include "PushedGroupTopN"
      none.collect() shouldBe empty
    }
  }

  test("a pre-existing pushedTagFilters read option only admits the " +
    "narrowing when it EQUALS the filter's computed intersection") {
    import graft.sources.InfluxTable
    def boundedWithOpt(enc: String) = spark.read.format("influx")
      .option("bucket", "bkt").option("readPartitions", "1")
      .option(InfluxTable.TagFilterOption, enc).load()
      .filter(col("time_ms") >= t0 && col("time_ms") < t0 + day &&
        col("measurement") === "ha_states")
    withTransport(cannedCsv) { _ =>
      // option narrows to sensor.hum while the Filter constrains
      // sensor.temp: InfluxTagFilterRule skips (option already present),
      // the server population would be the hum rows — an honest server's
      // per-group top-k would pre-drop every temp row. Decline.
      val differ = topPerEntity(boundedWithOpt(
        InfluxTable.encodeTagEq(Seq("entity_id" -> Seq("sensor.hum"))))
        .filter(col("tags").getItem("entity_id") === "sensor.temp"), 1)
      differ.queryExecution.executedPlan.toString should
        not include "PushedGroupTopN"
      differ.collect().map(r =>
        (Option(r.getString(0)), r.getDouble(1))).toSet shouldBe
        Set((Some("sensor.temp"), 21.5))
      // option present with NO tag conjuncts in the filter: the carried
      // narrowing has no matching conjunct — decline too
      val noConj = topPerEntity(boundedWithOpt(
        InfluxTable.encodeTagEq(Seq("entity_id" -> Seq("sensor.hum")))), 1)
      noConj.queryExecution.executedPlan.toString should
        not include "PushedGroupTopN"
      // option EQUAL to the computed intersection: the soundness argument
      // holds and the narrowing stands
      val same = topPerEntity(boundedWithOpt(
        InfluxTable.encodeTagEq(Seq("entity_id" -> Seq("sensor.temp"))))
        .filter(col("tags").getItem("entity_id") === "sensor.temp"), 1)
      same.queryExecution.executedPlan.toString should
        include("PushedGroupTopN")
      same.collect().map(r =>
        (Option(r.getString(0)), r.getDouble(1))).toSet shouldBe
        Set((Some("sensor.temp"), 21.5))
    }
  }
}
