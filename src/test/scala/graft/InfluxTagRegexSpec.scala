package graft

import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.util.concurrent.ConcurrentLinkedQueue

/** Regex/prefix tag-predicate pushdown: `tags['k'] LIKE 'sensor.%'` (and
  * the LikeSimplification-derived StartsWith/EndsWith/Contains forms) must
  * reach the server as a Flux `=~ /regex/` filter stage on the raw scan,
  * the rollup translation AND the grouped-TopN population gate — with the
  * regex always SYNTHESIZED (escaped literals + `.*`/`.`/anchors), the
  * subset where Go RE2 and Java regex agree, and the residual/re-check
  * kept so a lying server changes bytes moved, never results. Arbitrary
  * RLIKE is never claimed. */
class InfluxTagRegexSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L // 2024-01-01T00:00:00Z
  private val hour = 3600000L
  private val day = 86400000L

  // sensor.* entities plus a foreign switch.door (highest values — it
  // must never displace sensor rows once the prefix filter pushes) and an
  // untagged row (NULL entity_id: LIKE never matches NULL)
  private val cannedCsv =
    """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,double,string,string,string
      |#group,false,false,true,true,false,false,true,true,true
      |#default,_result,,,,,,,,
      |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:00:07Z,21.5,value,ha_states,sensor.temp
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:30:00Z,10.0,value,ha_states,sensor.temp
      |,_result,1,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:10:00Z,55.0,value,ha_states,sensor.hum
      |,_result,2,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:20:00Z,99.0,value,ha_states,switch.door
      |,_result,3,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:40:00Z,7.0,value,ha_states,
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T01:15:00Z,30.0,value,ha_states,sensor.temp
      |,_result,2,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T01:30:00Z,80.0,value,ha_states,switch.door
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

  test("raw scan: LIKE 'sensor.%' pushes as =~ /^sensor\\./ and a lying " +
    "server (full dump) is corrected by the residual re-check") {
    withTransport(cannedCsv) { seen =>
      val df = bounded()
        .filter(col("tags").getItem("entity_id").like("sensor.%"))
        .select(col("tags").getItem("entity_id").as("e"), col("value"))
      val rows = df.collect().map(r => (r.getString(0), r.getDouble(1))).toSet
      rows shouldBe Set(("sensor.temp", 21.5), ("sensor.temp", 10.0),
        ("sensor.hum", 55.0), ("sensor.temp", 30.0))
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes should have size 1
      fluxes.head should include(
        """filter(fn: (r) => r["entity_id"] =~ /^sensor\./)""")
    }
  }

  test("general LIKE with _ and inner %, and EndsWith/Contains forms, " +
    "synthesize their regexes; RLIKE is never claimed") {
    withTransport(cannedCsv) { seen =>
      // 'sensor_t%p' survives LikeSimplification (it carries a _) →
      // anchored translation with _ → . and % → .*
      def entities(df: org.apache.spark.sql.DataFrame): Set[String] =
        df.select(col("tags").getItem("entity_id").as("e"))
          .collect().map(_.getString(0)).toSet
      entities(bounded().filter(
        col("tags").getItem("entity_id").like("sensor_t%p"))) shouldBe
        Set("sensor.temp")
      val f1 = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      f1.head should include(
        """filter(fn: (r) => r["entity_id"] =~ /(?s)^sensor.t.*p\z/)""")
      // '%door' → EndsWith → suffix regex
      entities(bounded().filter(
        col("tags").getItem("entity_id").like("%door"))) shouldBe
        Set("switch.door")
      val f2 = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      f2.head should include("""r["entity_id"] =~ /door\z/""")
      // '%nso%' → Contains → unanchored literal regex
      entities(bounded().filter(
        col("tags").getItem("entity_id").like("%nso%"))) shouldBe
        Set("sensor.temp", "sensor.hum")
      val f3 = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      f3.head should include("""r["entity_id"] =~ /nso/""")
      // RLIKE: arbitrary Java regex — no =~ reaches the program, the
      // filter runs entirely client-side over the full pull
      bounded().filter(col("tags").getItem("entity_id").rlike("^sensor\\."))
        .collect().length shouldBe 4
      val f4 = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      f4.head should not include "=~"
    }
  }

  test("rollup translation: the hourly count over sensor.* carries the " +
    "regex into the windowed program and re-enforces it on a raw dump") {
    withTransport(cannedCsv) { seen =>
      val df = bounded()
        .filter(col("tags").getItem("entity_id").like("sensor.%"))
        .groupBy(expr("time_ms div 3600000").as("h"))
        .agg(count(lit(1)).as("n"))
      df.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      // server dumps everything (switch.door and the untagged row
      // included): local re-bucketing applies the regex per sample
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
        Map((t0 / hour) -> 3L, (t0 / hour + 1) -> 1L)
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes should have size 1
      fluxes.head should include(
        """filter(fn: (r) => r["entity_id"] =~ /^sensor\./)""")
      // the count branch groups by the filtered tag so trusted responses
      // name their entity (the regex trust check below needs the cell)
      fluxes.head should include("""group(columns: ["entity_id"])""")
    }
  }

  test("rollup trust check: a TRUSTED windowed count whose groups include " +
    "a foreign entity drops that group via the regex check — the filter " +
    "is enforced client-side even on aggregate-shaped responses") {
    val groupedCount =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,long,string
        |#group,false,false,true,true,false,true
        |#default,_result,,,,,
        |,result,table,_start,_stop,_value,entity_id
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z,3,sensor.temp
        |,_result,1,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z,5,switch.door
        |,_result,2,2024-01-01T01:00:00Z,2024-01-01T02:00:00Z,2,sensor.hum
        |""".stripMargin
    withTransport(groupedCount) { _ =>
      val rows = bounded()
        .filter(col("tags").getItem("entity_id").like("sensor.%"))
        .groupBy(expr("time_ms div 3600000").as("h"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // switch.door's 5 never lands; the sensor groups fold per bucket
      rows shouldBe Map((t0 / hour) -> 3L, (t0 / hour + 1) -> 2L)
    }
  }

  test("grouped TopN: the per-measurement board over sensor.* pushes BOTH " +
    "the narrowing and the regex — foreign high values never displace, " +
    "and results equal the unpushed twin against a lying server") {
    def board(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("rn", row_number().over(
          W.partitionBy(col("measurement")).orderBy(col("value").desc)))
        .filter(col("rn") <= 2)
        .select(col("measurement"), col("value"), col("rn"))
    withTransport(cannedCsv) { seen =>
      val pushed = board(bounded().filter(
        col("tags").getItem("entity_id").isNotNull &&
          col("tags").getItem("entity_id").like("sensor.%")))
      pushed.queryExecution.executedPlan.toString should
        include("PushedGroupTopN=[measurement value DESC k=2]")
      val got = pushed.collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getInt(2))).toSet
      // switch.door's 99.0/80.0 are outside the pushed population and the
      // residual drops them from the lying dump too
      got shouldBe Set(("ha_states", 55.0, 1), ("ha_states", 30.0, 2))
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      val topFlux = fluxes.filter(_.contains("top(n: 2"))
      topFlux should have size 1
      topFlux.head should include("""r["entity_id"] =~ /^sensor\./""")
      // unpushed twin (untranslatable conjunct declines the narrowing)
      val unp = board(bounded().filter(
        col("tags").getItem("entity_id").like("sensor.%") &&
          org.apache.spark.sql.functions.length(col("field")) >= 0))
      unp.queryExecution.executedPlan.toString should
        not include "PushedGroupTopN"
      unp.collect().map(r =>
        (r.getString(0), r.getDouble(1), r.getInt(2))).toSet shouldBe got
    }
  }

  test("measurement/field prefix-family filters narrow the raw scan " +
    "through the DSv2 filter contract (residual kept — lying server " +
    "corrected), while an un-simplifiable LIKE stays client-side") {
    withTransport(cannedCsv) { seen =>
      // measurement LIKE 'ha%' → StringStartsWith → Flux =~ /^ha/
      val pre = spark.read.format("influx")
        .option("bucket", "bkt").option("readPartitions", "1").load()
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + day &&
          col("measurement").like("ha%"))
      pre.count() shouldBe 7 // full dump; residual keeps all ha_states rows
      val f1 = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      f1 should have size 1
      f1.head should include("""r["_measurement"] =~ /^ha/""")
      // field LIKE '%lue' → StringEndsWith → Flux =~ /lue\z/
      val suf = spark.read.format("influx")
        .option("bucket", "bkt").option("readPartitions", "1").load()
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + day &&
          col("field").like("%lue"))
      suf.count() shouldBe 7
      val f2 = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      f2.head should include("""r["_field"] =~ /lue\z/""")
      // 'ha_states' with a real _ wildcard stays Like → untranslatable to
      // a source filter → plain pull, no =~ stage, residual answers
      val wild = spark.read.format("influx")
        .option("bucket", "bkt").option("readPartitions", "1").load()
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + day &&
          col("measurement").like("ha_st_tes"))
      wild.count() shouldBe 7
      val f3 = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      f3.head should not include "=~"
      // and a non-matching pushed prefix still answers exactly (the stub
      // dumps everything; the residual drops every row)
      val none = spark.read.format("influx")
        .option("bucket", "bkt").option("readPartitions", "1").load()
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + day &&
          col("measurement").like("zz%"))
      none.count() shouldBe 0
    }
  }

  test("the rollup READ MODE honors rollup.tagRegex: the windowed program " +
    "carries =~ and a raw dump re-enforces the regex per sample") {
    withTransport(cannedCsv) { seen =>
      val opts = Map("bucket" -> "bkt", "readPartitions" -> "1",
        "rollup.everyMs" -> hour.toString,
        "rollup.aggs" -> "count",
        "rollup.group" -> "tag:entity_id",
        "rollup.measurement" -> "ha_states",
        "rollup.startMs" -> t0.toString,
        "rollup.stopMs" -> (t0 + 2 * hour).toString,
        "rollup.tagRegex" -> graft.sources.InfluxTable.encodeTagRegex(
          Seq("entity_id" -> "^sensor\\.")))
      val spec = graft.sources.InfluxRollupRead.fromOptions(
        scala.jdk.CollectionConverters.MapHasAsJava(opts).asJava).get
      val partials = opts.foldLeft(spark.read.format("influx")) {
        case (r, (k, v)) => r.option(k, v)
      }.load()
      val rows = graft.sources.InfluxRollupRead.finalMerge(partials, spec)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      rows shouldBe Map(
        ("sensor.temp", t0) -> 2L, ("sensor.hum", t0) -> 1L,
        ("sensor.temp", t0 + hour) -> 1L)
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes should have size 1
      fluxes.head should include(
        """filter(fn: (r) => r["entity_id"] =~ /^sensor\./)""")
      fluxes.head should include("window(every: 3600000ms)")
    }
  }

  test("the pushes fire from SQL text too: a spark.sql LIKE + " +
    "count(distinct) query claims both the regex and the distinct rung") {
    withTransport(cannedCsv) { seen =>
      spark.read.format("influx").option("bucket", "bkt")
        .option("readPartitions", "1").load()
        .createOrReplaceTempView("influx_sql")
      val df = spark.sql(
        s"""SELECT time_ms div 3600000 AS h,
           |  count(distinct tags['entity_id']) AS nd
           |FROM influx_sql
           |WHERE time_ms >= $t0 AND time_ms < ${t0 + day}
           |  AND measurement = 'ha_states'
           |  AND tags['entity_id'] LIKE 'sensor.%'
           |GROUP BY 1""".stripMargin)
      df.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
        Map((t0 / hour) -> 2L, (t0 / hour + 1) -> 1L)
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.foreach { f =>
        f should include("""r["entity_id"] =~ /^sensor\./""")
        f should include("""group(columns: ["entity_id"])""")
      }
    }
  }

  test("grouped TopN declines on RLIKE (a regex dialect the push cannot " +
    "prove safe would mis-rank the population on an honest server)") {
    withTransport(cannedCsv) { _ =>
      val df = bounded()
        .filter(col("tags").getItem("entity_id").rlike("^sensor\\."))
        .withColumn("rn", row_number().over(
          W.partitionBy(col("measurement")).orderBy(col("value").desc)))
        .filter(col("rn") <= 2)
        .select(col("value"))
      df.queryExecution.executedPlan.toString should
        not include "PushedGroupTopN"
      df.collect().map(_.getDouble(0)).toSet shouldBe Set(55.0, 30.0)
    }
  }
}
