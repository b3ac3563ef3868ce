package graft

import graft.sources.{FluxCsv, InfluxScan}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.util.concurrent.ConcurrentLinkedQueue

/** S2 DSv2 read path: Flux pushdown, partitioned range reads, annotated-CSV
  * decode. Transport is stubbed (Flux string → canned CSV) via the same
  * executor-local hook pattern the write path uses. */
class InfluxReadSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L // 2024-01-01T00:00:00Z
  private val day = 86400000L

  private val cannedCsv =
    """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,double,string,string,string
      |#group,false,false,true,true,false,false,true,true,true
      |#default,_result,,,,,,,,
      |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:00:07Z,21.5,value,ha_states,sensor.temp
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T01:00:07Z,22.5,value,ha_states,sensor.temp
      |""".stripMargin

  private def withTransport[T](csv: String)(body: ConcurrentLinkedQueue[String] => T): T = {
    val seen = new ConcurrentLinkedQueue[String]()
    FakeInflux.reads = Some { flux => seen.add(flux); csv }
    try body(seen) finally FakeInflux.reads = None
  }

  private def influx(parts: Int) = spark.read.format("influx")
    .option("bucket", "bkt").option("readPartitions", parts.toString).load()

  test("time and measurement predicates are pushed into the Flux range/filter") {
    withTransport(cannedCsv) { seen =>
      val rows = influx(1)
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + day &&
          col("measurement") === "ha_states")
        .collect()
      rows.length shouldBe 2
      seen.size shouldBe 1
      val flux = seen.poll()
      flux should include(
        "range(start: 2024-01-01T00:00:00Z, stop: 2024-01-02T00:00:00Z)")
      flux should include("""r["_measurement"] == "ha_states"""")
    }
  }

  test("decoded samples carry measurement, field, value, time_ms, and tags") {
    withTransport(cannedCsv) { _ =>
      val r = influx(1).filter(col("time_ms") >= t0)
        .orderBy("time_ms").collect().head
      r.getAs[String]("measurement") shouldBe "ha_states"
      r.getAs[String]("field") shouldBe "value"
      r.getAs[Double]("value") shouldBe 21.5
      r.getAs[Long]("time_ms") shouldBe t0 + 7000L
      r.getAs[Map[String, String]]("tags") shouldBe Map("entity_id" -> "sensor.temp")
    }
  }

  test("a bounded range splits into disjoint adjacent per-partition ranges") {
    withTransport(cannedCsv) { seen =>
      influx(3)
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + 3 * day)
        .collect()
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.length shouldBe 3
      val ranges = fluxes.map { f =>
        val m = """range\(start: ([^,]+), stop: ([^)]+)\)""".r
          .findFirstMatchIn(f).get
        (m.group(1), m.group(2))
      }.sorted
      ranges.head._1 shouldBe "2024-01-01T00:00:00Z"
      ranges.last._2 shouldBe "2024-01-04T00:00:00Z"
      // adjacency: each partition stops where the next starts
      ranges.zip(ranges.tail).foreach { case (a, b) => a._2 shouldBe b._1 }
    }
  }

  test("the reader re-enforces pushed bounds even if the server ignores them") {
    withTransport(cannedCsv) { _ =>
      // canned CSV has rows at 00:00:07 and 01:00:07 and the stub ignores
      // the Flux body — a stand-in for a server with surprising boundary
      // behavior. The pushed predicates are fully claimed (no Spark
      // residual), so the PARTITION READER must drop the second row itself
      influx(1).filter(col("time_ms") >= t0 && col("time_ms") < t0 + 3600000L)
        .count() shouldBe 1L
    }
  }

  test("column pruning: a narrow projection still decodes correctly") {
    withTransport(cannedCsv) { _ =>
      val out = influx(1).filter(col("time_ms") >= t0)
        .select("time_ms", "value").orderBy("time_ms")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      out shouldBe Array((t0 + 7000L, 21.5), (t0 + 3607000L, 22.5))
    }
  }

  test("contradictory time predicates yield zero rows without a Flux POST") {
    withTransport(cannedCsv) { seen =>
      influx(1).filter(col("time_ms") >= t0 && col("time_ms") < t0)
        .count() shouldBe 0L
      seen.isEmpty shouldBe true // empty range never reaches the server
    }
  }

  test("pushed string literals are escaped into valid Flux") {
    withTransport(cannedCsv) { seen =>
      influx(1).filter(col("measurement") === """he said "hi" \once""")
        .collect()
      seen.poll() should include(
        """r["_measurement"] == "he said \"hi\" \\once"""")
    }
  }

  test("quoted CSV cells keep embedded commas and doubled quotes") {
    // § stands in for '"' (doubled quotes inside Scala triple-quotes
    // would terminate the literal)
    val csv =
      """#group,false,false,false,false,true,true,true
        |,result,table,_time,_value,_field,_measurement,location
        |,_result,0,2024-01-01T00:00:07Z,1.5,value,ha_states,§Room 1, §§North§§§
        |""".stripMargin.replace('§', '"')
    val s = InfluxScan.parseSamples(FluxCsv(csv)).toSeq
    s.length shouldBe 1
    s.head.tags shouldBe Map("location" -> "Room 1, \"North\"")
    s.head.value shouldBe Some(1.5)
  }

  /** Influx's report of an error that happens after streaming has begun:
    * an error table inside the HTTP 200 body. */
  private val errorTable =
    """#datatype,string,string
      |#group,true,true
      |#default,,
      |,error,reference
      |,"panic: runtime error, index out of range",897
      |""".stripMargin

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("a Flux error table after the first data table fails the read " +
    "instead of returning the rows before it as the whole answer") {
    withTransport(cannedCsv + "\n" + errorTable) { _ =>
      val e = intercept[Exception](influx(1).filter(col("time_ms") >= t0).collect())
      messages(e) should include("error table: panic: runtime error, index out of range")
      messages(e) should include("(reference: 897)")
    }
  }

  /** The ungrouped count contract: the grouped parser under the empty
    * key, summed across tables. */
  private def ungroupedCount(csv: String): Option[Long] =
    InfluxScan.parseGroupedCounts(FluxCsv(csv), Nil).map(_.values.sum)

  test("an ungrouped count on an error table throws, never a trusted zero") {
    val e = intercept[RuntimeException](ungroupedCount(errorTable))
    e.getMessage should include("panic: runtime error, index out of range")
  }

  test("a last-column tag value keeps its trailing space (Influx quotes a " +
    "leading space, never a trailing one)") {
    val csv = cannedCsv.stripSuffix("sensor.temp\n") + "Kitchen \n"
    InfluxScan.parseSamples(FluxCsv(csv)).map(_.tags).toSeq shouldBe
      Seq(Map("entity_id" -> "sensor.temp"), Map("entity_id" -> "Kitchen "))
  }

  test("orderBy(time_ms).limit(1) derives the reference watermark Flux " +
    "(sort + limit pushed to the server)") {
    withTransport(cannedCsv) { seen =>
      val oldest = influx(1).filter(col("time_ms") >= t0)
        .orderBy(col("time_ms")).limit(1).collect()
      oldest.map(_.getAs[Long]("time_ms")) shouldBe Array(t0 + 7000L)
      val flux = seen.poll()
      flux should include("""sort(columns: ["_time"], desc: false)""")
      flux should include("limit(n: 1)")
    }
  }

  test("bare LIMIT pushes per-partition; a sort on an unpushable column " +
    "does not push") {
    withTransport(cannedCsv) { seen =>
      influx(1).limit(5).collect()
      seen.poll() should include("limit(n: 5)")
    }
    withTransport(cannedCsv) { seen =>
      // only single-key time_ms/value sorts push; measurement does not
      influx(1).filter(col("time_ms") >= t0)
        .orderBy(col("measurement")).limit(1).collect()
      val flux = seen.poll()
      flux should not include "sort(columns:"
      flux should not include "top("
    }
  }

  // four numeric samples (with a tie at 22.5) and one string sample —
  // the population a value-ranked TopN must handle: ties, and the
  // NULL-value row the raw scan surfaces for the string sample
  private val mixedValuesCsv =
    """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,string,string,string,string
      |#group,false,false,true,true,false,false,true,true,true
      |#default,_result,,,,,,,,
      |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:00:07Z,10.0,value,ha_states,sensor.a
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:10:00Z,22.5,value,ha_states,sensor.a
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:20:00Z,22.5,value,ha_states,sensor.b
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:30:00Z,30.0,value,ha_states,sensor.b
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:40:00Z,on,value,ha_states,sensor.c
      |""".stripMargin

  private def valueTopN(desc: Boolean, k: Int) = {
    val df = influx(1).filter(col("time_ms") >= t0 && col("time_ms") < t0 + day)
    (if (desc) df.orderBy(col("value").desc) else df.orderBy(col("value")))
      .limit(k)
  }

  private def valuesOf(df: org.apache.spark.sql.DataFrame): Seq[Option[Double]] =
    df.collect().toSeq.map(r =>
      if (r.isNullAt(r.fieldIndex("value"))) None
      else Some(r.getAs[Double]("value")))

  test("ORDER BY value DESC LIMIT k pushes as Flux top(n:) plus the " +
    "NULL-pad pull — the tie at 22.5 and the plan marker included") {
    withTransport(mixedValuesCsv) { seen =>
      val df = valueTopN(desc = true, k = 3)
      valuesOf(df) shouldBe Seq(Some(30.0), Some(22.5), Some(22.5))
      df.queryExecution.executedPlan.toString should
        include("PushedTopN=[value DESC limit=3]")
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.count(_.contains("""top(n: 3, columns: ["_value"])""")) shouldBe 1
      // the pad program pulls ONLY non-numeric samples, capped at k
      fluxes.count(f => f.contains("not (types.isType") &&
        f.contains("limit(n: 3)")) shouldBe 1
      // the numeric program filters to numeric types before top()
      fluxes.filter(_.contains("top(")).head should
        include("""types.isType(v: r._value, type: "float")""")
    }
  }

  test("ORDER BY value ASC pushes as Flux bottom(n:); the default " +
    "NULLS FIRST answer comes from the pad pull") {
    withTransport(mixedValuesCsv) { seen =>
      // Spark's default asc = NULLS FIRST: the string sample's NULL row
      // leads, then the smallest numeric
      valuesOf(valueTopN(desc = false, k = 2)) shouldBe
        Seq(None, Some(10.0))
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.count(_.contains("""bottom(n: 2, columns: ["_value"])""")) shouldBe 1
    }
  }

  test("value TopN ≡ the unpushed ordering for every (direction, null " +
    "ordering) over the mixed population") {
    withTransport(mixedValuesCsv) { _ =>
      val base = influx(1)
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + day)
      // the residual value predicate declines every push (keeps all rows)
      val unpushed = influx(1)
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + day)
        .filter(col("value") > -1e18 || col("value").isNull)
      unpushed.queryExecution.executedPlan.toString should
        not include "PushedTopN"
      val orders = Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
        _.desc, _.asc, _.desc_nulls_first, _.asc_nulls_last)
      for (ord <- orders; k <- Seq(1, 2, 4, 10)) {
        valuesOf(base.orderBy(ord(col("value"))).limit(k)) shouldBe
          valuesOf(unpushed.orderBy(ord(col("value"))).limit(k))
      }
    }
  }

  test("a server that honors top()/the pad pull answers each program " +
    "with its own rows; a server that dumps everything to both programs " +
    "yields no duplicates (population re-check)") {
    // honoring server: k numeric rows for the top() program, the string
    // row for the pad program
    val topCsv =
      """#group,false,false,false,false,true,true,true
        |,result,table,_time,_value,_field,_measurement,entity_id
        |,_result,0,2024-01-01T00:30:00Z,30.0,value,ha_states,sensor.b
        |,_result,0,2024-01-01T00:10:00Z,22.5,value,ha_states,sensor.a
        |""".stripMargin
    val padCsv =
      """#group,false,false,false,false,true,true,true
        |,result,table,_time,_value,_field,_measurement,entity_id
        |,_result,0,2024-01-01T00:40:00Z,on,value,ha_states,sensor.c
        |""".stripMargin
    FakeInflux.reads = Some { flux =>
      if (flux.contains("top(")) topCsv
      else if (flux.contains("not (types.isType")) padCsv
      else fail(s"unexpected program: $flux")
    }
    try {
      valuesOf(valueTopN(desc = true, k = 2)) shouldBe
        Seq(Some(30.0), Some(22.5))
    } finally FakeInflux.reads = None
    // lying server: the SAME full dump to both programs — each program's
    // population re-check keeps only its own rows, so k larger than the
    // table returns every sample exactly once
    withTransport(mixedValuesCsv) { _ =>
      val all = valuesOf(valueTopN(desc = true, k = 10))
      all.size shouldBe 5
      all.count(_.isEmpty) shouldBe 1 // the string sample, once
      all.flatten.sorted shouldBe Seq(10.0, 22.5, 22.5, 30.0)
    }
  }

  test("agg(min(time_ms)) pushes as a server-side Flux sort+limit — the " +
    "declarative watermark never pulls raw samples") {
    withTransport(cannedCsv) { seen =>
      val df = influx(1).filter(col("time_ms") >= t0)
        .agg(min("time_ms").as("wm"))
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
      ) should include("PushedAggregates=[AggMinTime]")
      df.collect().head.getLong(0) shouldBe t0 + 7000L
      val flux = seen.poll()
      flux should include("""sort(columns: ["_time"], desc: false)""")
      flux should include("limit(n: 1)")
    }
  }

  test("agg(max(value), count(*)) pushes; count runs as Flux count() and " +
    "falls back to local counting when the response is raw samples") {
    withTransport(cannedCsv) { seen =>
      val df = influx(1).filter(col("time_ms") >= t0)
        .agg(max("value").as("mx"), count(lit(1)).as("n"))
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
      ) should include("PushedAggregates=[AggMaxValue, AggCountStar]")
      val r = df.collect().head
      r.getDouble(0) shouldBe 22.5
      r.getLong(1) shouldBe 2L // stub returns raw samples → counted locally
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      val valueSort = fluxes.find(f =>
        f.contains("""sort(columns: ["_value"], desc: true)"""))
      valueSort.isDefined shouldBe true
      // value sorts must be type-stable: a bucket holding string fields
      // would otherwise error at group() or let a string row win the sort
      valueSort.get should include("import \"types\"")
      valueSort.get should include("""types.isType(v: r._value, type: "float")""")
      valueSort.get should include("toFloat()")
      val countFlux = fluxes.find(_.contains("""count(column: "_time")"""))
      countFlux.isDefined shouldBe true
      // count never touches `_value` (type-collision hygiene) and renames
      // the counted slot back to `_value` — the column every parser reads
      countFlux.get should include(
        """keep(columns: ["_time", "_measurement", "_field"])""")
      countFlux.get should include("""rename(columns: {_time: "_value"})""")
    }
  }

  test("agg(sum(value), avg(value), count(value)) pushes as the " +
    "numeric-filtered Flux sum/count partials") {
    withTransport(cannedCsv) { seen =>
      val df = influx(1).filter(col("time_ms") >= t0)
        .agg(sum("value").as("s"), avg("value").as("a"),
          count(col("value")).as("nv"))
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      plan should include("AggSumValue")
      plan should include("AggCountValue")
      val r = df.collect().head
      // stub returns raw samples → local fallback over re-enforced rows
      r.getDouble(0) shouldBe 44.0 // 21.5 + 22.5
      r.getDouble(1) shouldBe 22.0
      r.getLong(2) shouldBe 2L
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      val sumFlux = fluxes.find(_.contains("""sum(column: "_value")"""))
      sumFlux.isDefined shouldBe true
      // numeric hygiene: only float/int/uint samples survive to the sum
      sumFlux.get should include("""types.isType(v: r._value, type: "float")""")
      sumFlux.get should include("toFloat()")
      fluxes.exists(_.contains("""count(column: "_value")""")) shouldBe true
    }
  }

  test("a multi-aggregate flat push rides ONE fused POST per shard, and " +
    "a trusted marker-stamped response answers without samples") {
    withTransport(cannedCsv) { seen =>
      influx(1).filter(col("time_ms") >= t0)
        .agg(max("value").as("mx"), count(lit(1)).as("n"),
          sum("value").as("s"))
        .collect()
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      // three specs, one program: the branches union over one source read
      fluxes.size shouldBe 1
      fluxes.head should include("union(tables: [b0, b1, b2])")
    }
    // branch 0 = max-value sample pull, 1 = count table, 2 = sum table
    val marked =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,double,string,string,string
        |#group,false,false,true,true,false,false,true,true,false
        |#default,_result,,,,,,,,
        |,result,table,_start,_stop,_time,_value,_field,_measurement,_graft_agg
        |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:00:07Z,99.5,value,ha_states,0
        |
        |#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,long,string
        |#group,false,false,true,true,false,false
        |#default,_result,,,,,
        |,result,table,_start,_stop,_value,_graft_agg
        |,_result,1,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,7,1
        |,_result,2,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,131.5,2
        |""".stripMargin
    withTransport(marked) { seen =>
      val r = influx(1).filter(col("time_ms") >= t0)
        .agg(max("value").as("mx"), count(lit(1)).as("n"),
          sum("value").as("s"))
        .collect().head
      (r.getDouble(0), r.getLong(1), r.getDouble(2)) shouldBe
        ((99.5, 7L, 131.5))
      Iterator.continually(seen.poll()).takeWhile(_ != null).size shouldBe 1
    }
  }

  test("a raw sample whose value cell reads NaN folds like Spark's own " +
    "min/max (NaN above every number) in the flat push and the rollup") {
    val nanCsv =
      """,result,table,_time,_value,_field,_measurement
        |,_result,0,2024-01-01T00:00:07Z,21.5,value,ha_states
        |,_result,0,2024-01-01T00:00:09Z,NaN,value,ha_states
        |,_result,0,2024-01-01T00:00:11Z,22.5,value,ha_states
        |""".stripMargin
    withTransport(nanCsv) { _ =>
      val base = influx(1).filter(col("time_ms") >= t0 && col("time_ms") < t0 + day)
      // rendered: NaN never equals itself as a boxed double
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.mkString(",")).toSet
      val unpushed = base.filter(org.apache.spark.sql.functions.length(col("field")) >= 0)
      val flat = (d: org.apache.spark.sql.DataFrame) =>
        d.agg(min("value").as("mn"), max("value").as("mx"))
      val rollup = (d: org.apache.spark.sql.DataFrame) =>
        d.groupBy(expr("time_ms div 3600000").as("h"))
          .agg(min("value").as("mn"), max("value").as("mx"))
      flat(base).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
      ) should include("PushedAggregates")
      rollup(base).queryExecution.optimizedPlan.toString should include(
        "InfluxBucketRollup")
      rows(flat(unpushed)) shouldBe Set("21.5,NaN")
      rows(flat(base)) shouldBe rows(flat(unpushed))
      rows(rollup(base)) shouldBe rows(rollup(unpushed))
    }
  }

  test("partial aggregate push: per-partition partials merge to the global " +
    "answer across range shards") {
    withTransport(cannedCsv) { _ =>
      // 3 partitions each re-enforce their disjoint sub-range over the
      // same stubbed response, so every sample lands in exactly one
      // partial and the merged count/min stay exact
      val r = influx(3)
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + 3 * day)
        .agg(count(lit(1)).as("n"), min("time_ms").as("mn")).collect().head
      r.getLong(0) shouldBe 2L
      r.getLong(1) shouldBe t0 + 7000L
    }
  }

  private val twoMeasurementCsv = cannedCsv + "\n" +
    """#datatype,string,long,dateTime:RFC3339,double,string,string
      |#group,false,false,false,false,true,true
      |#default,_result,,,,,
      |,result,table,_time,_value,_field,_measurement
      |,_result,1,2024-01-01T02:00:00Z,7.25,power,ha_meter
      |,_result,1,2024-01-01T03:00:00Z,8.25,power,ha_meter
      |,_result,1,2024-01-01T04:00:00Z,6.25,power,ha_meter
      |""".stripMargin

  test("GROUP BY measurement pushes: Flux groups per measurement and the " +
    "per-group partials merge to exact grouped answers") {
    withTransport(twoMeasurementCsv) { seen =>
      val df = influx(1).filter(col("time_ms") >= t0)
        .groupBy("measurement")
        .agg(count(lit(1)).as("n"), min("time_ms").as("mn"),
          max("value").as("mx"))
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      plan should include("PushedAggregates=[AggCountStar, AggMinTime, AggMaxValue]")
      plan should include("PushedGroupBy=[measurement]")
      df.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(_._1) shouldBe Array(
        ("ha_meter", 3L, t0 + 2 * 3600000L, 8.25),
        ("ha_states", 2L, t0 + 7000L, 22.5))
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.foreach(_ should include("""group(columns: ["_measurement"])"""))
    }
  }

  test("grouped DISTINCT (no aggregate functions) does NOT claim the push") {
    withTransport(twoMeasurementCsv) { _ =>
      val df = influx(1).filter(col("time_ms") >= t0)
        .select("measurement").distinct()
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
      ) should not include "PushedAggregates"
      df.collect().map(_.getString(0)).sorted shouldBe
        Array("ha_meter", "ha_states")
    }
  }

  test("GROUP BY on a tag never reaches the V2 aggregate contract (map " +
    "extractions aren't attributes) — the preCBO rollup rule serves it " +
    "instead, so the flat per-sensor count still never pulls raw samples") {
    withTransport(cannedCsv) { _ =>
      val df = influx(1).filter(col("time_ms") >= t0)
        .groupBy(col("tags")("entity_id").as("ent"))
        .agg(count(lit(1)).as("n"))
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      plan should not include "PushedAggregates" // the V2 contract declined
      plan should include("InfluxBucketRollup")  // the rule claimed it
      df.collect().map(r => (r.getString(0), r.getLong(1))) shouldBe
        Array(("sensor.temp", 2L))
    }
  }

  test("grouped partials merge across range shards (3 partitions, " +
    "2 measurements)") {
    withTransport(twoMeasurementCsv) { _ =>
      val out = influx(3)
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + 3 * day)
        .groupBy("measurement", "field").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1)
      out shouldBe Array(("ha_meter", "power", 3L), ("ha_states", "value", 2L))
    }
  }

  test("parseGroupedCounts: grouped count CSV parses per key; raw samples " +
    "defer to local counting") {
    val groupedCountCsv =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,long,string
        |#group,false,false,true,true,false,true
        |#default,_result,,,,,
        |,result,table,_start,_stop,_value,_measurement
        |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,7,ha_states
        |,_result,1,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,4,ha_meter
        |""".stripMargin
    InfluxScan.parseGroupedCounts(FluxCsv(groupedCountCsv), Seq("measurement")) shouldBe
      Some(Map(Seq("ha_states") -> 7L, Seq("ha_meter") -> 4L))
    InfluxScan.parseGroupedCounts(FluxCsv(cannedCsv), Seq("measurement")) shouldBe None
  }

  test("contradictory range with pushed aggregates: count 0 / null min, " +
    "no Flux POST") {
    withTransport(cannedCsv) { seen =>
      val r = influx(1)
        .filter(col("time_ms") >= t0 && col("time_ms") < t0)
        .agg(count(lit(1)).as("n"), min("time_ms").as("mn")).collect().head
      r.getLong(0) shouldBe 0L
      r.isNullAt(1) shouldBe true
      seen.isEmpty shouldBe true
    }
  }

  test("ungrouped count: count CSV parses, raw samples defer, per-series " +
    "tables sum") {
    val countCsv =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,long
        |#group,false,false,true,true,false
        |#default,_result,,,,
        |,result,table,_start,_stop,_value
        |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,12345
        |""".stripMargin
    ungroupedCount(countCsv) shouldBe Some(12345L)
    ungroupedCount(cannedCsv) shouldBe None
    ungroupedCount("") shouldBe Some(0L)
    // a server that applied count() per series returns one count table per
    // series key: the counts must SUM across tables, not first-table-wins
    val perSeriesCsv = countCsv + "\n" +
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,long
        |#group,false,false,true,true,false
        |#default,_result,,,,
        |,result,table,_start,_stop,_value
        |,_result,1,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,55
        |""".stripMargin
    ungroupedCount(perSeriesCsv) shouldBe Some(12400L)
  }

  test("a user-specified read schema fails at analysis time on unknown " +
    "columns or type mismatches; a narrowed valid schema reads fine") {
    import org.apache.spark.sql.types._
    withTransport(cannedCsv) { _ =>
      val bad = intercept[Exception] {
        spark.read.format("influx").option("bucket", "bkt")
          .schema(StructType(Seq(StructField("no_such_col", StringType))))
          .load().collect()
      }
      bad.getMessage should include("unknown column 'no_such_col'")
      val badType = intercept[Exception] {
        spark.read.format("influx").option("bucket", "bkt")
          .schema(StructType(Seq(StructField("time_ms", StringType))))
          .load().collect()
      }
      badType.getMessage should include("'time_ms' must be LongType")
      // a valid narrowed schema scans without touching the other columns
      val out = spark.read.format("influx").option("bucket", "bkt")
        .schema(StructType(Seq(StructField("time_ms", LongType),
          StructField("value", DoubleType))))
        .load().filter(col("time_ms") >= t0).orderBy("time_ms")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      out shouldBe Array((t0 + 7000L, 21.5), (t0 + 3607000L, 22.5))
    }
  }

  test("parseSamples: multi-table annotated CSV with per-table headers") {
    val csv = cannedCsv + "\n" +
      """#datatype,string,long,dateTime:RFC3339,double,string,string
        |#group,false,false,false,false,true,true
        |#default,_result,,,,,
        |,result,table,_time,_value,_field,_measurement
        |,_result,1,2024-01-01T02:00:00Z,7.25,power,ha_meter
        |""".stripMargin
    val s = InfluxScan.parseSamples(FluxCsv(csv)).toSeq
    s.length shouldBe 3
    s.last.measurement shouldBe "ha_meter"
    s.last.tags shouldBe empty
    s.last.value shouldBe Some(7.25)
  }

  test("a tags['k'] equality filter narrows the RAW scan's Flux program " +
    "while the residual Filter keeps correctness against a lying server") {
    val mixedEntities =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,double,string,string,string
        |#group,false,false,true,true,false,false,true,true,true
        |#default,_result,,,,,,,,
        |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
        |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:00:07Z,21.5,value,ha_states,sensor.temp
        |,_result,1,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:10:00Z,55.0,value,ha_states,sensor.hum
        |,_result,2,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:20:00Z,7.0,value,ha_states,
        |""".stripMargin
    withTransport(mixedEntities) { seen =>
      // the response contains a foreign series and an untagged row — a
      // server that ignored the pushed narrowing; the kept Filter drops
      // them in Spark
      val rows = influx(1)
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + day &&
          col("tags").getItem("entity_id") === "sensor.temp")
        .collect()
      rows.length shouldBe 1
      rows.head.getAs[Double]("value") shouldBe 21.5
      val flux = seen.poll()
      flux should include(
        """filter(fn: (r) => r["entity_id"] == "sensor.temp")""")
    }
  }

  test("the tag-filter option encoding round-trips sets: repeated keys " +
    "carry IN value lists, URL-escaping survives & and =") {
    val eqs = Seq("room" -> Seq("a b", "c&d=e"), "floor" -> Seq("1"))
    graft.sources.InfluxTable.decodeTagEq(
      graft.sources.InfluxTable.encodeTagEq(eqs)) shouldBe eqs
  }

  test("a tags['k'] IN (v1, v2) filter narrows the RAW scan via Flux " +
    "contains() — and OR-of-equalities rides the same push") {
    val mixedEntities =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,double,string,string,string
        |#group,false,false,true,true,false,false,true,true,true
        |#default,_result,,,,,,,,
        |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
        |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:00:07Z,21.5,value,ha_states,sensor.temp
        |,_result,1,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:10:00Z,55.0,value,ha_states,sensor.hum
        |,_result,2,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:15:00Z,3.0,value,ha_states,sensor.co2
        |,_result,3,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:20:00Z,7.0,value,ha_states,
        |""".stripMargin
    withTransport(mixedEntities) { seen =>
      // the stub returns a foreign series and an untagged row too — the
      // kept residual Filter drops them whatever the server did
      def run(df: org.apache.spark.sql.DataFrame): Set[Double] =
        df.collect().map(_.getAs[Double]("value")).toSet
      val in = influx(1)
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + day &&
          col("tags").getItem("entity_id").isin("sensor.temp", "sensor.hum"))
      run(in) shouldBe Set(21.5, 55.0)
      val fluxIn = seen.poll()
      fluxIn should include("contains(value: r[\"entity_id\"], " +
        "set: [\"sensor.temp\", \"sensor.hum\"])")
      // OR of equalities on one key pushes the same set
      val or = influx(1)
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + day &&
          (col("tags").getItem("entity_id") === "sensor.temp" ||
            col("tags").getItem("entity_id") === "sensor.hum"))
      run(or) shouldBe Set(21.5, 55.0)
      Iterator.continually(seen.poll()).takeWhile(_ != null)
        .exists(_.contains("contains(value: r[\"entity_id\"]")) shouldBe true
      // an OR across DIFFERENT keys is not a per-key set — no narrowing,
      // and the unpushed plan still answers through the residual Filter
      val cross = influx(1)
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + day &&
          (col("tags").getItem("entity_id") === "sensor.temp" ||
            col("tags").getItem("other") === "x"))
      run(cross) shouldBe Set(21.5)
      Iterator.continually(seen.poll()).takeWhile(_ != null)
        .exists(_.contains("contains(")) shouldBe false
    }
  }

  test("same-key tag conjuncts INTERSECT before the push: equality AND IN " +
    "narrows to the intersection; an empty intersection pushes nothing") {
    val twoSeries =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,double,string,string,string
        |#group,false,false,true,true,false,false,true,true,true
        |#default,_result,,,,,,,,
        |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
        |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:00:07Z,21.5,value,ha_states,sensor.temp
        |,_result,1,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:10:00Z,55.0,value,ha_states,sensor.hum
        |""".stripMargin
    withTransport(twoSeries) { seen =>
      // k='temp' AND k IN ('temp','hum') ⇒ intersection {'temp'} — the
      // pushed program must carry the single value, NOT the union set
      // (under the grouped-TopN narrowing a union would let foreign-set
      // rows displace true top-k rows on an HONEST server)
      val both = influx(1)
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + day &&
          col("tags").getItem("entity_id") === "sensor.temp" &&
          col("tags").getItem("entity_id").isin("sensor.temp", "sensor.hum"))
      both.collect().map(_.getAs[Double]("value")).toSet shouldBe Set(21.5)
      val flux = seen.poll()
      flux should include("""r["entity_id"] == "sensor.temp"""")
      flux should not include "contains("
      // 'temp' AND 'hum' ⇒ empty intersection — always-false; nothing is
      // pushed, and the residual Filter answers with the empty result
      val none = influx(1)
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + day &&
          col("tags").getItem("entity_id") === "sensor.temp" &&
          col("tags").getItem("entity_id") === "sensor.hum")
      none.collect() shouldBe empty
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.exists(f => f.contains("contains(") ||
        f.contains("""r["entity_id"] ==""")) shouldBe false
    }
  }
}
