package graft

import graft.sources.InfluxRollupRead
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.util.concurrent.ConcurrentLinkedQueue

/** Pushed Home Assistant COUNTER long-term-statistics reads — the energy
  * dashboard's (state, increase, sum_total) row off the rateOptions spec:
  * per-bucket last reading via max_by over the boundary samples,
  * rateMerge's exact reset-aware increase, and ONE bucket-level cumulative
  * window for HA's `sum` column. Trust posture is the rate read's: a lying
  * server falls back to local ordered folds over re-enforced samples. */
class InfluxCounterStatReadSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L // 2024-01-01T00:00:00Z
  private val hour = 3600000L

  // the rate fixture family: reset-bearing counters over two series + one
  // string sample (invisible — the chain pairs NUMERIC neighbors)
  //   sensor.a: 10 @00:05, 15 @00:20, "on" @00:30, 3 @00:50 (reset),
  //             9 @01:10, 4 @01:40 (reset)
  //   sensor.b: 100 @00:10, 120 @01:30
  private val counterCsv =
    """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,string,string,string,string
      |#group,false,false,true,true,false,false,true,true,true
      |#default,_result,,,,,,,,
      |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
      |,_result,0,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T00:05:00Z,10.0,value,ha_states,sensor.a
      |,_result,0,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T00:20:00Z,15.0,value,ha_states,sensor.a
      |,_result,0,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T00:30:00Z,on,value,ha_states,sensor.a
      |,_result,0,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T00:50:00Z,3.0,value,ha_states,sensor.a
      |,_result,0,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T01:10:00Z,9.0,value,ha_states,sensor.a
      |,_result,0,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T01:40:00Z,4.0,value,ha_states,sensor.a
      |,_result,1,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T00:10:00Z,100.0,value,ha_states,sensor.b
      |,_result,1,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T01:30:00Z,120.0,value,ha_states,sensor.b
      |""".stripMargin

  // (state, increase, sum_total) per (entity, hour-bucket):
  //   a/h0: last numeric reading 3 @00:50; inc (15-10)+reset(3) = 8; cum 8
  //   a/h1: last reading 4 @01:40; inc (9-3)+reset(4) = 10; cum 18
  //   b/h0: last reading 100; inc 0 (first sample); cum 0
  //   b/h1: last reading 120; inc 20; cum 20
  private val expected = Map(
    ("sensor.a", t0) -> ((3.0, 8.0, 8.0)),
    ("sensor.a", t0 + hour) -> ((4.0, 10.0, 18.0)),
    ("sensor.b", t0) -> ((100.0, 0.0, 0.0)),
    ("sensor.b", t0 + hour) -> ((120.0, 20.0, 20.0)))

  private def withTransportFn[T](f: String => String)(
      body: ConcurrentLinkedQueue[String] => T): T = {
    val seen = new ConcurrentLinkedQueue[String]()
    FakeInflux.reads = Some { flux => seen.add(flux); f(flux) }
    try body(seen) finally FakeInflux.reads = None
  }

  private def opts(parts: Int, offsetMs: Long = 0L) =
    InfluxRollupRead.counterStatisticsOptions(hour, Map(
      "bucket" -> "bkt",
      "readPartitions" -> parts.toString,
      "rollup.group" -> "tag:entity_id",
      "rollup.measurement" -> "ha_states",
      "rollup.startMs" -> t0.toString,
      "rollup.stopMs" -> (t0 + 2 * hour).toString), offsetMs)

  private def collect(df: org.apache.spark.sql.DataFrame) =
    df.select(col("entity_id"), col("bucket_start_ms"), col("state"),
        col("increase"), col("sum_total"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap

  test("a lying server (raw dump) folds the counter row locally: last " +
    "reading per bucket, reset-aware increase, cumulative sum_total, " +
    "ONE fused POST") {
    withTransportFn(_ => counterCsv) { seen =>
      collect(InfluxRollupRead.counterStatisticsRead(spark,
        opts(parts = 1))) shouldBe expected
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.size shouldBe 1
      fluxes.head should include("""increase(columns: ["_value"])""")
      fluxes.head should include("window(every: 3600000ms)")
    }
  }

  test("multi-shard stitching: 4 range shards cut buckets and series " +
    "mid-flight; state max_by, stitch, and the cumulative window restore " +
    "the single-shard answer") {
    withTransportFn(_ => counterCsv) { seen =>
      collect(InfluxRollupRead.counterStatisticsRead(spark,
        opts(parts = 4))) shouldBe expected
      Iterator.continually(seen.poll()).takeWhile(_ != null).size shouldBe 4
    }
  }

  test("shifted bucket grid (rollup.offsetMs): buckets are opaque grid " +
    "points to the state/cumulative logic — sharding cannot change the " +
    "shifted answer") {
    val off = 1800000L
    withTransportFn(_ => counterCsv) { _ =>
      val one = collect(InfluxRollupRead.counterStatisticsRead(spark,
        opts(1, off)))
      val four = collect(InfluxRollupRead.counterStatisticsRead(spark,
        opts(4, off)))
      four shouldBe one
      // [23:30,00:30): samples 10,15 → state 15, inc 5, cum 5;
      // [00:30,01:30): 3 (reset), 9 → state 9, inc 3+6=9, cum 14;
      // [01:30,02:30): 4 (reset) → state 4, inc 4, cum 18
      one(("sensor.a", t0 - off)) shouldBe ((15.0, 5.0, 5.0))
      one(("sensor.a", t0 + off)) shouldBe ((9.0, 9.0, 14.0))
      one(("sensor.a", t0 + hour + off)) shouldBe ((4.0, 4.0, 18.0))
    }
  }

  test("pushed ≡ unpushed: the client-side lag() + cumulative twin over " +
    "the raw scan computes the identical counter rows") {
    withTransportFn(_ => counterCsv) { _ =>
      val raw = spark.read.format("influx").option("bucket", "bkt").load()
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + 2 * hour &&
          col("measurement") === "ha_states" && col("value").isNotNull)
      val w = Window.partitionBy(col("tags").getItem("entity_id"))
        .orderBy(col("time_ms").asc)
      val perBucket = raw
        .select(col("tags").getItem("entity_id").as("entity_id"),
          col("time_ms"), col("value"),
          lag(col("value"), 1).over(w).as("pv"))
        .groupBy(col("entity_id"),
          (expr("time_ms div 3600000") * hour).as("bucket_start_ms"))
        .agg(
          sum(when(col("pv").isNull, lit(0.0))
            .otherwise(when(col("value") >= col("pv"),
              col("value") - col("pv")).otherwise(col("value"))))
            .as("increase"),
          max_by(col("value"), col("time_ms")).as("state"))
      val wc = Window.partitionBy(col("entity_id"))
        .orderBy(col("bucket_start_ms").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val twin = perBucket
        .withColumn("sum_total", sum(col("increase")).over(wc))
      val pushed = collect(
        InfluxRollupRead.counterStatisticsRead(spark, opts(2)))
      collect(twin) shouldBe pushed
      pushed shouldBe expected
    }
  }

  test("a lying half-filled boundary pair (time set, value NULL) cannot " +
    "null out the state: the max_by ordering key follows the value slot") {
    import scala.jdk.CollectionConverters._
    val specOpts = InfluxRollupRead.counterStatisticsOptions(hour,
      Map("rollup.startMs" -> t0.toString))
    val spec = InfluxRollupRead.fromOptions(specOpts.asJava).get
    val schema = InfluxRollupRead.schemaOf(spec)
    val rows = Seq(
      // honest segment: increase 5, boundaries (00:01, 10) → (00:02, 15)
      org.apache.spark.sql.Row(t0, 5.0, t0 + 60000L, 10.0,
        t0 + 120000L, 15.0),
      // liar: a LATER last_num_time with a NULL value — must not win
      org.apache.spark.sql.Row(t0, 2.0, t0 + 180000L, null,
        t0 + 540000L, null))
    val partials = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
    val out = InfluxRollupRead.counterStatisticsMerge(partials, spec)
      .collect()
    out.length shouldBe 1
    out.head.getAs[Double]("state") shouldBe 15.0
    // the liar's coalesced increase still lands (boundaryless posture)
    out.head.getAs[Double]("increase") shouldBe 7.0
    out.head.getAs[Double]("sum_total") shouldBe 7.0
  }

  test("energyRange: sum_total differenced at the range endpoints off the " +
    "SAME single POST per shard — resets inside the range absorbed, " +
    "sharding invisible") {
    withTransportFn(_ => counterCsv) { seen =>
      def collectE(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) ->
          ((r.getAs[Double]("energy"), r.getAs[Long]("n_buckets")))).toMap
      // range = [h1, h2): a differences 18 - 8 = 10 (the h1 resets ride
      // the reset-aware sum, NOT the raw readings 4 - 3); b: 20 - 0
      val one = collectE(InfluxRollupRead.energyRange(spark, opts(1),
        t0 + hour, t0 + 2 * hour))
      one shouldBe Map("sensor.a" -> ((10.0, 1L)), "sensor.b" -> ((20.0, 1L)))
      Iterator.continually(seen.poll()).takeWhile(_ != null).size shouldBe 1
      // sharding cannot change the endpoints
      collectE(InfluxRollupRead.energyRange(spark, opts(4),
        t0 + hour, t0 + 2 * hour)) shouldBe one
      // whole-scan range: no pre-range endpoint → baseline 0
      collectE(InfluxRollupRead.energyRange(spark, opts(2),
        t0, t0 + 2 * hour)) shouldBe
        Map("sensor.a" -> ((18.0, 2L)), "sensor.b" -> ((20.0, 2L)))
      // a range with no in-range buckets emits nothing
      InfluxRollupRead.energyRange(spark, opts(1),
        t0 + 2 * hour, t0 + 3 * hour).collect() shouldBe empty
      intercept[IllegalArgumentException] {
        InfluxRollupRead.energyRange(spark, opts(1), t0, t0)
      }.getMessage should include("empty range")
    }
  }

  test("energyBars: the pushed bar series reads the rate partials AT the " +
    "bar grid — one POST per shard at display resolution, bars sum to " +
    "the energyRange total over whole-bar ranges") {
    def extraOpts(parts: Int) = Map(
      "bucket" -> "bkt",
      "readPartitions" -> parts.toString,
      "rollup.group" -> "tag:entity_id",
      "rollup.measurement" -> "ha_states",
      "rollup.startMs" -> t0.toString,
      "rollup.stopMs" -> (t0 + 2 * hour).toString)
    def collectB(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1)) ->
        r.getAs[Double]("energy")).toMap
    withTransportFn(_ => counterCsv) { seen =>
      val bars = collectB(InfluxRollupRead.energyBars(spark, extraOpts(1),
        t0, t0 + 2 * hour, gridMs = hour))
      bars shouldBe Map(
        ("sensor.a", t0) -> 8.0, ("sensor.a", t0 + hour) -> 10.0,
        ("sensor.b", t0) -> 0.0, ("sensor.b", t0 + hour) -> 20.0)
      // ONE POST: the server windows at the bar grid directly
      Iterator.continually(seen.poll()).takeWhile(_ != null).size shouldBe 1
      // sharding invisible; a sub-range keeps only its bars
      collectB(InfluxRollupRead.energyBars(spark, extraOpts(4),
        t0, t0 + 2 * hour, gridMs = hour)) shouldBe bars
      collectB(InfluxRollupRead.energyBars(spark, extraOpts(2),
        t0 + hour, t0 + 2 * hour, gridMs = hour)) shouldBe
        bars.filter(_._1._2 == t0 + hour)
      // whole-bar range: bars sum == energyRange's per-series total
      val totals = InfluxRollupRead.energyRange(spark,
          InfluxRollupRead.counterStatisticsOptions(hour, extraOpts(2)),
          t0, t0 + 2 * hour)
        .collect().map(r => r.getString(0) -> r.getAs[Double]("energy")).toMap
      bars.groupBy(_._1._1).view.mapValues(_.values.sum).toMap shouldBe totals
    }
  }

  test("energyBarsCalendar: the pushed CALENDAR bars window at the fine " +
    "grid server-side (one POST per shard) and regroup client-side onto " +
    "true calendar periods — month lengths differ, zones shift days") {
    // a counter crossing the Dec 2023 → Jan 2024 month boundary:
    //   10 @Dec31 22:05Z, 15 @Dec31 23:20Z, 3 @Jan1 00:50Z (reset),
    //   9 @Jan1 01:10Z
    val dec31 = 1704060000000L // 2023-12-31T22:00:00Z
    val monthCsv =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,string,string,string,string
        |#group,false,false,true,true,false,false,true,true,true
        |#default,_result,,,,,,,,
        |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
        |,_result,0,2023-12-31T22:00:00Z,2024-01-01T02:00:00Z,2023-12-31T22:05:00Z,10.0,value,ha_states,sensor.a
        |,_result,0,2023-12-31T22:00:00Z,2024-01-01T02:00:00Z,2023-12-31T23:20:00Z,15.0,value,ha_states,sensor.a
        |,_result,0,2023-12-31T22:00:00Z,2024-01-01T02:00:00Z,2024-01-01T00:50:00Z,3.0,value,ha_states,sensor.a
        |,_result,0,2023-12-31T22:00:00Z,2024-01-01T02:00:00Z,2024-01-01T01:10:00Z,9.0,value,ha_states,sensor.a
        |""".stripMargin
    def extraOpts(parts: Int) = Map(
      "bucket" -> "bkt",
      "readPartitions" -> parts.toString,
      "rollup.group" -> "tag:entity_id",
      "rollup.measurement" -> "ha_states",
      "rollup.startMs" -> dec31.toString,
      "rollup.stopMs" -> (dec31 + 4 * hour).toString)
    def collectB(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1)) ->
        r.getAs[Double]("energy")).toMap
    val decKey = 1701388800000L // 2023-12-01T00:00:00Z
    val janKey = 1704067200000L // 2024-01-01T00:00:00Z
    withTransportFn(_ => monthCsv) { seen =>
      val bars = collectB(InfluxRollupRead.energyBarsCalendar(spark,
        extraOpts(1), unit = "MONTH", tz = "UTC",
        startMs = decKey, endMs = 1706745600000L))
      // Dec: first sample 0 + (15-10); Jan: reset 3 + (9-3)
      bars shouldBe Map(
        ("sensor.a", decKey) -> 5.0, ("sensor.a", janKey) -> 9.0)
      Iterator.continually(seen.poll()).takeWhile(_ != null).size shouldBe 1
      // sharding invisible; an inherited fixed offset is stripped
      collectB(InfluxRollupRead.energyBarsCalendar(spark,
        extraOpts(3) + ("rollup.offsetMs" -> "1800000"), unit = "MONTH",
        tz = "UTC", startMs = decKey, endMs = 1706745600000L)) shouldBe bars
      // a UTC-5 zone pulls every sample into LOCAL Dec 31: one day bar
      collectB(InfluxRollupRead.energyBarsCalendar(spark,
        extraOpts(1), unit = "DAY", tz = "Etc/GMT+5",
        startMs = decKey, endMs = 1706745600000L)) shouldBe
        Map(("sensor.a", 1703998800000L) -> 14.0)
    }
  }

  test("energyBarsCalendar: a HALF-HOUR-offset zone is exact when the " +
    "server windows at 30 minutes — and hourly windows diverge exactly " +
    "at the local-midnight-straddling bucket (the batch boundary, " +
    "pushed)") {
    // a counter crossing IST local midnight (2024-01-01 00:00 Asia/
    // Kolkata = 2023-12-31T18:30Z): samples at 17:50, 18:10 (IST Dec 31)
    // and 18:40, 19:10 (IST Jan 1)
    val t0 = 1704043800000L // 2023-12-31T17:30:00Z, on the 30-min grid
    val istCsv =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,string,string,string,string
        |#group,false,false,true,true,false,false,true,true,true
        |#default,_result,,,,,,,,
        |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
        |,_result,0,2023-12-31T17:30:00Z,2023-12-31T19:30:00Z,2023-12-31T17:50:00Z,10.0,value,ha_states,sensor.a
        |,_result,0,2023-12-31T17:30:00Z,2023-12-31T19:30:00Z,2023-12-31T18:10:00Z,15.0,value,ha_states,sensor.a
        |,_result,0,2023-12-31T17:30:00Z,2023-12-31T19:30:00Z,2023-12-31T18:40:00Z,18.0,value,ha_states,sensor.a
        |,_result,0,2023-12-31T17:30:00Z,2023-12-31T19:30:00Z,2023-12-31T19:10:00Z,20.0,value,ha_states,sensor.a
        |""".stripMargin
    val opts = Map(
      "bucket" -> "bkt",
      "readPartitions" -> "1",
      "rollup.group" -> "tag:entity_id",
      "rollup.measurement" -> "ha_states",
      "rollup.startMs" -> t0.toString,
      "rollup.stopMs" -> (t0 + 2 * hour).toString)
    def collectB(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1)) ->
        r.getAs[Double]("energy")).toMap
    val dec31Ist = 1703961000000L // 2023-12-31 00:00 IST (Dec 30 18:30Z)
    val jan1Ist = 1704047400000L  // 2024-01-01 00:00 IST (Dec 31 18:30Z)
    withTransportFn(_ => istCsv) { _ =>
      // 30-minute server windows: the IST midnight is a fine boundary —
      // deltas split +5 (18:10, IST Dec 31) / +3 +2 (18:40/19:10, Jan 1)
      collectB(InfluxRollupRead.energyBarsCalendar(spark,
        opts, unit = "DAY", tz = "Asia/Kolkata",
        startMs = dec31Ist, endMs = jan1Ist + 86400000L,
        fineEveryMs = 1800000L)) shouldBe Map(
        ("sensor.a", dec31Ist) -> 5.0, ("sensor.a", jan1Ist) -> 5.0)
      // HOURLY server windows misattribute the 18:40 delta: its bucket
      // STARTS 18:00Z, before the 18:30Z boundary → IST Dec 31
      collectB(InfluxRollupRead.energyBarsCalendar(spark,
        opts, unit = "DAY", tz = "Asia/Kolkata",
        startMs = dec31Ist, endMs = jan1Ist + 86400000L)) shouldBe Map(
        ("sensor.a", dec31Ist) -> 8.0, ("sensor.a", jan1Ist) -> 2.0)
    }
  }

  test("energyBarsCalendar: the MIDNIGHT-GAP zone, pushed — the gap " +
    "day's bar keys at the day's true first instant (the transition " +
    "instant itself) with hourly server windows staying exact") {
    // a counter crossing America/Santiago's 2024-09-08 spring-forward
    // AT local midnight (00:00 -04 → 01:00 -03, both 04:00Z): samples
    // at 03:20/03:50Z (Sep 7 local, 23:20/23:50) and 04:10/05:10Z
    // (Sep 8 local — the gap skipped straight to 01:10)
    val t0 = java.time.Instant.parse("2024-09-08T03:00:00Z").toEpochMilli
    val sclCsv =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,string,string,string,string
        |#group,false,false,true,true,false,false,true,true,true
        |#default,_result,,,,,,,,
        |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
        |,_result,0,2024-09-08T03:00:00Z,2024-09-08T06:00:00Z,2024-09-08T03:20:00Z,10.0,value,ha_states,sensor.a
        |,_result,0,2024-09-08T03:00:00Z,2024-09-08T06:00:00Z,2024-09-08T03:50:00Z,12.0,value,ha_states,sensor.a
        |,_result,0,2024-09-08T03:00:00Z,2024-09-08T06:00:00Z,2024-09-08T04:10:00Z,15.0,value,ha_states,sensor.a
        |,_result,0,2024-09-08T03:00:00Z,2024-09-08T06:00:00Z,2024-09-08T05:10:00Z,20.0,value,ha_states,sensor.a
        |""".stripMargin
    val opts = Map(
      "bucket" -> "bkt",
      "readPartitions" -> "1",
      "rollup.group" -> "tag:entity_id",
      "rollup.measurement" -> "ha_states",
      "rollup.startMs" -> t0.toString,
      "rollup.stopMs" -> (t0 + 3 * hour).toString)
    def collectB(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1)) ->
        r.getAs[Double]("energy")).toMap
    val sep7 = java.time.Instant.parse("2024-09-07T04:00:00Z").toEpochMilli
    val sep8 = java.time.Instant.parse("2024-09-08T04:00:00Z").toEpochMilli
    withTransportFn(_ => sclCsv) { _ =>
      // hourly server windows are exact (Santiago's offsets are whole
      // hours): +2 lands on Sep 7, +3 +5 on the 23-hour gap day, whose
      // key IS the transition instant — the local midnight that does
      // not exist resolves to the day's true first instant, pushed and
      // batch alike
      collectB(InfluxRollupRead.energyBarsCalendar(spark,
        opts, unit = "DAY", tz = "America/Santiago",
        startMs = sep7, endMs = sep8 + 86400000L)) shouldBe Map(
        ("sensor.a", sep7) -> 2.0, ("sensor.a", sep8) -> 8.0)
    }
  }

  test("energyBarsCalendar: the FRACTIONAL-HOUR-DST zone, pushed — " +
    "exact on 30-minute server windows across Lord Howe's 30-minute " +
    "shift; hourly windows misattribute the boundary-straddling bucket") {
    // a counter crossing Australia/Lord_Howe's Oct 6 local midnight
    // (2024-10-05T13:30Z, +10:30): samples at 13:10/13:20Z (Oct 5
    // local) and 13:40/14:40Z (Oct 6 local, the 23.5-hour day)
    val t0 = java.time.Instant.parse("2024-10-05T13:00:00Z").toEpochMilli
    val lhiCsv =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,string,string,string,string
        |#group,false,false,true,true,false,false,true,true,true
        |#default,_result,,,,,,,,
        |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
        |,_result,0,2024-10-05T13:00:00Z,2024-10-05T15:00:00Z,2024-10-05T13:10:00Z,10.0,value,ha_states,sensor.a
        |,_result,0,2024-10-05T13:00:00Z,2024-10-05T15:00:00Z,2024-10-05T13:20:00Z,12.0,value,ha_states,sensor.a
        |,_result,0,2024-10-05T13:00:00Z,2024-10-05T15:00:00Z,2024-10-05T13:40:00Z,15.0,value,ha_states,sensor.a
        |,_result,0,2024-10-05T13:00:00Z,2024-10-05T15:00:00Z,2024-10-05T14:40:00Z,20.0,value,ha_states,sensor.a
        |""".stripMargin
    val opts = Map(
      "bucket" -> "bkt",
      "readPartitions" -> "1",
      "rollup.group" -> "tag:entity_id",
      "rollup.measurement" -> "ha_states",
      "rollup.startMs" -> t0.toString,
      "rollup.stopMs" -> (t0 + 2 * hour).toString)
    def collectB(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1)) ->
        r.getAs[Double]("energy")).toMap
    val oct5 = java.time.Instant.parse("2024-10-04T13:30:00Z").toEpochMilli
    val oct6 = java.time.Instant.parse("2024-10-05T13:30:00Z").toEpochMilli
    withTransportFn(_ => lhiCsv) { _ =>
      // 30-minute server windows: the :30 local midnight is a fine
      // boundary — +2 on Oct 5, +3 +5 on the 23.5-hour day
      collectB(InfluxRollupRead.energyBarsCalendar(spark,
        opts, unit = "DAY", tz = "Australia/Lord_Howe",
        startMs = oct5, endMs = oct6 + 86400000L,
        fineEveryMs = 1800000L)) shouldBe Map(
        ("sensor.a", oct5) -> 2.0, ("sensor.a", oct6) -> 8.0)
      // HOURLY server windows misattribute the 13:40 delta: its bucket
      // STARTS 13:00Z, before the 13:30Z boundary → local Oct 5
      collectB(InfluxRollupRead.energyBarsCalendar(spark,
        opts, unit = "DAY", tz = "Australia/Lord_Howe",
        startMs = oct5, endMs = oct6 + 86400000L)) shouldBe Map(
        ("sensor.a", oct5) -> 5.0, ("sensor.a", oct6) -> 5.0)
    }
  }

  test("energyBarsCalendar: the QUARTER-hour-offset zone, pushed — " +
    "exact on 15-minute server windows across Chatham's :15-UTC local " +
    "midnight; even 30-minute windows misattribute the straddling " +
    "bucket") {
    // a counter crossing Pacific/Chatham's Sep 28 local midnight
    // (2024-09-27T11:15Z, +12:45): samples at 10:50/11:05Z (Sep 27
    // local) and 11:20/12:20Z (Sep 28 local)
    val t0 = java.time.Instant.parse("2024-09-27T10:45:00Z").toEpochMilli
    val chtCsv =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,string,string,string,string
        |#group,false,false,true,true,false,false,true,true,true
        |#default,_result,,,,,,,,
        |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
        |,_result,0,2024-09-27T10:45:00Z,2024-09-27T12:45:00Z,2024-09-27T10:50:00Z,10.0,value,ha_states,sensor.a
        |,_result,0,2024-09-27T10:45:00Z,2024-09-27T12:45:00Z,2024-09-27T11:05:00Z,12.0,value,ha_states,sensor.a
        |,_result,0,2024-09-27T10:45:00Z,2024-09-27T12:45:00Z,2024-09-27T11:20:00Z,15.0,value,ha_states,sensor.a
        |,_result,0,2024-09-27T10:45:00Z,2024-09-27T12:45:00Z,2024-09-27T12:20:00Z,20.0,value,ha_states,sensor.a
        |""".stripMargin
    val opts = Map(
      "bucket" -> "bkt",
      "readPartitions" -> "1",
      "rollup.group" -> "tag:entity_id",
      "rollup.measurement" -> "ha_states",
      "rollup.startMs" -> t0.toString,
      "rollup.stopMs" -> (t0 + 2 * hour).toString)
    def collectB(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1)) ->
        r.getAs[Double]("energy")).toMap
    val sep27 = java.time.Instant.parse("2024-09-26T11:15:00Z").toEpochMilli
    val sep28 = java.time.Instant.parse("2024-09-27T11:15:00Z").toEpochMilli
    withTransportFn(_ => chtCsv) { _ =>
      // 15-minute server windows: the :15 local midnight is a fine
      // boundary — +2 on Sep 27, +3 +5 on Sep 28
      collectB(InfluxRollupRead.energyBarsCalendar(spark,
        opts, unit = "DAY", tz = "Pacific/Chatham",
        startMs = sep27, endMs = sep28 + 86400000L,
        fineEveryMs = 900000L)) shouldBe Map(
        ("sensor.a", sep27) -> 2.0, ("sensor.a", sep28) -> 8.0)
      // 30-MINUTE server windows misattribute the 11:20 delta: its
      // bucket STARTS 11:00Z, before the 11:15Z boundary → local Sep 27
      collectB(InfluxRollupRead.energyBarsCalendar(spark,
        opts, unit = "DAY", tz = "Pacific/Chatham",
        startMs = sep27, endMs = sep28 + 86400000L,
        fineEveryMs = 1800000L)) shouldBe Map(
        ("sensor.a", sep27) -> 5.0, ("sensor.a", sep28) -> 5.0)
    }
  }

  test("validation: a spec without the increase aggregate fails loudly") {
    val opts2 = new java.util.HashMap[String, String]()
    opts2.put("rollup.everyMs", hour.toString)
    opts2.put("rollup.aggs", "count")
    val spec = InfluxRollupRead.fromOptions(opts2).get
    val partials = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      InfluxRollupRead.schemaOf(spec))
    intercept[IllegalArgumentException] {
      InfluxRollupRead.counterStatisticsMerge(partials, spec)
    }.getMessage should include("counterStatisticsMerge")
  }
}
