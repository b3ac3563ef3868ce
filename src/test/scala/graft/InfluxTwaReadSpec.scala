package graft

import graft.sources.InfluxRollupRead
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.util.concurrent.ConcurrentLinkedQueue

/** Pushed time-weighted-average reads — the HA long-term-statistics
  * `mean` panel: per (series, bucket, shard) segments carry a
  * server-computed within-window LOCF rectangle area (locf_area, pairs
  * only) plus their numeric boundary samples, and twaMerge splits each
  * cross-segment hold [last sample, next segment's first sample) across
  * the buckets it spans — holds partition the covered span, so the
  * merged (value·ms, ms) pair equals the single-shard read and twa is
  * ONE terminal division. Trust posture is the rollup one: a lying
  * server falls back to local ordered folds over re-enforced samples. */
class InfluxTwaReadSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L // 2024-01-01T00:00:00Z
  private val hour = 3600000L

  // the integral/rate fixture family: two series + one string sample
  //   sensor.a: 10 @00:05, 15 @00:20, "on" @00:30, 3 @00:50,
  //             9 @01:10, 4 @01:40
  //   sensor.b: 100 @00:10, 120 @01:30
  // LOCF holds per series ("on" invisible — numeric-only family; a
  // sample's value holds until the NEXT numeric sample; the last sample
  // holds nothing):
  //   a/h0: 10·[05,20) + 15·[20,50) + 3·[50,60) = 9e6+27e6+1.8e6 over 55m
  //   a/h1: 3·[60,70) + 9·[70,100) = 1.8e6+16.2e6 over 40m
  //   b/h0: 100·[10,60) over 50m → 100; b/h1: 100·[60,90) → 100
  private val fixtureCsv =
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

  private val expected = Map(
    ("sensor.a", t0) -> 37800000.0 / 3300000.0,
    ("sensor.a", t0 + hour) -> 7.5,
    ("sensor.b", t0) -> 100.0, ("sensor.b", t0 + hour) -> 100.0)
  private val expectedCov = Map(
    ("sensor.a", t0) -> 3300000L, ("sensor.a", t0 + hour) -> 2400000L,
    ("sensor.b", t0) -> 3000000L, ("sensor.b", t0 + hour) -> 1800000L)

  private def withTransportFn[T](f: String => String)(
      body: ConcurrentLinkedQueue[String] => T): T = {
    val seen = new ConcurrentLinkedQueue[String]()
    FakeInflux.reads = Some { flux => seen.add(flux); f(flux) }
    try body(seen) finally FakeInflux.reads = None
  }

  private def twaOpts(parts: Int, offsetMs: Long = 0L, hours: Int = 2) =
    InfluxRollupRead.twaOptions(hour, Map(
      "bucket" -> "bkt",
      "readPartitions" -> parts.toString,
      "rollup.group" -> "tag:entity_id",
      "rollup.measurement" -> "ha_states",
      "rollup.startMs" -> t0.toString,
      "rollup.stopMs" -> (t0 + hours * hour).toString), offsetMs)

  private def collect(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("a lying server (raw dump) folds the LOCF areas locally: string " +
    "samples invisible, cross-bucket holds split, ONE fused POST with " +
    "the events-package import") {
    withTransportFn(_ => fixtureCsv) { seen =>
      val out = InfluxRollupRead.twaRead(spark, twaOpts(parts = 1))
        .select(col("entity_id"), col("bucket_start_ms"), col("twa"),
          col("covered_ms"))
      val rows = out.collect()
      rows.map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
        .toMap shouldBe expected
      rows.map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3))
        .toMap shouldBe expectedCov
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.size shouldBe 1
      fluxes.head should include("import \"contrib/tomhollingworth/events\"")
      fluxes.head should include(
        "events.duration(unit: 1ms, columnName: \"_d\", stopColumn: \"_time\")")
      fluxes.head should include("window(every: 3600000ms)")
      fluxes.head should include("""group(columns: ["entity_id"])""")
      fluxes.head should include("union(tables: [b0, b1, b2, b3, b4])")
    }
  }

  test("multi-shard stitching: 4 range shards cut buckets and holds " +
    "mid-flight and the cross-segment hold split restores the " +
    "single-shard answer exactly") {
    withTransportFn(_ => fixtureCsv) { seen =>
      collect(InfluxRollupRead.twaRead(spark, twaOpts(parts = 4))
        .select(col("entity_id"), col("bucket_start_ms"),
          col("twa"))) shouldBe expected
      Iterator.continually(seen.poll()).takeWhile(_ != null).size shouldBe 4
    }
  }

  test("a hold spanning a fully-EMPTY bucket fills it: the gap explode " +
    "emits covered rows for sample-free buckets, across any sharding") {
    // sensor.c: 7 @00:10, 13 @02:50 over a 3-hour range — hour 1 has no
    // samples but is fully covered by the 7-hold
    val sparseCsv =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,string,string,string,string
        |#group,false,false,true,true,false,false,true,true,true
        |#default,_result,,,,,,,,
        |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T03:00:00Z,2024-01-01T00:10:00Z,7.0,value,ha_states,sensor.c
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T03:00:00Z,2024-01-01T02:50:00Z,13.0,value,ha_states,sensor.c
        |""".stripMargin
    val sparseExpected = Map(
      ("sensor.c", t0) -> 7.0, ("sensor.c", t0 + hour) -> 7.0,
      ("sensor.c", t0 + 2 * hour) -> 7.0)
    withTransportFn(_ => sparseCsv) { _ =>
      Seq(1, 3, 5).foreach { parts =>
        val rows = InfluxRollupRead.twaRead(spark,
            twaOpts(parts, hours = 3))
          .select(col("entity_id"), col("bucket_start_ms"), col("twa"),
            col("covered_ms")).collect()
        rows.map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
          .toMap shouldBe sparseExpected
        // coverage: [00:10, 01:00) + full hour + [02:00, 02:50)
        rows.map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3))
          .toMap shouldBe Map(
            ("sensor.c", t0) -> 3000000L,
            ("sensor.c", t0 + hour) -> 3600000L,
            ("sensor.c", t0 + 2 * hour) -> 3000000L)
      }
    }
  }

  test("pushed ≡ unpushed: the client-side hold-split twin over the raw " +
    "scan computes identical per-bucket (value·ms, ms) pairs") {
    withTransportFn(_ => fixtureCsv) { _ =>
      val raw = spark.read.format("influx").option("bucket", "bkt").load()
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + 2 * hour &&
          col("measurement") === "ha_states" && col("value").isNotNull)
        .select(col("tags").getItem("entity_id").as("entity_id"),
          col("time_ms"), col("value"))
      val w = Window.partitionBy(col("entity_id")).orderBy(col("time_ms").asc)
      val seg = raw
        .withColumn("nt", lead(col("time_ms"), 1).over(w))
        .filter(col("nt").isNotNull)
      val b = col("b")
      val piece = least(col("nt"), b + lit(hour)) - greatest(col("time_ms"), b)
      val twin = seg
        .select(col("entity_id"), col("time_ms"), col("value"), col("nt"),
          explode(sequence(
            (col("time_ms") - pmod(col("time_ms"), lit(hour))),
            (col("nt") - 1) - pmod(col("nt") - 1, lit(hour)),
            lit(hour))).as("b"))
        .groupBy(col("entity_id"), b.as("bucket_start_ms"))
        .agg(sum(col("value") * piece.cast("double")).as("num"),
          sum(piece).as("cov"))
        .select(col("entity_id"), col("bucket_start_ms"),
          (col("num") / col("cov").cast("double")).as("twa"))
      val pushed = collect(InfluxRollupRead.twaRead(spark, twaOpts(2))
        .select(col("entity_id"), col("bucket_start_ms"), col("twa")))
      collect(twin) shouldBe pushed
      pushed shouldBe expected
    }
  }

  test("shifted bucket grid (rollup.offsetMs): the fused POST windows " +
    "with offset:, hold splitting and bucket math follow the shifted " +
    "grid") {
    // buckets at :30 boundaries; holds split on that grid:
    //   a/[23:30): 10·[05,20) + 15·[20,30) over 25m → 12.0
    //   a/[00:30): 15·[30,50) + 3·[50,01:10) + 9·[01:10,01:30) → 9.0
    //   a/[01:30): 9·[01:30,01:40) over 10m → 9.0
    //   b: 100 holds [00:10, 01:30), exactly to the 01:30 boundary
    val off = 1800000L
    val expectedShifted = Map(
      ("sensor.a", t0 - off) -> 12.0,
      ("sensor.a", t0 + off) -> 9.0,
      ("sensor.a", t0 + hour + off) -> 9.0,
      ("sensor.b", t0 - off) -> 100.0,
      ("sensor.b", t0 + off) -> 100.0)
    withTransportFn(_ => fixtureCsv) { seen =>
      collect(InfluxRollupRead.twaRead(spark, twaOpts(1, off))
        .select(col("entity_id"), col("bucket_start_ms"),
          col("twa"))) shouldBe expectedShifted
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.head should include(
        s"window(every: ${hour}ms, offset: ${off}ms)")
      // shard cuts land mid-(shifted)-bucket; the hold split is unchanged
      collect(InfluxRollupRead.twaRead(spark, twaOpts(4, off))
        .select(col("entity_id"), col("bucket_start_ms"),
          col("twa"))) shouldBe expectedShifted
    }
  }

  test("a TRUSTED windowed response lands the area directly — windowed " +
    "sums shape, no re-POSTs") {
    // one series, one hour: within-window rectangle area 10·[05,50) =
    // 27e6 with boundary samples 10@00:05 / 3@00:50 → twa = 27e6/2.7e6 =
    // 10.0. Branch order: locf_area=0, first_num_time=1,
    // first_num_value=2, last_num_time=3, last_num_value=4
    val firstRow = ",_result,2,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z," +
      "2024-01-01T00:05:00Z,10.0,value,ha_states,sensor.a,%d"
    val lastRow = ",_result,3,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z," +
      "2024-01-01T00:50:00Z,3.0,value,ha_states,sensor.a,%d"
    val sampleHeader =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,double,string,string,string,string
        |#group,false,false,true,true,false,false,true,true,true,false
        |#default,_result,,,,,,,,,
        |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id,_graft_agg""".stripMargin
    val fusedResp =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,double,string,string
        |#group,false,false,true,true,false,true,false
        |#default,_result,,,,,,
        |,result,table,_start,_stop,_value,entity_id,_graft_agg
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z,27000000.0,sensor.a,0
        |
        |""".stripMargin +
        sampleHeader + "\n" + firstRow.format(1) + "\n" + lastRow.format(3) +
        "\n\n" + sampleHeader + "\n" + firstRow.format(2) + "\n" +
        lastRow.format(4) + "\n"
    withTransportFn(_ => fusedResp) { seen =>
      val opts = InfluxRollupRead.twaOptions(hour, Map(
        "bucket" -> "bkt", "readPartitions" -> "1",
        "rollup.group" -> "tag:entity_id",
        "rollup.measurement" -> "ha_states",
        "rollup.startMs" -> t0.toString,
        "rollup.stopMs" -> (t0 + hour).toString))
      val rows = InfluxRollupRead.twaRead(spark, opts)
        .select(col("entity_id"), col("bucket_start_ms"), col("twa"),
          col("covered_ms")).collect()
      rows.map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
        .toMap shouldBe Map(("sensor.a", t0) -> 10.0)
      rows.head.getLong(3) shouldBe 2700000L
      Iterator.continually(seen.poll()).takeWhile(_ != null).size shouldBe 1
    }
  }

  test("validation: locf_area without its boundary companions fails " +
    "loudly at analysis time, and finalMerge refuses locf_area partials") {
    val opts = new java.util.HashMap[String, String]()
    opts.put("rollup.everyMs", hour.toString)
    opts.put("rollup.aggs", "locf_area")
    intercept[IllegalArgumentException] {
      InfluxRollupRead.fromOptions(opts)
    }.getMessage should include("first_num_time")
    val full = new java.util.HashMap[String, String]()
    full.put("rollup.everyMs", hour.toString)
    full.put("rollup.aggs",
      "locf_area,first_num_time,first_num_value,last_num_time,last_num_value")
    val spec = InfluxRollupRead.fromOptions(full).get
    val partials = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      InfluxRollupRead.schemaOf(spec))
    intercept[IllegalArgumentException] {
      InfluxRollupRead.finalMerge(partials, spec)
    }.getMessage should include("twaMerge")
  }
}
