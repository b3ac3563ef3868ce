package graft

import graft.sources.InfluxRollupRead
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.util.concurrent.ConcurrentLinkedQueue

/** Pushed trapezoid-integral reads (Flux `integral(unit: 1ms)` windowed
  * parity — the "energy from power" panel): per (series, bucket, shard)
  * segments carry a server-computed within-segment area plus their
  * numeric boundary samples, and integralMerge adds the trapezoid of
  * each SAME-BUCKET cross-shard pair back — pairs crossing a bucket
  * boundary contribute nothing, exactly Flux's windowed-integral
  * convention, which is what makes the decomposition exact. Trust
  * posture is the rollup one: a lying server falls back to local
  * ordered folds over re-enforced samples. */
class InfluxIntegralReadSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L // 2024-01-01T00:00:00Z
  private val hour = 3600000L

  // same fixture family as the rate spec: two series + one string sample
  //   sensor.a: 10 @00:05, 15 @00:20, "on" @00:30, 3 @00:50,
  //             9 @01:10, 4 @01:40
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

  // value·ms areas of the same-bucket pairs ("on" invisible — the fold
  // pairs NUMERIC neighbors; the (3@00:50, 9@01:10) pair crosses the
  // hour line and contributes nothing):
  //   a/h0: (10+15)/2·900000 + (15+3)/2·1800000 = 11.25e6 + 16.2e6
  //   a/h1: (9+4)/2·1800000 = 11.7e6
  //   b:    both samples alone in their windows → 0
  private val expected = Map(
    ("sensor.a", t0) -> 27450000.0, ("sensor.a", t0 + hour) -> 11700000.0,
    ("sensor.b", t0) -> 0.0, ("sensor.b", t0 + hour) -> 0.0)

  private def withTransportFn[T](f: String => String)(
      body: ConcurrentLinkedQueue[String] => T): T = {
    val seen = new ConcurrentLinkedQueue[String]()
    FakeInflux.reads = Some { flux => seen.add(flux); f(flux) }
    try body(seen) finally FakeInflux.reads = None
  }

  private def intOpts(parts: Int, offsetMs: Long = 0L) =
    InfluxRollupRead.integralOptions(hour, Map(
      "bucket" -> "bkt",
      "readPartitions" -> parts.toString,
      "rollup.group" -> "tag:entity_id",
      "rollup.measurement" -> "ha_states",
      "rollup.startMs" -> t0.toString,
      "rollup.stopMs" -> (t0 + 2 * hour).toString), offsetMs)

  private def collect(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("a lying server (raw dump) folds the integral locally: string " +
    "samples invisible, cross-bucket pairs dropped, ONE fused POST") {
    withTransportFn(_ => counterCsv) { seen =>
      val out = InfluxRollupRead.integralRead(spark, intOpts(parts = 1))
        .select(col("entity_id"), col("bucket_start_ms"), col("integral"),
          col("integral_vsec"))
      val rows = out.collect()
      rows.map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
        .toMap shouldBe expected
      // value·seconds companion = value·ms / 1000
      rows.foreach(r => r.getDouble(3) shouldBe r.getDouble(2) / 1000.0)
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.size shouldBe 1
      fluxes.head should include("integral(unit: 1ms)")
      fluxes.head should include("window(every: 3600000ms)")
      fluxes.head should include("""group(columns: ["entity_id"])""")
      fluxes.head should include("union(tables: [b0, b1, b2, b3, b4])")
    }
  }

  test("multi-shard stitching: 4 range shards cut buckets mid-flight " +
    "and the same-bucket trapezoid stitch restores the single-shard " +
    "answer exactly") {
    withTransportFn(_ => counterCsv) { seen =>
      collect(InfluxRollupRead.integralRead(spark, intOpts(parts = 4))
        .select(col("entity_id"), col("bucket_start_ms"),
          col("integral"))) shouldBe expected
      Iterator.continually(seen.poll()).takeWhile(_ != null).size shouldBe 4
    }
  }

  test("pushed ≡ unpushed: the client-side lag() twin over the raw scan " +
    "(same-bucket pairs only) computes the identical per-bucket areas") {
    withTransportFn(_ => counterCsv) { _ =>
      val raw = spark.read.format("influx").option("bucket", "bkt").load()
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + 2 * hour &&
          col("measurement") === "ha_states" && col("value").isNotNull)
      val w = Window.partitionBy(col("tags").getItem("entity_id"))
        .orderBy(col("time_ms").asc)
      val twin = raw
        .select(col("tags").getItem("entity_id").as("entity_id"),
          col("time_ms"), col("value"),
          lag(col("value"), 1).over(w).as("pv"),
          lag(col("time_ms"), 1).over(w).as("pt"))
        .groupBy(col("entity_id"),
          (expr("time_ms div 3600000") * hour).as("bucket_start_ms"))
        .agg(sum(
          when(col("pt").isNotNull &&
            expr("pt div 3600000") === expr("time_ms div 3600000"),
            (col("pv") + col("value")) * (col("time_ms") - col("pt"))
              / lit(2.0)).otherwise(lit(0.0))).as("integral"))
      val pushed = collect(InfluxRollupRead.integralRead(spark, intOpts(2))
        .select(col("entity_id"), col("bucket_start_ms"), col("integral")))
      collect(twin) shouldBe pushed
      pushed shouldBe expected
    }
  }

  test("shifted bucket grid (rollup.offsetMs): the fused POST windows " +
    "with offset:, re-bucketing and stitching follow the shifted grid") {
    // buckets at :30 boundaries. a: (10@05, 15@20) pair in [23:30);
    // (3@50, 9@01:10) pair lands in [00:30) = (3+9)/2·1200000 = 7.2e6;
    // (9, 4@01:40) crosses the 01:30 line → dropped; 4 alone → 0.
    val off = 1800000L
    val expectedShifted = Map(
      ("sensor.a", t0 - off) -> 11250000.0,
      ("sensor.a", t0 + off) -> 7200000.0,
      ("sensor.a", t0 + hour + off) -> 0.0,
      ("sensor.b", t0 - off) -> 0.0,
      ("sensor.b", t0 + hour + off) -> 0.0)
    withTransportFn(_ => counterCsv) { seen =>
      collect(InfluxRollupRead.integralRead(spark, intOpts(1, off))
        .select(col("entity_id"), col("bucket_start_ms"),
          col("integral"))) shouldBe expectedShifted
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.head should include(
        s"window(every: ${hour}ms, offset: ${off}ms)")
      // shard cuts land mid-(shifted)-bucket; the stitch is unchanged
      collect(InfluxRollupRead.integralRead(spark, intOpts(4, off))
        .select(col("entity_id"), col("bucket_start_ms"),
          col("integral"))) shouldBe expectedShifted
    }
  }

  test("a TRUSTED windowed response lands the area directly — windowed " +
    "sums shape, no re-POSTs") {
    // one series, one hour: within-area 27.45e6 with boundary samples
    // 10@00:05 / 3@00:50. Branch order: integral=0, first_num_time=1,
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
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z,27450000.0,sensor.a,0
        |
        |""".stripMargin +
        sampleHeader + "\n" + firstRow.format(1) + "\n" + lastRow.format(3) +
        "\n\n" + sampleHeader + "\n" + firstRow.format(2) + "\n" +
        lastRow.format(4) + "\n"
    withTransportFn(_ => fusedResp) { seen =>
      val opts = InfluxRollupRead.integralOptions(hour, Map(
        "bucket" -> "bkt", "readPartitions" -> "1",
        "rollup.group" -> "tag:entity_id",
        "rollup.measurement" -> "ha_states",
        "rollup.startMs" -> t0.toString,
        "rollup.stopMs" -> (t0 + hour).toString))
      collect(InfluxRollupRead.integralRead(spark, opts)
        .select(col("entity_id"), col("bucket_start_ms"),
          col("integral"))) shouldBe Map(("sensor.a", t0) -> 27450000.0)
      Iterator.continually(seen.poll()).takeWhile(_ != null).size shouldBe 1
    }
  }

  test("validation: integral without its boundary companions fails " +
    "loudly at analysis time, and finalMerge refuses integral partials") {
    val opts = new java.util.HashMap[String, String]()
    opts.put("rollup.everyMs", hour.toString)
    opts.put("rollup.aggs", "integral")
    intercept[IllegalArgumentException] {
      InfluxRollupRead.fromOptions(opts)
    }.getMessage should include("first_num_time")
    val full = new java.util.HashMap[String, String]()
    full.put("rollup.everyMs", hour.toString)
    full.put("rollup.aggs",
      "integral,first_num_time,first_num_value,last_num_time,last_num_value")
    val spec = InfluxRollupRead.fromOptions(full).get
    val partials = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      InfluxRollupRead.schemaOf(spec))
    intercept[IllegalArgumentException] {
      InfluxRollupRead.finalMerge(partials, spec)
    }.getMessage should include("integralMerge")
  }
}
