package graft

import graft.sources.InfluxRollupRead
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.util.concurrent.ConcurrentLinkedQueue

/** Pushed counter-rate reads (PromQL-contract increase over the Influx
  * source): per (series, bucket, shard) segments carry a server-computed
  * within-segment increase plus their numeric boundary samples, and
  * rateMerge stitches segments into the exact global per-bucket increase —
  * only segment rows ever cross shard boundaries. Trust posture is the
  * rollup one: a lying server falls back to local ordered folds over
  * re-enforced samples, so pushed ≡ unpushed by construction. */
class InfluxRateReadSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L // 2024-01-01T00:00:00Z
  private val hour = 3600000L

  // reset-bearing counters over two series + one string sample (invisible
  // to the rate: the stitch pairs NUMERIC neighbors)
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

  // expected increase per (entity, hour-bucket) under the lag() contract
  // (delta attributed to the LATER sample's bucket; reset contributes the
  // new value; the series' first sample contributes 0):
  //   a/h0: (15-10) + reset(3) = 8   a/h1: (9-3) + reset(4) = 10
  //   b/h0: 0 (first sample only)    b/h1: 120-100 = 20
  private val expected = Map(
    ("sensor.a", t0) -> 8.0, ("sensor.a", t0 + hour) -> 10.0,
    ("sensor.b", t0) -> 0.0, ("sensor.b", t0 + hour) -> 20.0)

  private def withTransportFn[T](f: String => String)(
      body: ConcurrentLinkedQueue[String] => T): T = {
    val seen = new ConcurrentLinkedQueue[String]()
    FakeInflux.reads = Some { flux => seen.add(flux); f(flux) }
    try body(seen) finally FakeInflux.reads = None
  }

  private def rateOpts(parts: Int) = InfluxRollupRead.rateOptions(hour, Map(
    "bucket" -> "bkt",
    "readPartitions" -> parts.toString,
    "rollup.group" -> "tag:entity_id",
    "rollup.measurement" -> "ha_states",
    "rollup.startMs" -> t0.toString,
    "rollup.stopMs" -> (t0 + 2 * hour).toString))

  private def collect(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("a lying server (raw dump) folds the rate locally: reset-aware, " +
    "string samples invisible, ONE fused POST for all five specs") {
    withTransportFn(_ => counterCsv) { seen =>
      val out = InfluxRollupRead.rateRead(spark, rateOpts(parts = 1))
        .select(col("entity_id"), col("bucket_start_ms"), col("increase"),
          col("rate_per_sec"))
      val rows = out.collect()
      rows.map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
        .toMap shouldBe expected
      // rate_per_sec = increase / bucket seconds
      rows.foreach(r => r.getDouble(3) shouldBe r.getDouble(2) / 3600.0)
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.size shouldBe 1
      fluxes.head should include("""increase(columns: ["_value"])""")
      fluxes.head should include("window(every: 3600000ms)")
      fluxes.head should include("""group(columns: ["entity_id"])""")
      fluxes.head should include("union(tables: [b0, b1, b2, b3, b4])")
    }
  }

  test("multi-shard stitching: 4 range shards cut every bucket and " +
    "series mid-flight, and the merged result is unchanged") {
    withTransportFn(_ => counterCsv) { seen =>
      collect(InfluxRollupRead.rateRead(spark, rateOpts(parts = 4))
        .select(col("entity_id"), col("bucket_start_ms"),
          col("increase"))) shouldBe expected
      // one fused POST per shard, nothing else
      Iterator.continually(seen.poll()).takeWhile(_ != null).size shouldBe 4
    }
  }

  test("pushed ≡ unpushed: the client-side lag() twin over the raw scan " +
    "computes the identical per-bucket increases") {
    withTransportFn(_ => counterCsv) { _ =>
      val raw = spark.read.format("influx").option("bucket", "bkt").load()
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + 2 * hour &&
          col("measurement") === "ha_states" && col("value").isNotNull)
      val w = Window.partitionBy(col("tags").getItem("entity_id"))
        .orderBy(col("time_ms").asc)
      val twin = raw
        .select(col("tags").getItem("entity_id").as("entity_id"),
          col("time_ms"), col("value"),
          lag(col("value"), 1).over(w).as("pv"))
        .groupBy(col("entity_id"),
          (expr("time_ms div 3600000") * hour).as("bucket_start_ms"))
        .agg(sum(
          when(col("pv").isNull, lit(0.0))
            .otherwise(when(col("value") >= col("pv"),
              col("value") - col("pv")).otherwise(col("value"))))
          .as("increase"))
      val pushed = collect(InfluxRollupRead.rateRead(spark, rateOpts(2))
        .select(col("entity_id"), col("bucket_start_ms"), col("increase")))
      collect(twin) shouldBe pushed
      pushed shouldBe expected
    }
  }

  test("a TRUSTED fused response folds the increase from windowed rows " +
    "and the boundaries from marked sample branches — no re-POSTs") {
    // one series, one hour: within-increase 8; first (00:05, 10),
    // last (00:50, 3). Branch order: increase=0, first_num_time=1,
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
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z,8.0,sensor.a,0
        |
        |""".stripMargin +
        sampleHeader + "\n" + firstRow.format(1) + "\n" + lastRow.format(3) +
        "\n\n" + sampleHeader + "\n" + firstRow.format(2) + "\n" +
        lastRow.format(4) + "\n"
    withTransportFn(_ => fusedResp) { seen =>
      val opts = InfluxRollupRead.rateOptions(hour, Map(
        "bucket" -> "bkt", "readPartitions" -> "1",
        "rollup.group" -> "tag:entity_id",
        "rollup.measurement" -> "ha_states",
        "rollup.startMs" -> t0.toString,
        "rollup.stopMs" -> (t0 + hour).toString))
      collect(InfluxRollupRead.rateRead(spark, opts)
        .select(col("entity_id"), col("bucket_start_ms"),
          col("increase"))) shouldBe Map(("sensor.a", t0) -> 8.0)
      Iterator.continually(seen.poll()).takeWhile(_ != null).size shouldBe 1
    }
  }

  test("a LYING increase branch (window-spanning row) re-POSTs only the " +
    "single-spec increase query, whose trusted answer lands") {
    val badFused =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,double,string,string
        |#group,false,false,true,true,false,true,false
        |#default,_result,,,,,,
        |,result,table,_start,_stop,_value,entity_id,_graft_agg
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,999.0,sensor.a,0
        |""".stripMargin
    val honestIncrease =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,double,string
        |#group,false,false,true,true,false,true
        |#default,_result,,,,,
        |,result,table,_start,_stop,_value,entity_id
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z,8.0,sensor.a
        |""".stripMargin
    withTransportFn(f =>
        if (f.contains("union(")) badFused else honestIncrease) { seen =>
      val opts = InfluxRollupRead.rateOptions(hour, Map(
        "bucket" -> "bkt", "readPartitions" -> "1",
        "rollup.group" -> "tag:entity_id",
        "rollup.measurement" -> "ha_states",
        "rollup.startMs" -> t0.toString,
        "rollup.stopMs" -> (t0 + hour).toString))
      // boundary branches are empty in the marked response — no numeric
      // samples — so the only surviving cell is the re-asked increase
      val rows = InfluxRollupRead.rateRead(spark, opts)
        .select(col("entity_id"), col("bucket_start_ms"), col("increase"))
        .collect()
      rows.map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
        .toMap shouldBe Map(("sensor.a", t0) -> 8.0) // 999 never lands
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.size shouldBe 2
      fluxes.head should include("union(")
      fluxes(1) should not include "union("
      fluxes(1) should include("""increase(columns: ["_value"])""")
    }
  }

  test("a fused increase branch that fails trust leaves NULL boundary " +
    "slots, and the re-POSTed increase still lands in the merge (the " +
    "null-boundary segment never breaks the numeric stitch chain)") {
    // three shards over three hours; the MIDDLE shard's fused response
    // lies on the increase branch (window-spanning row) and returns empty
    // boundary branches — its re-POSTed single-spec increase is honest,
    // so the segment row carries increase=15 with all-null boundaries.
    // Values are chosen so the unknowable cross-boundary stitches are
    // truly zero (h0.last == h1.first, h1.last == h2.first == 15): the
    // merged result must equal the raw client twin exactly.
    //   h0: 10@00:05, 15@00:20            → inc 5,  last 15
    //   h1: 15@01:10, "on"@01:20, 8@01:40 (reset), 15@01:50 → inc 15
    //   h2: 15@02:05, 22@02:30            → inc 7,  stitch 15→15 = 0
    val rawDump =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,string,string,string,string
        |#group,false,false,true,true,false,false,true,true,true
        |#default,_result,,,,,,,,
        |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T03:00:00Z,2024-01-01T00:05:00Z,10.0,value,ha_states,sensor.a
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T03:00:00Z,2024-01-01T00:20:00Z,15.0,value,ha_states,sensor.a
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T03:00:00Z,2024-01-01T01:10:00Z,15.0,value,ha_states,sensor.a
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T03:00:00Z,2024-01-01T01:20:00Z,on,value,ha_states,sensor.a
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T03:00:00Z,2024-01-01T01:40:00Z,8.0,value,ha_states,sensor.a
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T03:00:00Z,2024-01-01T01:50:00Z,15.0,value,ha_states,sensor.a
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T03:00:00Z,2024-01-01T02:05:00Z,15.0,value,ha_states,sensor.a
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T03:00:00Z,2024-01-01T02:30:00Z,22.0,value,ha_states,sensor.a
        |""".stripMargin
    // untrusted: the row spans two bucket widths
    val badFusedH1 =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,double,string,string
        |#group,false,false,true,true,false,true,false
        |#default,_result,,,,,,
        |,result,table,_start,_stop,_value,entity_id,_graft_agg
        |,_result,0,2024-01-01T01:00:00Z,2024-01-01T03:00:00Z,999.0,sensor.a,0
        |""".stripMargin
    val honestIncreaseH1 =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,double,string
        |#group,false,false,true,true,false,true
        |#default,_result,,,,,
        |,result,table,_start,_stop,_value,entity_id
        |,_result,0,2024-01-01T01:00:00Z,2024-01-01T02:00:00Z,15.0,sensor.a
        |""".stripMargin
    withTransportFn { f =>
      if (f.contains("union("))
        if (f.contains("start: 2024-01-01T01:00:00Z")) badFusedH1 else rawDump
      else honestIncreaseH1
    } { seen =>
      val opts = InfluxRollupRead.rateOptions(hour, Map(
        "bucket" -> "bkt", "readPartitions" -> "3",
        "rollup.group" -> "tag:entity_id",
        "rollup.measurement" -> "ha_states",
        "rollup.startMs" -> t0.toString,
        "rollup.stopMs" -> (t0 + 3 * hour).toString))
      val pushed = collect(InfluxRollupRead.rateRead(spark, opts)
        .select(col("entity_id"), col("bucket_start_ms"), col("increase")))
      pushed shouldBe Map(
        ("sensor.a", t0) -> 5.0, ("sensor.a", t0 + hour) -> 15.0,
        ("sensor.a", t0 + 2 * hour) -> 7.0)
      // 3 fused POSTs + exactly one single-spec increase re-POST
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.count(_.contains("union(")) shouldBe 3
      fluxes.count(!_.contains("union(")) shouldBe 1
    }
    // the raw client twin over the same samples agrees bucket for bucket
    withTransportFn(_ => rawDump) { _ =>
      val raw = spark.read.format("influx").option("bucket", "bkt").load()
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + 3 * hour &&
          col("measurement") === "ha_states" && col("value").isNotNull)
      val w = Window.partitionBy(col("tags").getItem("entity_id"))
        .orderBy(col("time_ms").asc)
      val twin = raw
        .select(col("tags").getItem("entity_id").as("entity_id"),
          col("time_ms"), col("value"),
          lag(col("value"), 1).over(w).as("pv"))
        .groupBy(col("entity_id"),
          (expr("time_ms div 3600000") * hour).as("bucket_start_ms"))
        .agg(sum(
          when(col("pv").isNull, lit(0.0))
            .otherwise(when(col("value") >= col("pv"),
              col("value") - col("pv")).otherwise(col("value"))))
          .as("increase"))
      collect(twin) shouldBe Map(
        ("sensor.a", t0) -> 5.0, ("sensor.a", t0 + hour) -> 15.0,
        ("sensor.a", t0 + 2 * hour) -> 7.0)
    }
  }

  test("a server whose increase() omits single-sample windows yields a " +
    "NULL-increase segment whose stitch delta still lands (coalesce)") {
    // one shard, two hours: h0 has two samples (inc 5, last 15), h1 has a
    // SINGLE sample 18@01:30. The trusted increase branch returns only
    // h0's window; the boundary branches carry both windows' samples. The
    // h1 segment row is (increase=NULL, first=last=18@01:30) — its bucket
    // must still receive the 15→18 stitch delta of 3, not NULL out.
    val sampleHeader =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,double,string,string,string,string
        |#group,false,false,true,true,false,false,true,true,true,false
        |#default,_result,,,,,,,,,
        |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id,_graft_agg""".stripMargin
    def smp(table: Int, time: String, v: String, marker: Int) =
      s",_result,$table,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z," +
        s"$time,$v,value,ha_states,sensor.a,$marker"
    val fusedResp =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,double,string,string
        |#group,false,false,true,true,false,true,false
        |#default,_result,,,,,,
        |,result,table,_start,_stop,_value,entity_id,_graft_agg
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z,5.0,sensor.a,0
        |
        |""".stripMargin +
        sampleHeader + "\n" +
        smp(1, "2024-01-01T00:05:00Z", "10.0", 1) + "\n" +
        smp(2, "2024-01-01T01:30:00Z", "18.0", 1) + "\n" +
        smp(3, "2024-01-01T00:20:00Z", "15.0", 3) + "\n" +
        smp(4, "2024-01-01T01:30:00Z", "18.0", 3) + "\n\n" +
        sampleHeader + "\n" +
        smp(1, "2024-01-01T00:05:00Z", "10.0", 2) + "\n" +
        smp(2, "2024-01-01T01:30:00Z", "18.0", 2) + "\n" +
        smp(3, "2024-01-01T00:20:00Z", "15.0", 4) + "\n" +
        smp(4, "2024-01-01T01:30:00Z", "18.0", 4) + "\n"
    withTransportFn(_ => fusedResp) { seen =>
      val opts = InfluxRollupRead.rateOptions(hour, Map(
        "bucket" -> "bkt", "readPartitions" -> "1",
        "rollup.group" -> "tag:entity_id",
        "rollup.measurement" -> "ha_states",
        "rollup.startMs" -> t0.toString,
        "rollup.stopMs" -> (t0 + 2 * hour).toString))
      collect(InfluxRollupRead.rateRead(spark, opts)
        .select(col("entity_id"), col("bucket_start_ms"),
          col("increase"))) shouldBe Map(
        ("sensor.a", t0) -> 5.0, ("sensor.a", t0 + hour) -> 3.0)
      // trusted response: ONE fused POST, no re-asks
      Iterator.continually(seen.poll()).takeWhile(_ != null).size shouldBe 1
    }
    // the raw client twin agrees: 18 pairs with 15 across the hour line
    val rawCsv =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,string,string,string,string
        |#group,false,false,true,true,false,false,true,true,true
        |#default,_result,,,,,,,,
        |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T00:05:00Z,10.0,value,ha_states,sensor.a
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T00:20:00Z,15.0,value,ha_states,sensor.a
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T01:30:00Z,18.0,value,ha_states,sensor.a
        |""".stripMargin
    withTransportFn(_ => rawCsv) { _ =>
      val raw = spark.read.format("influx").option("bucket", "bkt").load()
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + 2 * hour &&
          col("measurement") === "ha_states" && col("value").isNotNull)
      val w = Window.partitionBy(col("tags").getItem("entity_id"))
        .orderBy(col("time_ms").asc)
      val twin = raw
        .select(col("tags").getItem("entity_id").as("entity_id"),
          col("time_ms"), col("value"),
          lag(col("value"), 1).over(w).as("pv"))
        .groupBy(col("entity_id"),
          (expr("time_ms div 3600000") * hour).as("bucket_start_ms"))
        .agg(sum(
          when(col("pv").isNull, lit(0.0))
            .otherwise(when(col("value") >= col("pv"),
              col("value") - col("pv")).otherwise(col("value"))))
          .as("increase"))
      collect(twin) shouldBe Map(
        ("sensor.a", t0) -> 5.0, ("sensor.a", t0 + hour) -> 3.0)
    }
  }

  // shifted grid (offset 30min): bucketOf(t) = floorDiv(t-off,W)*W+off,
  // so boundaries sit at :30. Same lag chain, re-bucketed:
  //   a: 10@00:05(first,0)+15@00:20(+5) → [23:30]   3@00:50(reset,+3)+
  //      9@01:10(+6) → [00:30]   4@01:40(reset,+4) → [01:30]
  //   b: 100@00:10(first,0) → [23:30]   120@01:30(+20) → [01:30]
  private val off = 1800000L
  private val expectedShifted = Map(
    ("sensor.a", t0 - off) -> 5.0, ("sensor.a", t0 + off) -> 9.0,
    ("sensor.a", t0 + hour + off) -> 4.0,
    ("sensor.b", t0 - off) -> 0.0, ("sensor.b", t0 + hour + off) -> 20.0)

  test("shifted bucket grid (rollup.offsetMs): the fused POST windows " +
    "with offset:, a lying server re-buckets on the shifted grid, and " +
    "multi-shard stitching is unchanged") {
    withTransportFn(_ => counterCsv) { seen =>
      val opts = InfluxRollupRead.rateOptions(hour, Map(
        "bucket" -> "bkt", "readPartitions" -> "1",
        "rollup.group" -> "tag:entity_id",
        "rollup.measurement" -> "ha_states",
        "rollup.startMs" -> t0.toString,
        "rollup.stopMs" -> (t0 + 2 * hour).toString), offsetMs = off)
      collect(InfluxRollupRead.rateRead(spark, opts)
        .select(col("entity_id"), col("bucket_start_ms"),
          col("increase"))) shouldBe expectedShifted
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.size shouldBe 1
      fluxes.head should include(
        s"window(every: ${hour}ms, offset: ${off}ms)")
      // 4 shards: boundaries now cut shifted buckets mid-flight too
      collect(InfluxRollupRead.rateRead(spark,
        opts + ("readPartitions" -> "4"))
        .select(col("entity_id"), col("bucket_start_ms"),
          col("increase"))) shouldBe expectedShifted
    }
  }

  test("shifted pushed ≡ unpushed: the client lag() twin re-bucketed on " +
    "the shifted grid computes the identical per-bucket increases") {
    withTransportFn(_ => counterCsv) { _ =>
      val raw = spark.read.format("influx").option("bucket", "bkt").load()
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + 2 * hour &&
          col("measurement") === "ha_states" && col("value").isNotNull)
      val w = Window.partitionBy(col("tags").getItem("entity_id"))
        .orderBy(col("time_ms").asc)
      val twin = raw
        .select(col("tags").getItem("entity_id").as("entity_id"),
          col("time_ms"), col("value"),
          lag(col("value"), 1).over(w).as("pv"))
        .groupBy(col("entity_id"),
          (expr(s"(time_ms - $off) div $hour") * hour + off)
            .as("bucket_start_ms"))
        .agg(sum(
          when(col("pv").isNull, lit(0.0))
            .otherwise(when(col("value") >= col("pv"),
              col("value") - col("pv")).otherwise(col("value"))))
          .as("increase"))
      val opts = InfluxRollupRead.rateOptions(hour, Map(
        "bucket" -> "bkt", "readPartitions" -> "2",
        "rollup.group" -> "tag:entity_id",
        "rollup.measurement" -> "ha_states",
        "rollup.startMs" -> t0.toString,
        "rollup.stopMs" -> (t0 + 2 * hour).toString), offsetMs = off)
      val pushed = collect(InfluxRollupRead.rateRead(spark, opts)
        .select(col("entity_id"), col("bucket_start_ms"), col("increase")))
      collect(twin) shouldBe pushed
      pushed shouldBe expectedShifted
    }
  }

  test("validation: increase without its boundary companions fails loudly " +
    "at analysis time, and finalMerge refuses increase partials") {
    val opts = new java.util.HashMap[String, String]()
    opts.put("rollup.everyMs", hour.toString)
    opts.put("rollup.aggs", "increase")
    val e = intercept[IllegalArgumentException] {
      InfluxRollupRead.fromOptions(opts)
    }
    e.getMessage should include("first_num_time")
    val full = new java.util.HashMap[String, String]()
    full.put("rollup.everyMs", hour.toString)
    full.put("rollup.aggs",
      "increase,first_num_time,first_num_value,last_num_time,last_num_value")
    val spec = InfluxRollupRead.fromOptions(full).get
    val partials = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      InfluxRollupRead.schemaOf(spec))
    intercept[IllegalArgumentException] {
      InfluxRollupRead.finalMerge(partials, spec)
    }.getMessage should include("rateMerge")
  }
}
