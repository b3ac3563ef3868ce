package graft

import graft.etl.InfluxSink
import graft.sources.InfluxRollupRead
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.util.concurrent.ConcurrentLinkedQueue

/** The REVERSE statistics migration — backfill long-term statistics FROM
  * an existing Influx bucket: pushed statisticsRead (ONE fused POST per
  * shard) grouped by the (domain, entity_id) TAG PAIR — the split form
  * every point this pipeline actually writes (tags never carry the full
  * dotted id) — → recorder-shaped rows keyed by statistics_meta via the
  * first-dot split of statistic_id (F1) → the SAME statisticsPoints sink
  * path the forward migration uses, under the same reverse-incremental
  * watermark contract (strictly-older rows only). Completes the S2/S3
  * symmetry the states family already has. */
class ReverseStatisticsSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L // 2024-01-01T00:00:00Z
  private val hour = 3600000L

  // the InfluxStatisticsReadSpec value shapes, carried on SPLIT tags —
  // domain=sensor plus SHORT entity ids, including a DOTTED object id
  // ("esp.c" → statistic_id sensor.esp.c, the F1 first-dot round-trip):
  //   a: 10 @00:05, 15 @00:20, "on" @00:30, 3 @00:50, 9 @01:10, 4 @01:40
  //   esp.c: 100 @00:10, 120 @01:30
  private val fixtureCsv =
    """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,string,string,string,string,string
      |#group,false,false,true,true,false,false,true,true,true,true
      |#default,_result,,,,,,,,,
      |,result,table,_start,_stop,_time,_value,_field,_measurement,domain,entity_id
      |,_result,0,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T00:05:00Z,10.0,value,ha_states,sensor,a
      |,_result,0,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T00:20:00Z,15.0,value,ha_states,sensor,a
      |,_result,0,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T00:30:00Z,on,value,ha_states,sensor,a
      |,_result,0,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T00:50:00Z,3.0,value,ha_states,sensor,a
      |,_result,0,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T01:10:00Z,9.0,value,ha_states,sensor,a
      |,_result,0,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T01:40:00Z,4.0,value,ha_states,sensor,a
      |,_result,1,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T00:10:00Z,100.0,value,ha_states,sensor,esp.c
      |,_result,1,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T01:30:00Z,120.0,value,ha_states,sensor,esp.c
      |""".stripMargin

  private def withTransport[T](body: ConcurrentLinkedQueue[String] => T): T = {
    val seen = new ConcurrentLinkedQueue[String]()
    FakeInflux.reads =
      Some { flux => seen.add(flux); fixtureCsv }
    try body(seen) finally FakeInflux.reads = None
  }

  private def opts(parts: Int) =
    InfluxRollupRead.statisticsOptions(hour, Map(
      "bucket" -> "bkt",
      "readPartitions" -> parts.toString,
      "rollup.group" -> "tag:domain,tag:entity_id",
      "rollup.measurement" -> "ha_states",
      "rollup.startMs" -> t0.toString,
      "rollup.stopMs" -> (t0 + 2 * hour).toString))

  test("statisticsRead → statisticsPoints → line protocol under the " +
    "watermark contract: strictly-older rows export, the SPLIT tag pair " +
    "keys back onto statistic_id (incl. a dotted object id), unit " +
    "posture and the ha_type marker ride through, ONE POST per shard") {
    val sparkS = spark
    import sparkS.implicits._
    val meta = Seq(
      (1, "sensor.a", "C", true, false),
      (2, "sensor.esp.c", null.asInstanceOf[String], true, false)
    ).toDF("metadata_id", "statistic_id", "unit_of_measurement",
      "has_mean", "has_sum")
    withTransport { seen =>
      val read = InfluxRollupRead.statisticsRead(spark, opts(parts = 1))
      // watermark = hour 1 start → only the hour-0 rows are strictly older
      val points = Backfill.reverseStatisticsPlan(read, meta,
        watermarkMs = Some(t0 + hour))
      val lines = InfluxSink.asPoints(points)
        .collect().map(InfluxSink.toLine).sorted
      val meanA = 37800000.0 / 3300000.0 // the read's hold-split h0 twa
      lines shouldBe Array(
        s"C,domain=sensor,entity_id=a,ha_type=statistics,source=HA " +
          s"max=15.0,mean=$meanA,min=3.0 1704067200000000000",
        // absent unit → default_measurement (F4's order, both halves);
        // the dotted object id survives the first-dot split round-trip
        "default_measurement,domain=sensor,entity_id=esp.c," +
          "ha_type=statistics,source=HA max=100.0,mean=100.0,min=100.0 " +
          "1704067200000000000")
      Iterator.continually(seen.poll()).takeWhile(_ != null).size shouldBe 1
    }
  }

  test("no watermark exports every read bucket; a sensor absent from " +
    "statistics_meta drops (inner key join); a sum-typed sensor renders " +
    "no mean row (empty field set dropped)") {
    val sparkS = spark
    import sparkS.implicits._
    // esp.c: sum-typed → the mean-row read has nothing to publish;
    // no meta row at all for a hypothetical third sensor
    val meta = Seq(
      (1, "sensor.a", "C", true, false),
      (2, "sensor.esp.c", "kWh", false, true)
    ).toDF("metadata_id", "statistic_id", "unit_of_measurement",
      "has_mean", "has_sum")
    withTransport { _ =>
      val read = InfluxRollupRead.statisticsRead(spark, opts(parts = 2))
      val lines = InfluxSink.asPoints(
          Backfill.reverseStatisticsPlan(read, meta, None))
        .collect().map(InfluxSink.toLine)
      // sensor.a exports BOTH hours (h1: twa 7.5, min 4, max 9); nothing
      // from the sum-typed esp.c
      lines.length shouldBe 2
      all(lines) should startWith("C,")
      lines.map(_.split(' ').last).sorted shouldBe
        Array("1704067200000000000", "1704070800000000000")
      lines.find(_.endsWith("1704070800000000000")).get should
        include("max=9.0,mean=7.5,min=4.0")
      // the silently-skipped half is VISIBLE: reverseStatisticsSkipped
      // returns exactly the sum-only meta rows the mean-row read drops
      Backfill.reverseStatisticsSkipped(meta)
        .select("statistic_id").as[String].collect() shouldBe
        Array("sensor.esp.c")
      // older-schema fallback (no has_sum column): NOT has_mean is
      // sum-typed, mirroring statisticsPipeline's own fallback
      Backfill.reverseStatisticsSkipped(meta.drop("has_sum"))
        .select("statistic_id").as[String].collect() shouldBe
        Array("sensor.esp.c")
    }
  }
}
