package graft

import graft.sources.InfluxRollupRead
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.util.concurrent.ConcurrentLinkedQueue

/** Pushed Home Assistant LONG-TERM-STATISTICS reads: the per-bucket
  * (mean, min, max) row — the exact triple HA's statistics table stores
  * per hour — finished from ONE fused POST ladder: the TWA locf_area
  * spec plus the min/max rungs as branches of a single Flux program per
  * shard. The mean is twaMerge's hold-split algebra verbatim (shared
  * core); min/max ride the within-window piece rows and merge by plain
  * min/max, NULL on hold-covered empty buckets (a mean but no sample)
  * and present with a NULL mean on a bucket holding only a series' last
  * sample (samples but zero covered ms) — the HA table's own two
  * asymmetries. */
class InfluxStatisticsReadSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L // 2024-01-01T00:00:00Z
  private val hour = 3600000L

  // the InfluxTwaReadSpec fixture family:
  //   sensor.a: 10 @00:05, 15 @00:20, "on" @00:30, 3 @00:50,
  //             9 @01:10, 4 @01:40
  //   sensor.b: 100 @00:10, 120 @01:30
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

  // mean = the TWA fixture's expectations; min/max = plain per-bucket
  // numeric min/max ("on" invisible)
  private val expected = Map(
    ("sensor.a", t0) ->
      ((Some(37800000.0 / 3300000.0), Some(3.0), Some(15.0))),
    ("sensor.a", t0 + hour) -> ((Some(7.5), Some(4.0), Some(9.0))),
    ("sensor.b", t0) -> ((Some(100.0), Some(100.0), Some(100.0))),
    ("sensor.b", t0 + hour) -> ((Some(100.0), Some(120.0), Some(120.0))))

  private def withTransportFn[T](f: String => String)(
      body: ConcurrentLinkedQueue[String] => T): T = {
    val seen = new ConcurrentLinkedQueue[String]()
    FakeInflux.reads = Some { flux => seen.add(flux); f(flux) }
    try body(seen) finally FakeInflux.reads = None
  }

  private def statOpts(parts: Int, offsetMs: Long = 0L, hours: Int = 2) =
    InfluxRollupRead.statisticsOptions(hour, Map(
      "bucket" -> "bkt",
      "readPartitions" -> parts.toString,
      "rollup.group" -> "tag:entity_id",
      "rollup.measurement" -> "ha_states",
      "rollup.startMs" -> t0.toString,
      "rollup.stopMs" -> (t0 + hours * hour).toString), offsetMs)

  private def collect(df: org.apache.spark.sql.DataFrame)
      : Map[(String, Long), (Option[Double], Option[Double], Option[Double])] =
    df.select(col("entity_id"), col("bucket_start_ms"), col("twa"),
        col("min_value"), col("max_value"))
      .collect().map { r =>
        def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
        (r.getString(0), r.getLong(1)) -> ((opt(2), opt(3), opt(4)))
      }.toMap

  test("the full HA statistics row (mean, min, max) lands off ONE fused " +
    "POST per shard: string samples invisible, mean == twaRead's") {
    withTransportFn(_ => fixtureCsv) { seen =>
      collect(InfluxRollupRead.statisticsRead(spark,
        statOpts(parts = 1))) shouldBe expected
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.size shouldBe 1
      fluxes.head should include("events.duration")
      // min/max render as the dedicated Flux selectors: per-window
      // sort + limit(1) in both directions
      fluxes.head should include(
        """sort(columns: ["_value"], desc: false)""")
      fluxes.head should include(
        """sort(columns: ["_value"], desc: true)""")
      fluxes.head should include("limit(n: 1)")
      // 7 branches, one program: locf_area + 4 boundary slots + min + max
      fluxes.head should include(
        "union(tables: [b0, b1, b2, b3, b4, b5, b6])")
    }
  }

  test("multi-shard stitching: shard cuts split buckets and holds " +
    "mid-flight; min/max merge by plain min/max, the mean by the hold " +
    "split — identical to the single-shard answer") {
    withTransportFn(_ => fixtureCsv) { seen =>
      collect(InfluxRollupRead.statisticsRead(spark,
        statOpts(parts = 4))) shouldBe expected
      Iterator.continually(seen.poll()).takeWhile(_ != null).size shouldBe 4
    }
  }

  test("a hold-covered EMPTY bucket carries the mean but NULL min/max; " +
    "a bucket holding only the series' LAST sample carries min/max with " +
    "a NULL mean") {
    // sensor.c: 7 @00:10, 13 @02:50 — hour 1 is empty but hold-covered;
    // hour 2 holds only the last sample (nothing after it to weight)
    val sparseCsv =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,string,string,string,string
        |#group,false,false,true,true,false,false,true,true,true
        |#default,_result,,,,,,,,
        |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T03:00:00Z,2024-01-01T00:10:00Z,7.0,value,ha_states,sensor.c
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T03:00:00Z,2024-01-01T02:50:00Z,13.0,value,ha_states,sensor.c
        |""".stripMargin
    withTransportFn(_ => sparseCsv) { _ =>
      Seq(1, 3).foreach { parts =>
        collect(InfluxRollupRead.statisticsRead(spark,
          statOpts(parts, hours = 3))) shouldBe Map(
          ("sensor.c", t0) -> ((Some(7.0), Some(7.0), Some(7.0))),
          ("sensor.c", t0 + hour) -> ((Some(7.0), None, None)),
          ("sensor.c", t0 + 2 * hour) -> ((Some(7.0), Some(13.0), Some(13.0))))
      }
    }
  }

  test("statisticsRead ≡ twaRead ⋈ plain min/max rollup over random " +
    "walks × shards × shifted grids (property)") {
    import InfluxCsvFixture.{S, csvOf}
    import org.scalacheck.{Gen, Prop}
    val span = 3 * hour
    val samplesGen: Gen[List[S]] = for {
      n <- Gen.chooseNum(0, 24)
      raw <- Gen.listOfN(n, for {
        ent <- Gen.oneOf("a", "b")
        slot <- Gen.chooseNum(0L, 35L)
        v <- Gen.frequency(
          5 -> Gen.chooseNum(0, 400).map(x => Some(x / 4.0)),
          1 -> Gen.const(None))
      } yield S(Some(ent), t0 + slot * 300000L, v))
    } yield raw.groupBy(s => (s.entity, s.ms)).map(_._2.head).toList
    val gen = for {
      ss <- samplesGen
      parts <- Gen.chooseNum(1, 3)
      off <- Gen.oneOf(0L, 300000L, 1800000L)
    } yield (ss, parts, off)
    val prop = Prop.forAllNoShrink(gen) { case (ss, parts, off) =>
      withTransportFn(_ => csvOf(ss)) { _ =>
        val base = Map("bucket" -> "bkt",
          "readPartitions" -> parts.toString,
          "rollup.group" -> "tag:entity_id",
          "rollup.measurement" -> "ha_states",
          "rollup.startMs" -> t0.toString,
          "rollup.stopMs" -> (t0 + span).toString)
        val stats = collect(InfluxRollupRead.statisticsRead(spark,
          InfluxRollupRead.statisticsOptions(hour, base, off)))
        // twin 1: the TWA read's mean wherever coverage exists
        val twa = InfluxRollupRead.twaRead(spark,
            InfluxRollupRead.twaOptions(hour, base, off))
          .select(col("entity_id"), col("bucket_start_ms"), col("twa"))
          .collect().map(r =>
            (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
        // twin 2: the plain min/max rollup (finalMerge algebra)
        val mmOpts = base ++ Map("rollup.everyMs" -> hour.toString,
          "rollup.aggs" -> "min_value,max_value") ++
          (if (off != 0L) Map("rollup.offsetMs" -> off.toString)
           else Map.empty)
        val mmSpec = InfluxRollupRead.fromOptions(
          scala.jdk.CollectionConverters.MapHasAsJava(mmOpts).asJava).get
        val mm = InfluxRollupRead.finalMerge(
            mmOpts.foldLeft(spark.read.format("influx")) {
              case (r, (k, v)) => r.option(k, v)
            }.load(), mmSpec)
          .collect().map { r =>
            def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
            (r.getString(0), r.getLong(1)) -> ((opt(2), opt(3)))
          }.toMap
        val meanOk = stats.forall { case (k, (m, _, _)) =>
          m == twa.get(k) } && twa.keySet.forall(stats.contains)
        val mmOk = stats.forall { case (k, (_, mn, mx)) =>
          (mn, mx) == mm.getOrElse(k, (None, None)) } &&
          mm.filter(x => x._2._1.isDefined || x._2._2.isDefined)
            .keySet.forall(stats.contains)
        meanOk && mmOk
      }
    }
    PropCheck.check(prop, minSuccessful = 12, tag = "InfluxStatisticsReadSpec#1")
  }
}
