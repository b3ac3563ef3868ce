package graft

import graft.sources.InfluxRollupRead
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.util.concurrent.ConcurrentLinkedQueue

/** Pushed trailing moving-average panel (InfluxRollupRead.movingAvgRead):
  * Grafana's timedMovingAverage composed from per-bucket (sum, count)
  * partials — the sufficient statistics of any whole-bucket-window
  * average, so only (series × occupied-bucket) rows leave the server.
  * Every case is pinned against the sequential model: occupied bucket b
  * reports avg over the NUMERIC samples in (b-(lookback-1)·W .. b+W);
  * fixtures are dyadic (k/4) so the re-summed partials match the direct
  * sum bit-for-bit regardless of add order. */
class InfluxMovingAvgSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L // 2024-01-01T00:00:00Z
  private val hour = 3600000L

  // (entity, ms offset from t0, value | None for a string sample);
  // hour 2 is a gap for sensor.a — the RANGE frame must skip it, never
  // average over a densified zero
  private val samples: Seq[(String, Long, Option[Double])] = Seq(
    ("sensor.a", 5 * 60000L, Some(1.25)),
    ("sensor.a", 40 * 60000L, Some(2.75)),
    ("sensor.a", 70 * 60000L, Some(4.0)),
    ("sensor.a", 80 * 60000L, None), // string — excluded from the avg
    ("sensor.a", 190 * 60000L, Some(8.5)), // hour 3; hour 2 empty
    ("sensor.b", 50 * 60000L, None), // b's hour 0 is string-ONLY
    ("sensor.b", 110 * 60000L, Some(3.5)))

  private def csvOf(ss: Seq[(String, Long, Option[Double])]): String = {
    val sb = new StringBuilder
    sb.append("#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,")
      .append("dateTime:RFC3339,string,string,string,string\n")
      .append("#group,false,false,true,true,false,false,true,true,true\n")
      .append("#default,_result,,,,,,,,\n")
      .append(",result,table,_start,_stop,_time,_value,_field,")
      .append("_measurement,entity_id\n")
    ss.foreach { case (e, off, v) =>
      sb.append(",_result,0,2024-01-01T00:00:00Z,2024-01-01T06:00:00Z,")
        .append(java.time.Instant.ofEpochMilli(t0 + off).toString).append(',')
        .append(v.fold("on")(_.toString)).append(",value,ha_states,")
        .append(e).append('\n')
    }
    sb.toString
  }

  /** Sequential reference: per NUMERIC-occupied bucket (string samples
    * are invisible to an average, so they create no panel row), the mean
    * of the numeric samples whose bucket lies in the trailing
    * `lookback`-bucket window. */
  private def model(ss: Seq[(String, Long, Option[Double])], everyMs: Long,
                    lookback: Int, offsetMs: Long = 0L)
      : Map[(String, Long), Option[Double]] = {
    def bucket(ms: Long) =
      Math.floorDiv(ms - offsetMs, everyMs) * everyMs + offsetMs
    val num = ss.collect { case (e, off, Some(v)) => (e, off, v) }
    num.groupBy(_._1).flatMap { case (e, es) =>
      es.map(x => bucket(t0 + x._2)).distinct.map { b =>
        val in = es.filter { x =>
          val xb = bucket(t0 + x._2)
          xb > b - lookback.toLong * everyMs && xb <= b
        }
        (e, b) -> Some(in.map(_._3).sum / in.size)
      }
    }
  }

  private def withStub[T](csv: String)(body: ConcurrentLinkedQueue[String] => T): T = {
    val seen = new ConcurrentLinkedQueue[String]()
    FakeInflux.reads = Some { f => seen.add(f); csv }
    try body(seen) finally FakeInflux.reads = None
  }

  private def opts(parts: Int, offsetMs: Long = 0L) =
    InfluxRollupRead.movingOptions(hour, Map(
      "bucket" -> "bkt",
      "readPartitions" -> parts.toString,
      "rollup.group" -> "tag:entity_id",
      "rollup.measurement" -> "ha_states",
      "rollup.startMs" -> t0.toString,
      "rollup.stopMs" -> (t0 + 6 * hour).toString), offsetMs)

  private def collect(df: org.apache.spark.sql.DataFrame) =
    df.collect().map { r =>
      (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    }.toMap

  test("pushed panel ≡ the sequential model: the RANGE frame skips the " +
    "empty bucket, string samples never count, and a string-only bucket " +
    "creates no panel row (numeric occupancy)") {
    withStub(csvOf(samples)) { seen =>
      val got = collect(
        InfluxRollupRead.movingAvgRead(spark, opts(1), lookback = 2))
      got shouldBe model(samples, hour, 2)
      // a's hour-1 bucket averages hours 0+1 = {1.25, 2.75, 4.0}
      got(("sensor.a", t0 + hour)) shouldBe Some((1.25 + 2.75 + 4.0) / 3)
      // a's hour-3 window is hours 2+3; hour 2 is EMPTY (absent row, not
      // a zero) so the average is over {8.5} alone
      got(("sensor.a", t0 + 3 * hour)) shouldBe Some(8.5)
      // b's hour-0 bucket holds only the string sample: no numeric
      // occupancy, no panel row — an average over nothing is not a row
      got.keySet should not contain (("sensor.b", t0))
      // the POST is the windowed (sum, count) rollup, never samples
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.size shouldBe 1
      fluxes.head should include("window(every: 3600000ms)")
      fluxes.head should include("""group(columns: ["entity_id"])""")
    }
  }

  test("multi-shard: 4 range shards cut buckets mid-flight; dyadic " +
    "values make the re-summed partials bit-identical to one shard") {
    withStub(csvOf(samples)) { seen =>
      collect(InfluxRollupRead.movingAvgRead(spark, opts(4), lookback = 2)) shouldBe
        model(samples, hour, 2)
      Iterator.continually(seen.poll()).takeWhile(_ != null).size shouldBe 4
    }
  }

  test("lookback = 1 degenerates to the per-bucket average") {
    withStub(csvOf(samples)) { _ =>
      val got = collect(
        InfluxRollupRead.movingAvgRead(spark, opts(1), lookback = 1))
      got shouldBe model(samples, hour, 1)
      got(("sensor.a", t0)) shouldBe Some((1.25 + 2.75) / 2)
      got(("sensor.a", t0 + hour)) shouldBe Some(4.0)
    }
  }

  test("shifted bucket grid (offsetMs): buckets sit on the shifted grid " +
    "and the trailing frame follows it") {
    val off = 30 * 60000L
    withStub(csvOf(samples)) { seen =>
      val got = collect(InfluxRollupRead.movingAvgRead(
        spark, opts(1, off), lookback = 2))
      got shouldBe model(samples, hour, 2, off)
      got.keySet.map(_._2).foreach(b =>
        Math.floorMod(b, hour) shouldBe off)
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      all(fluxes) should include("offset: 1800000ms")
    }
  }

  test("rollup.tagRegex composes: the panel only carries matching " +
    "series even off a full-dump lying server (per-sample re-check)") {
    withStub(csvOf(samples)) { seen =>
      val narrowed = opts(1) +
        ("rollup.tagRegex" -> graft.sources.InfluxTable.encodeTagRegex(
          Seq("entity_id" -> "^sensor\\.a")))
      val got = collect(
        InfluxRollupRead.movingAvgRead(spark, narrowed, lookback = 2))
      got shouldBe model(samples.filter(_._1 == "sensor.a"), hour, 2)
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      all(fluxes) should include(
        """filter(fn: (r) => r["entity_id"] =~ /^sensor\.a/)""")
    }
  }

  test("loud validation: lookback < 1 and a spec without (sum, count) " +
    "both refuse") {
    an[IllegalArgumentException] should be thrownBy
      InfluxRollupRead.movingAvgRead(spark, opts(1), lookback = 0)
    val bare = InfluxRollupRead.fromOptions(scala.jdk.CollectionConverters
      .MapHasAsJava(Map("rollup.everyMs" -> hour.toString,
        "rollup.aggs" -> "count")).asJava).get
    an[IllegalArgumentException] should be thrownBy
      InfluxRollupRead.movingAvgPanel(spark.emptyDataFrame, bare, 2)
  }
}
