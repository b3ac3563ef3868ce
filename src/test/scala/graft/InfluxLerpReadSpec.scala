package graft

import graft.sources.InfluxRollupRead
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.util.concurrent.ConcurrentLinkedQueue

/** Pushed linear-interpolation panel (InfluxRollupRead.lerpRead): the
  * "interpolated sensor value at grid times" read composed from the
  * ladder's four numeric boundary slots — only (series × occupied-bucket)
  * rows leave the server, and the grid fill brackets each tick between
  * its nearest numeric samples. Every case is pinned against the
  * sequential model: tick t reports pv + (nv-pv)·(t-pt)/(nt-pt) over the
  * nearest numeric samples, with first/last-value extension at the edges
  * — the same convention `events_lerp_panel` proves oracle-exact against
  * `events_resample_linear` on parquet. */
class InfluxLerpReadSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L // 2024-01-01T00:00:00Z
  private val hour = 3600000L

  // (entity, ms offset from t0, value | None for a string sample)
  private val samples: Seq[(String, Long, Option[Double])] = Seq(
    ("sensor.a", 5 * 60000L, Some(10.0)),
    ("sensor.a", 40 * 60000L, None), // "on" — invisible to interpolation
    ("sensor.a", 120 * 60000L, Some(6.0)), // EXACTLY on the hour-2 tick
    ("sensor.a", 130 * 60000L, Some(7.5)), // hour 2; hour 1 is a gap
    ("sensor.a", 150 * 60000L, Some(8.25)),
    ("sensor.b", 50 * 60000L, Some(3.0)),
    ("sensor.s", 70 * 60000L, None)) // string-only: no numeric panel

  private def csvOf(ss: Seq[(String, Long, Option[Double])]): String = {
    val sb = new StringBuilder
    sb.append("#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,")
      .append("dateTime:RFC3339,string,string,string,string\n")
      .append("#group,false,false,true,true,false,false,true,true,true\n")
      .append("#default,_result,,,,,,,,\n")
      .append(",result,table,_start,_stop,_time,_value,_field,")
      .append("_measurement,entity_id\n")
    ss.foreach { case (e, off, v) =>
      sb.append(",_result,0,2024-01-01T00:00:00Z,2024-01-01T04:00:00Z,")
        .append(java.time.Instant.ofEpochMilli(t0 + off).toString).append(',')
        .append(v.fold("on")(_.toString)).append(",value,ha_states,")
        .append(e).append('\n')
    }
    sb.toString
  }

  /** The sequential reference: interpolation evaluated AT each grid tick
    * over the raw NUMERIC samples. Ticks run from the first occupied
    * bucket's START (back-filled with the first value) through the last
    * occupied bucket's start, extended to the stop tick (last value
    * carried) when stopMs is given; a tick bracketed by samples takes
    * pv + (nv-pv)·(t-pt)/(nt-pt) in the exact double arithmetic of the
    * pushed fill. String-only entities have no panel at all. */
  private def model(ss: Seq[(String, Long, Option[Double])], everyMs: Long,
                    offsetMs: Long, stopMs: Option[Long])
      : Map[(String, Long), Double] = {
    def bucket(ms: Long) =
      Math.floorDiv(ms - offsetMs, everyMs) * everyMs + offsetMs
    ss.collect { case (e, off, Some(v)) => (e, t0 + off, v) }
      .groupBy(_._1).flatMap { case (e, es0) =>
        val es = es0.sortBy(_._2)
        val first = bucket(es.head._2)
        val selfLast = bucket(es.last._2)
        val last = stopMs.fold(selfLast)(s =>
          math.max(selfLast, s - Math.floorMod(s - first, everyMs)))
        (first to last by everyMs).map { tick =>
          val v =
            if (tick <= es.head._2) es.head._3
            else if (tick >= es.last._2) es.last._3
            else {
              val (_, pt, pv) = es.filter(_._2 <= tick).last
              val (_, nt, nv) = es.find(_._2 > tick).get
              pv + (nv - pv) * ((tick - pt).toDouble / (nt - pt).toDouble)
            }
          (e, tick) -> v
        }
      }
  }

  private def withStub[T](csv: String)(body: ConcurrentLinkedQueue[String] => T): T = {
    val seen = new ConcurrentLinkedQueue[String]()
    FakeInflux.reads = Some { f => seen.add(f); csv }
    try body(seen) finally FakeInflux.reads = None
  }

  private def opts(parts: Int, stopMs: Long, offsetMs: Long = 0L) =
    InfluxRollupRead.lerpOptions(hour, Map(
      "bucket" -> "bkt",
      "readPartitions" -> parts.toString,
      "rollup.group" -> "tag:entity_id",
      "rollup.measurement" -> "ha_states",
      "rollup.startMs" -> t0.toString,
      "rollup.stopMs" -> stopMs.toString), offsetMs)

  private def collect(df: org.apache.spark.sql.DataFrame) =
    df.collect().map { r =>
      (r.getString(0), r.getLong(1)) -> r.getDouble(2)
    }.toMap

  test("pushed panel ≡ the sequential bracket model: back-fill before " +
    "the first sample, exact hit ON a sample, interpolation across an " +
    "empty bucket, string samples invisible, string-only series absent") {
    withStub(csvOf(samples)) { seen =>
      val got = collect(
        InfluxRollupRead.lerpRead(spark, opts(1, t0 + 4 * hour)))
      got shouldBe model(samples, hour, 0L, None)
      // a's hour-0 tick back-fills its first sample (tick < sample time)
      got(("sensor.a", t0)) shouldBe 10.0
      // a's hour-1 tick brackets ACROSS the empty hour: 10.0@5min →
      // 6.0@120min, evaluated at 60min — the string sample at 40min is
      // invisible (the reference model computes the same expression)
      got(("sensor.a", t0 + hour)) shouldBe
        (10.0 + (6.0 - 10.0) * (3300000.0 / 6900000.0) +- 1e-12)
      // a's hour-2 tick lands EXACTLY on the 6.0 sample: taken verbatim
      got(("sensor.a", t0 + 2 * hour)) shouldBe 6.0
      // string-only series: no numeric slots anywhere → no panel rows
      got.keySet.map(_._1) should not contain "sensor.s"
      // the POST is the windowed boundary-slot rollup, never samples
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.size shouldBe 1
      fluxes.head should include("window(every: 3600000ms)")
      fluxes.head should include("""group(columns: ["entity_id"])""")
    }
  }

  test("multi-shard: 4 range shards cut buckets mid-flight and the " +
    "merged panel is unchanged bit-for-bit") {
    withStub(csvOf(samples)) { seen =>
      collect(InfluxRollupRead.lerpRead(spark, opts(4, t0 + 4 * hour))) shouldBe
        model(samples, hour, 0L, None)
      Iterator.continually(seen.poll()).takeWhile(_ != null).size shouldBe 4
    }
  }

  test("stopMs extends every series past its last sample with the last " +
    "value carried; it never trims below a series' own last tick") {
    withStub(csvOf(samples)) { _ =>
      val stop = t0 + 3 * hour + 1
      val got = collect(
        InfluxRollupRead.lerpRead(spark, opts(2, t0 + 4 * hour), Some(stop)))
      got shouldBe model(samples, hour, 0L, Some(stop))
      // b's panel extends past its only sample, flat at that value
      got(("sensor.b", t0 + 2 * hour)) shouldBe 3.0
      got(("sensor.b", t0 + 3 * hour)) shouldBe 3.0
      got.keySet.filter(_._1 == "sensor.b").map(_._2).max shouldBe t0 + 3 * hour
      // a's panel still ends at its own last occupied tick (2h < 3h stop
      // tick is BELOW selfLast? no — stop extends a too)
      got.keySet.filter(_._1 == "sensor.a").map(_._2).max shouldBe t0 + 3 * hour
    }
  }

  test("shifted bucket grid (offsetMs): ticks sit on the shifted grid " +
    "and the panel still matches the sequential model") {
    val shifted: Seq[(String, Long, Option[Double])] = Seq(
      ("sensor.c", 40 * 60000L, Some(1.0)),
      ("sensor.c", 70 * 60000L, Some(2.0)),
      ("sensor.c", 200 * 60000L, Some(5.0)))
    val off = 30 * 60000L
    withStub(csvOf(shifted)) { seen =>
      val got = collect(InfluxRollupRead.lerpRead(
        spark, opts(1, t0 + 4 * hour, off), Some(t0 + 4 * hour)))
      got shouldBe model(shifted, hour, off, Some(t0 + 4 * hour))
      got.keySet.map(_._2).foreach(t =>
        Math.floorMod(t, hour) shouldBe off)
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      all(fluxes) should include("offset: 1800000ms")
    }
  }

  test("rollup.tagRegex composes: the panel only carries matching " +
    "series even off a full-dump lying server (per-sample re-check)") {
    withStub(csvOf(samples)) { seen =>
      val narrowed = opts(1, t0 + 4 * hour) +
        ("rollup.tagRegex" -> graft.sources.InfluxTable.encodeTagRegex(
          Seq("entity_id" -> "^sensor\\.a")))
      val got = collect(InfluxRollupRead.lerpRead(spark, narrowed))
      got shouldBe model(samples.filter(_._1 == "sensor.a"), hour, 0L, None)
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      all(fluxes) should include(
        """filter(fn: (r) => r["entity_id"] =~ /^sensor\.a/)""")
    }
  }

  test("lerpPanel rejects a spec without the four boundary slots") {
    val bare = InfluxRollupRead.fromOptions(scala.jdk.CollectionConverters
      .MapHasAsJava(Map("rollup.everyMs" -> hour.toString,
        "rollup.aggs" -> "count")).asJava).get
    an[IllegalArgumentException] should be thrownBy
      InfluxRollupRead.lerpPanel(spark.emptyDataFrame, bare)
  }
}
