package graft

import graft.sources.InfluxRollupRead
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.util.concurrent.ConcurrentLinkedQueue

/** Pushed LOCF panel (InfluxRollupRead.locfRead): the "current value per
  * sensor at grid times" read composed from the ladder's
  * last_value/max_time rollup — only (series × occupied-bucket) rows
  * leave the server, and the grid fill carries each bucket's newest
  * observation ATOMICALLY (a string-typed newest sample carries its NULL
  * value together with its timestamp). Every case is pinned against the
  * sequential model: tick t reports the newest raw sample STRICTLY
  * before t. */
class InfluxLocfReadSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L // 2024-01-01T00:00:00Z
  private val hour = 3600000L

  // (entity, ms offset from t0, value | None for a string sample)
  private val samples: Seq[(String, Long, Option[Double])] = Seq(
    ("sensor.a", 5 * 60000L, Some(10.0)),
    ("sensor.a", 40 * 60000L, None), // "on" — newest of a's hour 0
    ("sensor.a", 130 * 60000L, Some(7.5)), // hour 2; hour 1 is a gap
    ("sensor.b", 50 * 60000L, Some(3.0)))

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

  /** The sequential reference: LOCF evaluated AT each grid tick over the
    * raw samples — newest sample strictly before the tick, its numeric
    * value (None when string-typed) and timestamp as one pair. Ticks
    * start at each entity's first occupied bucket + every and run to
    * stop (per-entity last occupied tick when None). */
  private def model(ss: Seq[(String, Long, Option[Double])], everyMs: Long,
                    offsetMs: Long, stopMs: Option[Long])
      : Map[(String, Long), (Option[Double], Long)] = {
    def bucket(ms: Long) =
      Math.floorDiv(ms - offsetMs, everyMs) * everyMs + offsetMs
    ss.groupBy(_._1).flatMap { case (e, es) =>
      val first = bucket(es.map(t0 + _._2).min) + everyMs
      val selfLast = bucket(es.map(t0 + _._2).max) + everyMs
      val last = stopMs.fold(selfLast)(s =>
        math.max(selfLast, s - Math.floorMod(s - first, everyMs)))
      (first to last by everyMs).map { tick =>
        val before = es.filter(x => t0 + x._2 < tick)
        val (_, off, v) = before.maxBy(_._2)
        (e, tick) -> (v, t0 + off)
      }
    }
  }

  private def withStub[T](csv: String)(body: ConcurrentLinkedQueue[String] => T): T = {
    val seen = new ConcurrentLinkedQueue[String]()
    FakeInflux.reads = Some { f => seen.add(f); csv }
    try body(seen) finally FakeInflux.reads = None
  }

  private def opts(parts: Int, stopMs: Long, offsetMs: Long = 0L) =
    InfluxRollupRead.locfOptions(hour, Map(
      "bucket" -> "bkt",
      "readPartitions" -> parts.toString,
      "rollup.group" -> "tag:entity_id",
      "rollup.measurement" -> "ha_states",
      "rollup.startMs" -> t0.toString,
      "rollup.stopMs" -> stopMs.toString), offsetMs)

  private def collect(df: org.apache.spark.sql.DataFrame) =
    df.collect().map { r =>
      (r.getString(0), r.getLong(1)) ->
        ((if (r.isNullAt(2)) None else Some(r.getDouble(2))), r.getLong(3))
    }.toMap

  test("pushed panel ≡ the sequential strictly-before model: gaps " +
    "carried, a string-typed newest sample carries (NULL, its time) as " +
    "one pair — never an older numeric value under a newer timestamp") {
    withStub(csvOf(samples)) { seen =>
      val got = collect(
        InfluxRollupRead.locfRead(spark, opts(1, t0 + 4 * hour)))
      got shouldBe model(samples, hour, 0L, None)
      // a's hour-1 and hour-2 ticks carry the string observation's pair
      got(("sensor.a", t0 + hour)) shouldBe(None, t0 + 40 * 60000L)
      got(("sensor.a", t0 + 2 * hour)) shouldBe(None, t0 + 40 * 60000L)
      got(("sensor.a", t0 + 3 * hour)) shouldBe(Some(7.5), t0 + 130 * 60000L)
      // the POST is the windowed last-observation rollup, never samples
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.size shouldBe 1
      fluxes.head should include("window(every: 3600000ms)")
      fluxes.head should include("""group(columns: ["entity_id"])""")
    }
  }

  test("multi-shard: 4 range shards cut buckets mid-flight and the " +
    "merged panel is unchanged") {
    withStub(csvOf(samples)) { seen =>
      collect(InfluxRollupRead.locfRead(spark, opts(4, t0 + 4 * hour))) shouldBe
        model(samples, hour, 0L, None)
      Iterator.continually(seen.poll()).takeWhile(_ != null).size shouldBe 4
    }
  }

  test("stopMs extends every series to the 'now' tick with its stale " +
    "value carried; it never trims below a series' own last tick") {
    withStub(csvOf(samples)) { _ =>
      val stop = t0 + 3 * hour + 1
      val got = collect(
        InfluxRollupRead.locfRead(spark, opts(2, t0 + 4 * hour), Some(stop)))
      got shouldBe model(samples, hour, 0L, Some(stop))
      // b's panel extends past its only sample to the global stop tick
      got(("sensor.b", t0 + 2 * hour)) shouldBe(Some(3.0), t0 + 50 * 60000L)
      got(("sensor.b", t0 + 3 * hour)) shouldBe(Some(3.0), t0 + 50 * 60000L)
      got.keySet.filter(_._1 == "sensor.b").map(_._2).max shouldBe t0 + 3 * hour
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
      val got = collect(InfluxRollupRead.locfRead(
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
      val got = collect(InfluxRollupRead.locfRead(spark, narrowed))
      got shouldBe model(samples.filter(_._1 == "sensor.a"), hour, 0L, None)
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      all(fluxes) should include(
        """filter(fn: (r) => r["entity_id"] =~ /^sensor\.a/)""")
    }
  }

  test("locfOptions refuses nothing but composes: the spec requires " +
    "last_value+max_time and locfPanel rejects a spec without them") {
    val bare = InfluxRollupRead.fromOptions(scala.jdk.CollectionConverters
      .MapHasAsJava(Map("rollup.everyMs" -> hour.toString,
        "rollup.aggs" -> "count")).asJava).get
    an[IllegalArgumentException] should be thrownBy
      InfluxRollupRead.locfPanel(spark.emptyDataFrame, bare)
  }
}
