package graft

import graft.sources.InfluxRollupRead
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.util.concurrent.ConcurrentLinkedQueue

/** Pushed stddev/variance panel (InfluxRollupRead.stddevRead): the "σ per
  * sensor per hour" dispersion dashboard composed from per-bucket raw
  * moments (Σv, Σv², n) — the sufficient statistics that, unlike Flux's
  * own stddev(), merge across range shards and stream triggers by plain
  * addition, so only (series × occupied-bucket) rows ever leave the
  * server. Every case pins against the sequential model running the
  * IDENTICAL final op sequence (var = (Σv² − (Σv)²/n)/(n−1)); fixtures
  * are dyadic (k/4, squares k²/16) so the re-summed partials match the
  * direct moments bit-for-bit regardless of add order. */
class InfluxStddevSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L // 2024-01-01T00:00:00Z
  private val hour = 3600000L

  // (entity, ms offset from t0, value | None for a string sample);
  // a's hour 2 holds ONE numeric sample (n=1 → NULL variance), b's
  // hour 0 is string-only (no numeric occupancy → no panel row)
  private val samples: Seq[(String, Long, Option[Double])] = Seq(
    ("sensor.a", 5 * 60000L, Some(1.25)),
    ("sensor.a", 40 * 60000L, Some(2.75)),
    ("sensor.a", 70 * 60000L, Some(4.0)),
    ("sensor.a", 75 * 60000L, Some(6.5)),
    ("sensor.a", 80 * 60000L, None), // string — invisible to the moments
    ("sensor.a", 130 * 60000L, Some(8.5)), // hour 2: singleton
    ("sensor.b", 50 * 60000L, None), // b's hour 0 is string-ONLY
    ("sensor.b", 110 * 60000L, Some(3.5)),
    ("sensor.b", 115 * 60000L, Some(4.5)))

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

  /** Sequential reference running the panel's exact final arithmetic
    * over exact (dyadic) moments: (n, var_samp, stddev_samp) per
    * numeric-occupied bucket; n < 2 → NULLs. */
  private def model(ss: Seq[(String, Long, Option[Double])], everyMs: Long,
                    offsetMs: Long = 0L)
      : Map[(String, Long), (Long, Option[Double], Option[Double])] = {
    def bucket(ms: Long) =
      Math.floorDiv(ms - offsetMs, everyMs) * everyMs + offsetMs
    val num = ss.collect { case (e, off, Some(v)) => (e, t0 + off, v) }
    num.groupBy(x => (x._1, bucket(x._2))).map { case (k, es) =>
      val n = es.length.toLong
      val s = es.map(_._3).sum
      val s2 = es.map(x => x._3 * x._3).sum
      val v =
        if (n < 2) None
        else Some((s2 - s * s / n.toDouble) / (n - 1L).toDouble)
      k -> ((n, v, v.map(math.sqrt)))
    }
  }

  private def withStub[T](csv: String)(body: ConcurrentLinkedQueue[String] => T): T = {
    val seen = new ConcurrentLinkedQueue[String]()
    FakeInflux.reads = Some { f => seen.add(f); csv }
    try body(seen) finally FakeInflux.reads = None
  }

  private def opts(parts: Int, offsetMs: Long = 0L) =
    InfluxRollupRead.stddevOptions(hour, Map(
      "bucket" -> "bkt",
      "readPartitions" -> parts.toString,
      "rollup.group" -> "tag:entity_id",
      "rollup.measurement" -> "ha_states",
      "rollup.startMs" -> t0.toString,
      "rollup.stopMs" -> (t0 + 6 * hour).toString), offsetMs)

  private def collect(df: org.apache.spark.sql.DataFrame) =
    df.collect().map { r =>
      (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    }.toMap

  test("pushed panel ≡ the sequential model: singleton buckets carry " +
    "NULL variance, string samples never count, a string-only bucket " +
    "creates no panel row; the POST squares then sums server-side") {
    withStub(csvOf(samples)) { seen =>
      val got = collect(InfluxRollupRead.stddevRead(spark, opts(1)))
      got shouldBe model(samples, hour)
      // a's hour 0: {1.25, 2.75} → var = (9.125 − 16/2)/1 = 1.125
      got(("sensor.a", t0)) shouldBe
        ((2L, Some(1.125), Some(math.sqrt(1.125))))
      // a's hour 2 is a singleton: present, but no sample variance
      got(("sensor.a", t0 + 2 * hour)) shouldBe ((1L, None, None))
      // b's hour 0 holds only the string sample: no numeric occupancy
      got.keySet should not contain (("sensor.b", t0))
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.size shouldBe 1
      fluxes.head should include(
        """map(fn: (r) => ({r with _value: r._value * r._value}))""")
      fluxes.head should include("window(every: 3600000ms)")
      fluxes.head should include("""group(columns: ["entity_id"])""")
    }
  }

  test("multi-shard mergeability: 4 range shards cut buckets mid-flight " +
    "and the re-added raw moments finish to the SAME panel — the property " +
    "Flux's own stddev() does not have") {
    withStub(csvOf(samples)) { seen =>
      collect(InfluxRollupRead.stddevRead(spark, opts(4))) shouldBe
        model(samples, hour)
      Iterator.continually(seen.poll()).takeWhile(_ != null).size shouldBe 4
    }
  }

  test("shifted bucket grid (offsetMs): buckets sit on the shifted grid, " +
    "moments and the n<2 guard follow it") {
    val off = 30 * 60000L
    withStub(csvOf(samples)) { seen =>
      val got = collect(InfluxRollupRead.stddevRead(spark, opts(1, off)))
      got shouldBe model(samples, hour, off)
      got.keySet.map(_._2).foreach(b => Math.floorMod(b, hour) shouldBe off)
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      all(fluxes) should include("offset: 1800000ms")
    }
  }

  test("rollup.tagRegex composes: the panel only carries matching series " +
    "even off a full-dump lying server (per-sample re-check)") {
    withStub(csvOf(samples)) { seen =>
      val narrowed = opts(1) +
        ("rollup.tagRegex" -> graft.sources.InfluxTable.encodeTagRegex(
          Seq("entity_id" -> "^sensor\\.a")))
      collect(InfluxRollupRead.stddevRead(spark, narrowed)) shouldBe
        model(samples.filter(_._1 == "sensor.a"), hour)
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      all(fluxes) should include(
        """filter(fn: (r) => r["entity_id"] =~ /^sensor\.a/)""")
    }
  }

  /** Sequential Bollinger reference: trailing `lookback`-bucket window
    * per numeric-occupied bucket, same IEEE finish as the panel. */
  private def bollingerModel(ss: Seq[(String, Long, Option[Double])],
                             everyMs: Long, lookback: Int, k: Double)
      : Map[(String, Long), (Long, Option[Double], Option[Double], Option[Double])] = {
    def bucket(ms: Long) = Math.floorDiv(ms, everyMs) * everyMs
    val num = ss.collect { case (e, off, Some(v)) => (e, t0 + off, v) }
    num.groupBy(_._1).flatMap { case (e, es) =>
      es.map(x => bucket(x._2)).distinct.map { b =>
        val in = es.filter { x =>
          val xb = bucket(x._2)
          xb > b - lookback.toLong * everyMs && xb <= b
        }
        val n = in.length.toLong
        val s = in.map(_._3).sum
        val s2 = in.map(x => x._3 * x._3).sum
        val mid = s / n.toDouble
        val sigma = math.sqrt((s2 - s * s / n.toDouble) / (n - 1L).toDouble)
        (e, b) -> ((n, Some(mid),
          if (n < 2) None else Some(mid + k * sigma),
          if (n < 2) None else Some(mid - k * sigma)))
      }
    }
  }

  test("bollingerRead: one raw-moment POST feeds mean ± 2σ ≡ the " +
    "sequential model; singleton windows carry the mid line but NULL " +
    "bands") {
    withStub(csvOf(samples)) { seen =>
      val got = InfluxRollupRead.bollingerRead(spark, opts(1), lookback = 2)
        .collect().map { r =>
          (r.getString(0), r.getLong(1)) ->
            ((r.getLong(2),
              if (r.isNullAt(3)) None else Some(r.getDouble(3)),
              if (r.isNullAt(4)) None else Some(r.getDouble(4)),
              if (r.isNullAt(5)) None else Some(r.getDouble(5))))
        }.toMap
      got shouldBe bollingerModel(samples, hour, lookback = 2, k = 2.0)
      // a's hour-2 window spans hours 1+2 = {4.0, 6.5, 8.5}: bands drawn
      val (_, mid, up, lo) = got(("sensor.a", t0 + 2 * hour))
      mid shouldBe Some((4.0 + 6.5 + 8.5) / 3)
      up.get should be > mid.get
      lo.get should be < mid.get
      // ONE POST serves moments for mid and bands alike
      Iterator.continually(seen.poll()).takeWhile(_ != null).size shouldBe 1
    }
  }

  test("bollingerRead: 4-shard moment re-merge draws the SAME bands") {
    withStub(csvOf(samples)) { _ =>
      val one = InfluxRollupRead.bollingerRead(spark, opts(1), lookback = 2)
        .collect().map(_.toSeq).toSet
      val four = InfluxRollupRead.bollingerRead(spark, opts(4), lookback = 2)
        .collect().map(_.toSeq).toSet
      four shouldBe one
    }
  }

  test("loud validation: a spec without the three raw-moment aggregates " +
    "refuses, on the dispersion panel and the bands alike") {
    val bare = InfluxRollupRead.fromOptions(scala.jdk.CollectionConverters
      .MapHasAsJava(Map("rollup.everyMs" -> hour.toString,
        "rollup.aggs" -> "sum,count_value")).asJava).get
    an[IllegalArgumentException] should be thrownBy
      InfluxRollupRead.stddevPanel(spark.emptyDataFrame, bare)
    an[IllegalArgumentException] should be thrownBy
      InfluxRollupRead.bollingerRead(spark, Map(
        "rollup.everyMs" -> hour.toString,
        "rollup.aggs" -> "sum,count_value", "bucket" -> "bkt"),
        lookback = 2)
    an[IllegalArgumentException] should be thrownBy
      InfluxRollupRead.bollingerMerged(spark.emptyDataFrame, bare,
        lookback = 0)
  }
}
