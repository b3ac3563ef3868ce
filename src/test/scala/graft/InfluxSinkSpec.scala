package graft

import graft.etl.InfluxSink
import graft.model.InfluxPoint
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class InfluxSinkSpec extends AnyFunSuite with Matchers {

  private val p = InfluxPoint(
    measurement = "°C",
    tags = Map("source" -> "HA", "entity_id" -> "temp kitchen", "domain" -> "sensor"),
    fields_num = Map("value" -> 21.5, "battery" -> 90.0),
    fields_str = Map("state" -> """quoted "x" \path"""),
    time_ms = 1704067200123L)

  test("toLine: escaping, sorted tags/fields, ns timestamp") {
    val line = InfluxSink.toLine(p)
    line shouldBe
      """°C,domain=sensor,entity_id=temp\ kitchen,source=HA battery=90.0,value=21.5,state="quoted \"x\" \\path" 1704067200123000000"""
  }

  test("toLine: measurement with comma and space escaped") {
    val line = InfluxSink.toLine(p.copy(measurement = "a b,c"))
    line should startWith("""a\ b\,c,""")
  }

  test("statisticsPoints → toLine: the end-to-end statistics migration — " +
    "sensor-type field triples, unit-measurement posture, no NULL-valued " +
    "field keys ever reach the line protocol") {
    val spark = TestSpark.spark
    import spark.implicits._
    val stats = Seq(
      (1, 1704067200000L, 20.0, 19.0, 21.0, 20.5, 3.0), // mean-type
      (2, 1704067200000L, 5.0, 4.0, 6.0, 5.5, 7.0),     // sum-type
      (3, 1704067200000L, 1.0, 1.0, 1.0, 1.0, 1.0),     // NEITHER-typed
      (4, 1704067200000L, 2.0, 1.5, 2.5, 2.2, 9.0)      // ''-unit sum-type
    ).toDF("metadata_id", "start_ts_ms", "mean", "min", "max", "state", "sum")
    val meta = Seq(
      (1, "sensor.temp_attic", "C", true, false),
      (2, "sensor.energy_main", null.asInstanceOf[String], false, true),
      (3, "sensor.broken_x", "W", false, false),
      (4, "sensor.pulse_cnt", "", false, true)
    ).toDF("metadata_id", "statistic_id", "unit_of_measurement", "has_mean",
      "has_sum")
    val lines = InfluxSink.asPoints(
        graft.etl.Transform.statisticsPoints(stats, meta))
      .collect().map(InfluxSink.toLine).sorted
    // sensor 3 (has_mean=has_sum=false) publishes NOTHING — an empty
    // field set is invalid line protocol, so the row is dropped
    lines shouldBe Array(
      "C,domain=sensor,entity_id=temp_attic,ha_type=statistics,source=HA " +
        "max=21.0,mean=20.0,min=19.0 1704067200000000000",
      // EMPTY-string unit → the F4 "count" remap; sum-type publishes
      // ONLY state/sum
      "count,domain=sensor,entity_id=pulse_cnt,ha_type=statistics," +
        "source=HA state=2.2,sum=9.0 1704067200000000000",
      // ABSENT unit → 'default_measurement' FIRST (F4's order — the same
      // measurement the states half gives a unit-less sensor)
      "default_measurement,domain=sensor,entity_id=energy_main," +
        "ha_type=statistics,source=HA state=5.5,sum=7.0 1704067200000000000")
  }

  test("statisticsPoints: a meta table WITHOUT has_sum (older recorder " +
    "schema) falls back to NOT has_mean for the sum side") {
    val spark = TestSpark.spark
    import spark.implicits._
    val stats = Seq((2, 1704067200000L, 5.0, 4.0, 6.0, 5.5, 7.0))
      .toDF("metadata_id", "start_ts_ms", "mean", "min", "max", "state", "sum")
    val meta = Seq((2, "sensor.energy_main", "kWh", false))
      .toDF("metadata_id", "statistic_id", "unit_of_measurement", "has_mean")
    val lines = InfluxSink.asPoints(
        graft.etl.Transform.statisticsPoints(stats, meta))
      .collect().map(InfluxSink.toLine)
    lines shouldBe Array(
      "kWh,domain=sensor,entity_id=energy_main,ha_type=statistics," +
        "source=HA state=5.5,sum=7.0 1704067200000000000")
  }

  test("write: partition-parallel batching honors batchSize") {
    val spark = TestSpark.spark
    import spark.implicits._
    val points = (1 to 25).map(i =>
      InfluxPoint("m", Map("t" -> "v"), Map("value" -> i.toDouble), Map(), i.toLong))
    val ds = spark.createDataset(points).repartition(2)
    val cfg = InfluxSink.Config("http://x", "o", "b", "tok", batchSize = 10)
    ds.sparkSession.sparkContext.setJobDescription("sink-test")
    InfluxSink.write(ds, cfg, _ => RecordingWriter) shouldBe 25
    val batches = RecordingWriter.drain()
    batches.map(_.size).sum shouldBe 25
    all(batches.map(_.size)) should be <= 10
    // 2 partitions, each grouped by 10 ⇒ at least 3 batches, none empty
    batches.size should be >= 3
    batches.foreach(_ should not be empty)
  }

  test("write: pointByPoint debug mode sends 1-line batches") {
    val spark = TestSpark.spark
    import spark.implicits._
    val ds = spark.createDataset(Seq(
      InfluxPoint("m", Map(), Map("value" -> 1.0), Map(), 1L),
      InfluxPoint("m", Map(), Map("value" -> 2.0), Map(), 2L))).coalesce(1)
    val cfg = InfluxSink.Config("http://x", "o", "b", "tok", pointByPoint = true)
    InfluxSink.write(ds, cfg, _ => RecordingWriter) shouldBe 2
    val batches = RecordingWriter.drain()
    batches.size shouldBe 2
    all(batches.map(_.size)) shouldBe 1
  }

  test("write: an empty Dataset returns 0 and posts nothing") {
    val spark = TestSpark.spark
    import spark.implicits._
    val ds = spark.createDataset(Seq.empty[InfluxPoint]).repartition(2)
    val cfg = InfluxSink.Config("http://x", "o", "b", "tok")
    RecordingWriter.drain()
    InfluxSink.write(ds, cfg, _ => RecordingWriter) shouldBe 0
    RecordingWriter.drain() shouldBe empty
  }

  test("write: each batch reaches the LineWriter as its lines, cut at the " +
    "encoder's line ends — a raw newline inside a string field stays in " +
    "its line") {
    val spark = TestSpark.spark
    import spark.implicits._
    val points = Seq(
      InfluxPoint("m", Map("t" -> "v"), Map(), Map("s" -> "two\nlines"), 1L),
      InfluxPoint("m", Map("t" -> "v"), Map("value" -> 2.0), Map(), 2L))
    RecordingWriter.drain()
    InfluxSink.write(spark.createDataset(points).coalesce(1),
      InfluxSink.Config("http://x", "o", "b", "tok"), _ => RecordingWriter) shouldBe 2
    RecordingWriter.drain() shouldBe List(points.map(InfluxSink.toLine))
  }

  private def distinctPoints(n: Int): Seq[InfluxPoint] = (1 to n).map(i =>
    InfluxPoint("m", Map("t" -> s"v$i"), Map("value" -> i.toDouble), Map("s" -> "x y"), i.toLong))

  test("save: the returned count equals the lines the server received, at " +
    "batchSize 1, 2, n and n+1 and under pointByPoint") {
    val spark = TestSpark.spark
    import spark.implicits._
    val n = 7
    val points = distinctPoints(n)
    val df = spark.createDataset(points).toDF().repartition(3)
    val cfg = InfluxSink.Config("http://unused", "o", "b", "t")
    val cases = Seq(1, 2, n, n + 1).map(b => (cfg.copy(batchSize = b), b)) :+
      ((cfg.copy(pointByPoint = true), 1))
    RecordingWriter.drain()
    FakeInflux.writes = Some(RecordingWriter)
    try cases.foreach { case (c, maxBatch) =>
      withClue(c) {
        InfluxSink.save(df, c) shouldBe n
        val batches = RecordingWriter.drain()
        batches.flatten.sorted shouldBe points.map(InfluxSink.toLine).sorted
        all(batches.map(_.size)) should be <= maxBatch
      }
    } finally FakeInflux.writes = None
  }

  test("save: a 400 on one partition fails the write instead of returning " +
    "a partial count") {
    val spark = TestSpark.spark
    import spark.implicits._
    val points = distinctPoints(6) :+
      InfluxPoint("poison", Map(), Map("value" -> 0.0), Map(), 0L)
    val df = spark.createDataset(points).toDF().repartition(3)
    graft.etl.InfluxHttp.testExchange = Some((_, body) =>
      if (new String(body, java.nio.charset.StandardCharsets.UTF_8).contains("poison"))
        (400, "unable to parse 'poison'")
      else (204, ""))
    try {
      val e = intercept[Exception](InfluxSink.save(df,
        InfluxSink.Config("http://unused", "o", "b", "t", batchSize = 1, maxRetries = 0)))
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ") should include("400")
    } finally graft.etl.InfluxHttp.testExchange = None
  }

  test("configFromEnv: fail-fast on missing/invalid values (Q8)") {
    val good = Map("INFLUXDB_URL" -> "http://i:8086", "INFLUXDB_ORG" -> "o",
      "INFLUXDB_BUCKET" -> "b", "INFLUXDB_TOKEN" -> "t", "BATCH_SIZE" -> "500",
      "DEBUG_MODE" -> "true")
    val cfg = InfluxSink.configFromEnv(good)
    cfg.batchSize shouldBe 500
    cfg.pointByPoint shouldBe true
    an[IllegalArgumentException] should be thrownBy
      InfluxSink.configFromEnv(good - "INFLUXDB_TOKEN")
    an[IllegalArgumentException] should be thrownBy
      InfluxSink.configFromEnv(good + ("BATCH_SIZE" -> "0"))
    an[IllegalArgumentException] should be thrownBy
      InfluxSink.configFromEnv(good + ("INFLUXDB_URL" -> "ftp://x"))
  }

  test("org and bucket are URL-encoded on every endpoint: a write, a " +
    "Flux query, an annotated query and a delete each decode to exactly " +
    "the configured org and bucket ('#' and '&' included)") {
    import com.sun.net.httpserver.HttpServer
    import java.net.{InetSocketAddress, URLDecoder}
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/api/v2/", exchange => {
      exchange.getRequestBody.readAllBytes()
      seen.add((exchange.getRequestURI.getPath,
        exchange.getRequestURI.getRawQuery))
      val resp = "_time\n".getBytes(utf8)
      exchange.sendResponseHeaders(200, resp.length)
      exchange.getResponseBody.write(resp)
      exchange.close()
    })
    server.start()
    try {
      val (org, bucket) = ("Home Lab & Co", "ha#2024")
      val cfg = InfluxSink.Config(
        s"http://127.0.0.1:${server.getAddress.getPort}", org, bucket, "tok",
        maxRetries = 0)
      new InfluxSink.HttpLineWriter(cfg).writeBatch(Seq("m value=1 1"))
      graft.sources.InfluxWatermarkSource.postFlux(cfg, "buckets()")
      val transport = new graft.etl.MarkerCleanup.HttpTransport(cfg)
      transport.queryAnnotated("buckets()")
      transport.delete("1970-01-01T00:00:00Z", "2024-01-01T00:00:00Z",
        "_measurement=\"m\"")
      def params(raw: String): Map[String, String] =
        raw.split("&").map { kv =>
          val Array(k, v) = kv.split("=", 2)
          URLDecoder.decode(k, utf8) -> URLDecoder.decode(v, utf8)
        }.toMap
      import scala.jdk.CollectionConverters._
      seen.asScala.toList.map { case (path, raw) => path -> params(raw) } shouldBe
        List(
          "/api/v2/write" ->
            Map("org" -> org, "bucket" -> bucket, "precision" -> "ns"),
          "/api/v2/query" -> Map("org" -> org),
          "/api/v2/query" -> Map("org" -> org),
          "/api/v2/delete" -> Map("org" -> org, "bucket" -> bucket))
    } finally server.stop(0)
  }

  /** A loopback Influx answering its n-th request with
    * `answers(n % answers.size)`: (status, `Retry-After` or "", body). */
  private def withStub(answers: (Int, String, String)*)(
      f: (InfluxSink.Config, () => Int) => Unit): Unit = {
    import com.sun.net.httpserver.HttpServer
    import java.net.InetSocketAddress
    val requests = new java.util.concurrent.atomic.AtomicInteger()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/api/v2/", exchange => {
      exchange.getRequestBody.readAllBytes()
      val (status, retryAfter, body) =
        answers(requests.getAndIncrement() % answers.size)
      if (retryAfter.nonEmpty)
        exchange.getResponseHeaders.set("Retry-After", retryAfter)
      val b = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      exchange.sendResponseHeaders(status, if (b.isEmpty) -1 else b.length)
      if (b.nonEmpty) exchange.getResponseBody.write(b)
      exchange.close()
    })
    server.start()
    try f(InfluxSink.Config(s"http://127.0.0.1:${server.getAddress.getPort}",
      "o", "b", "tok"), () => requests.get)
    finally server.stop(0)
  }

  test("every Influx call retries a 5xx: 503, 503, then 200 on a write, a " +
    "Flux query, an annotated query and a delete — each succeeds after " +
    "exactly 3 requests") {
    withStub((503, "", "busy"), (503, "", "busy"), (200, "", "_time\n")) {
      (cfg, requests) =>
        new InfluxSink.HttpLineWriter(cfg).writeBatch(Seq("m value=1 1"))
        requests() shouldBe 3
        graft.sources.InfluxWatermarkSource.postFlux(cfg, "buckets()") shouldBe
          "_time\n"
        requests() shouldBe 6
        val transport = new graft.etl.MarkerCleanup.HttpTransport(cfg)
        transport.queryAnnotated("buckets()") shouldBe "_time\n"
        requests() shouldBe 9
        transport.delete("1970-01-01T00:00:00Z", "2024-01-01T00:00:00Z",
          "_measurement=\"m\"")
        requests() shouldBe 12
    }
  }

  test("a 4xx is not retried and its error keeps the server's text; an " +
    "exhausted retry budget reports the last status and body") {
    withStub((400, "", "bad line")) { (cfg, requests) =>
      val e = intercept[RuntimeException](
        new InfluxSink.HttpLineWriter(cfg).writeBatch(Seq("m value=1 1")))
      requests() shouldBe 1
      e.getMessage should include("400")
      e.getMessage should include("bad line")
    }
    withStub((503, "", "overloaded")) { (cfg, requests) =>
      val e = intercept[RuntimeException](
        new InfluxSink.HttpLineWriter(cfg.copy(maxRetries = 1))
          .writeBatch(Seq("m value=1 1")))
      requests() shouldBe 2
      e.getMessage should include("503")
      e.getMessage should include("overloaded")
    }
  }

  test("a 429's Retry-After replaces the backoff step, capped at " +
    "readTimeoutMs") {
    withStub((429, "1", "slow down"), (200, "", "")) { (cfg, requests) =>
      val t0 = System.nanoTime()
      new InfluxSink.HttpLineWriter(cfg).writeBatch(Seq("m value=1 1"))
      (System.nanoTime() - t0) should be >= 1000000000L
      requests() shouldBe 2
    }
    withStub((429, "3600", "slow down"), (200, "", "")) { (cfg, requests) =>
      val t0 = System.nanoTime()
      new InfluxSink.HttpLineWriter(cfg.copy(readTimeoutMs = 1500))
        .writeBatch(Seq("m value=1 1"))
      (System.nanoTime() - t0) should (be >= 1500000000L and be < 60000000000L)
      requests() shouldBe 2
    }
  }
}

/** Collects batches across executor threads (local mode shares the JVM). */
object RecordingWriter extends InfluxSink.LineWriter {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
  override def writeBatch(lines: Seq[String]): Unit = buf.add(lines)
  def drain(): List[Seq[String]] = {
    var out = List.empty[Seq[String]]
    var b = buf.poll()
    while (b != null) { out = b :: out; b = buf.poll() }
    out
  }
}
