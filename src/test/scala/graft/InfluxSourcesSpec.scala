package graft

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.etl.{HaViews, InfluxSink, Tables, Transform}
import graft.sources.{InfluxTransports, InfluxWatermarkSource}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.time.Instant

/** S2/S3 end-to-end over real HTTP (local mock server) and the real DSv2
  * write path (`format("influx")`). */
class InfluxSourcesSpec extends AnyFunSuite with Matchers {

  private val annotatedCsv =
    """#datatype,string,long,dateTime:RFC3339,string,double
      |#group,false,false,false,true,false
      |#default,_result,,,,
      |,result,table,_time,_measurement,_value
      |,_result,0,2023-05-01T12:34:56Z,°C,21.5
      |""".stripMargin

  private def withServer(status: Int, body: String)
                        (f: (String, () => Option[(String, String)]) => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var captured: Option[(String, String)] = None
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val req = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        captured = Some((ex.getRequestURI.toString, req))
        val bytes = body.getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(status, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}", () => captured)
    finally server.stop(0)
  }

  private def cfg(url: String) =
    InfluxSink.Config(url, "myorg", "mybucket", "tok", batchSize = 3)

  test("S2: watermark over HTTP — Flux POST, annotated-CSV parse") {
    withServer(200, annotatedCsv) { (url, captured) =>
      val ts = InfluxWatermarkSource.oldestTimestamp(cfg(url))
      ts shouldBe Some(Instant.parse("2023-05-01T12:34:56Z"))
      val (uri, body) = captured().get
      uri should include("/api/v2/query")
      uri should include("org=myorg")
      body should include("""from(bucket: "mybucket")""")
      body should include("range(start: 0)")
      body should include("""r["source"] == "HA"""")
      // the states watermark must NOT see statistics-half points — a
      // statistics backfill would otherwise poison it
      body should include("""not exists r["ha_type"]""")
    }
  }

  test("S2: the STATISTICS watermark reads statistics-sourced points " +
    "ONLY (the ha_type marker statisticsPoints writes) — the two halves' " +
    "reverse-incremental watermarks stay independent") {
    withServer(200, annotatedCsv) { (url, captured) =>
      val ts = InfluxWatermarkSource.oldestStatisticsTimestamp(cfg(url))
      ts shouldBe Some(Instant.parse("2023-05-01T12:34:56Z"))
      val body = captured().get._2
      body should include("""r["source"] == "HA"""")
      body should include("""r["ha_type"] == "statistics"""")
      (body should not).include("not exists")
    }
  }

  test("S2: the watermark is the oldest point of the BUCKET: both queries " +
    "keep only _time and group() before sort/limit (a merge of float and " +
    "string _value tables would fail), and the parse takes the minimum " +
    "_time over every table, each read with its own header") {
    // one table per series, as an ungrouped range → sort → limit answers;
    // the second table has other columns and holds the older point
    val perSeries =
      """#datatype,string,long,dateTime:RFC3339,string,double
        |#group,false,false,false,true,false
        |#default,_result,,,,
        |,result,table,_time,_measurement,_value
        |,_result,0,2023-05-01T12:34:56Z,°C,21.5
        |
        |#datatype,string,long,string,string,dateTime:RFC3339,double
        |#group,false,false,true,true,false,false
        |#default,_result,,,,,
        |,result,table,_measurement,entity_id,_time,_value
        |,_result,1,W,plug,2023-04-30T08:00:00Z,3.0
        |,_result,2,W,lamp,2023-04-30T09:00:00Z,4.0
        |""".stripMargin
    val mergedTail = "|> keep(columns: [\"_time\"])\n  |> group()\n" +
      "  |> sort(columns: [\"_time\"], desc: false)\n  |> limit(n: 1)"
    withServer(200, perSeries) { (url, captured) =>
      InfluxWatermarkSource.oldestTimestamp(cfg(url)) shouldBe
        Some(Instant.parse("2023-04-30T08:00:00Z"))
      captured().get._2 should include(mergedTail)
      InfluxWatermarkSource.oldestStatisticsTimestamp(cfg(url)) shouldBe
        Some(Instant.parse("2023-04-30T08:00:00Z"))
      captured().get._2 should include(mergedTail)
    }
  }

  test("S2/Q1: bug-compat mode sends the 'units' measurement filter") {
    withServer(200, annotatedCsv) { (url, captured) =>
      InfluxWatermarkSource.oldestTimestamp(cfg(url), bugCompatUnitsFilter = true)
      captured().get._2 should include("""r["_measurement"] == "units"""")
    }
  }

  test("S2: empty result → None (reference re-exports everything)") {
    withServer(200, "") { (url, _) =>
      InfluxWatermarkSource.oldestTimestamp(cfg(url)) shouldBe None
    }
  }

  test("S2/Q8: HTTP error fails fast") {
    withServer(401, "unauthorized") { (url, _) =>
      a[RuntimeException] should be thrownBy
        InfluxWatermarkSource.oldestTimestamp(cfg(url))
    }
  }

  test("S3 end-to-end: sink posts line protocol over real HTTP in batches") {
    val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        received.add(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
        ex.sendResponseHeaders(204, -1)
        ex.close()
      }
    })
    server.start()
    try {
      val spark = TestSpark.spark
      val d = "/root/testdata/sf0.001"
      val points = InfluxSink.asPoints(Transform.corePipeline(
        HaViews.states(Tables.events(spark, d)),
        HaViews.statesMeta(Tables.events(spark, d)),
        HaViews.stateAttributes(Tables.events(spark, d))).drop("event_id"))
      val c = cfg(s"http://127.0.0.1:${server.getAddress.getPort}")
        .copy(batchSize = 200)
      val written = InfluxSink.write(points, c)
      val lines = received.toArray(Array.empty[String]).flatMap(_.split("\n"))
      lines.length shouldBe points.count()
      written shouldBe lines.length
      // spot-check line shape: ...fields... <ns-timestamp>
      lines.take(5).foreach { l =>
        l should fullyMatch regex """.* \d{13,}"""
        l should include("=")
      }
    } finally server.stop(0)
  }

  test("S3 DSv2: df.write.format(\"influx\") drives partitioned DataWriters") {
    val spark = TestSpark.spark
    val d = "/root/testdata/sf0.001"
    val points = Transform.corePipeline(
      HaViews.states(Tables.events(spark, d)),
      HaViews.statesMeta(Tables.events(spark, d)),
      HaViews.stateAttributes(Tables.events(spark, d))).drop("event_id")
    val n = points.count()
    RecordingWriter.drain() // reset
    InfluxTransports.testOverride = Some(RecordingWriter)
    try {
      points.repartition(3).write.format("influx")
        .option("batchSize", "100")
        .option("url", "http://unused").option("token", "t")
        .mode("append").save()
      val batches = RecordingWriter.drain()
      batches.map(_.size).sum shouldBe n
      all(batches.map(_.size)) should be <= 100
      batches.size should be >= 3
    } finally InfluxTransports.testOverride = None
  }

  test("DSv2 write: map columns whose types differ only in nullability " +
    "flags resolve; wrong types still fail with the column name") {
    import graft.sources.PointOrdinals
    import org.apache.spark.sql.types._
    // map(lit(k), lit(v)) infers valueContainsNull = false — a valid
    // write frame that strict DataType == used to reject
    val tightMaps = StructType(Seq(
      StructField("measurement", StringType),
      StructField("tags", MapType(StringType, StringType, valueContainsNull = false)),
      StructField("fields_num", MapType(StringType, DoubleType, valueContainsNull = false)),
      StructField("fields_str", MapType(StringType, StringType, valueContainsNull = false)),
      StructField("time_ms", LongType, nullable = false)))
    noException should be thrownBy PointOrdinals.resolve(tightMaps)
    val wrong = StructType(tightMaps.fields.map {
      case f if f.name == "time_ms" => f.copy(dataType = StringType)
      case f => f
    })
    val e = intercept[IllegalArgumentException](PointOrdinals.resolve(wrong))
    e.getMessage should include("time_ms")
  }
}
