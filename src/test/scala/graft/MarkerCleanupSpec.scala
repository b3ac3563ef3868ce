package graft

import graft.etl.{InfluxSink, MarkerCleanup}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import scala.collection.mutable.ArrayBuffer

/** The legacy-marker cleanup tool (the `ha_type` upgrade caveat's restore
  * path). The v2 delete API's tag-equality predicate matches every point
  * carrying the legacy series' tags PLUS extras — the SAME sensor's
  * states series and already-marked points included — so per series the
  * tool must fetch the full tag FAMILY in the window, delete, then
  * replay EVERYTHING: marker-less statistics-shaped points with the
  * marker added, states points (numeric `value` and STRING `state`
  * fields, extra tags) and already-marked points VERBATIM, in exactly
  * that order (writing first would let the delete wipe the copies). */
class MarkerCleanupSpec extends AnyFunSuite with Matchers {

  private val cfg =
    InfluxSink.Config("http://localhost:9", "o", "bkt", "tok")

  private val T1 = "2024-01-01T00:00:00Z" // 1704067200000
  private val T2 = "2024-01-01T01:00:00Z" // 1704070800000

  // phase 1 (statistics-signature query): two legacy statistics series —
  // mean-typed C/temp at two timestamps, sum-typed kWh/energy writing
  // only {state} (its recorder sum was NULL) — plus a pure STATES family
  // (C/temp2) whose `state` field is a STRING: the unparsable row must
  // disqualify it from the inventory
  private val phase1Csv =
    s"""#datatype,string,long,dateTime:RFC3339,string,string,string,string,string,string
      |#group,false,false,false,false,true,true,true,true,true
      |#default,_result,,,,,,,,
      |,result,table,_time,_value,_field,_measurement,domain,entity_id,source
      |,_result,0,$T1,10.5,mean,C,sensor,temp,HA
      |,_result,0,$T1,10.0,min,C,sensor,temp,HA
      |,_result,0,$T1,11.0,max,C,sensor,temp,HA
      |,_result,0,$T2,12.5,mean,C,sensor,temp,HA
      |,_result,0,$T2,12.0,min,C,sensor,temp,HA
      |,_result,0,$T2,13.0,max,C,sensor,temp,HA
      |,_result,1,$T1,1250.25,state,kWh,sensor,energy,HA
      |,_result,2,$T1,on,state,C,sensor,temp2,HA
      |""".stripMargin

  // phase 2 for the C/temp family: the two legacy statistics points PLUS
  // the SAME sensor's states points (double `value`; STRING `state` in
  // its own typed table; extra friendly_name tag) and an already-marked
  // statistics point — everything the tag-equality delete will match
  private val familyTempCsv =
    s"""#datatype,string,long,dateTime:RFC3339,double,string,string,string,string,string
      |#group,false,false,false,false,true,true,true,true,true
      |#default,_result,,,,,,,,
      |,result,table,_time,_value,_field,_measurement,domain,entity_id,source
      |,_result,0,$T1,10.5,mean,C,sensor,temp,HA
      |,_result,0,$T1,10.0,min,C,sensor,temp,HA
      |,_result,0,$T1,11.0,max,C,sensor,temp,HA
      |,_result,0,$T2,12.5,mean,C,sensor,temp,HA
      |,_result,0,$T2,12.0,min,C,sensor,temp,HA
      |,_result,0,$T2,13.0,max,C,sensor,temp,HA
      |
      |#datatype,string,long,dateTime:RFC3339,double,string,string,string,string,string,string
      |#group,false,false,false,false,true,true,true,true,true,true
      |#default,_result,,,,,,,,,
      |,result,table,_time,_value,_field,_measurement,domain,entity_id,source,friendly_name
      |,_result,1,2024-01-01T00:30:00.0001005Z,21.5,value,C,sensor,temp,HA,Temp
      |
      |#datatype,string,long,dateTime:RFC3339,string,string,string,string,string,string,string
      |#group,false,false,false,false,true,true,true,true,true,true
      |#default,_result,,,,,,,,,
      |,result,table,_time,_value,_field,_measurement,domain,entity_id,source,friendly_name
      |,_result,2,2024-01-01T00:40:00Z,on,state,C,sensor,temp,HA,Temp
      |
      |#datatype,string,long,dateTime:RFC3339,double,string,string,string,string,string,string
      |#group,false,false,false,false,true,true,true,true,true,true
      |#default,_result,,,,,,,,,
      |,result,table,_time,_value,_field,_measurement,domain,entity_id,source,ha_type
      |,_result,3,2024-01-01T00:50:00Z,13.0,mean,C,sensor,temp,HA,statistics
      |""".stripMargin

  private val familyEnergyCsv =
    s"""#datatype,string,long,dateTime:RFC3339,double,string,string,string,string,string
      |#group,false,false,false,false,true,true,true,true,true
      |#default,_result,,,,,,,,
      |,result,table,_time,_value,_field,_measurement,domain,entity_id,source
      |,_result,0,$T1,1250.25,state,kWh,sensor,energy,HA
      |""".stripMargin

  // the POST-apply family responses a TRUTHFUL bucket returns to the
  // verification re-fetch: same points, statistics-shaped ones marked
  private val familyTempAfterCsv =
    s"""#datatype,string,long,dateTime:RFC3339,double,string,string,string,string,string,string
      |#group,false,false,false,false,true,true,true,true,true,true
      |#default,_result,,,,,,,,,
      |,result,table,_time,_value,_field,_measurement,domain,entity_id,source,ha_type
      |,_result,0,$T1,10.5,mean,C,sensor,temp,HA,statistics
      |,_result,0,$T1,10.0,min,C,sensor,temp,HA,statistics
      |,_result,0,$T1,11.0,max,C,sensor,temp,HA,statistics
      |,_result,0,$T2,12.5,mean,C,sensor,temp,HA,statistics
      |,_result,0,$T2,12.0,min,C,sensor,temp,HA,statistics
      |,_result,0,$T2,13.0,max,C,sensor,temp,HA,statistics
      |,_result,0,2024-01-01T00:50:00Z,13.0,mean,C,sensor,temp,HA,statistics
      |
      |#datatype,string,long,dateTime:RFC3339,double,string,string,string,string,string,string
      |#group,false,false,false,false,true,true,true,true,true,true
      |#default,_result,,,,,,,,,
      |,result,table,_time,_value,_field,_measurement,domain,entity_id,source,friendly_name
      |,_result,1,2024-01-01T00:30:00.0001005Z,21.5,value,C,sensor,temp,HA,Temp
      |
      |#datatype,string,long,dateTime:RFC3339,string,string,string,string,string,string,string
      |#group,false,false,false,false,true,true,true,true,true,true
      |#default,_result,,,,,,,,,
      |,result,table,_time,_value,_field,_measurement,domain,entity_id,source,friendly_name
      |,_result,2,2024-01-01T00:40:00Z,on,state,C,sensor,temp,HA,Temp
      |""".stripMargin

  private val familyEnergyAfterCsv =
    s"""#datatype,string,long,dateTime:RFC3339,double,string,string,string,string,string,string
      |#group,false,false,false,false,true,true,true,true,true,true
      |#default,_result,,,,,,,,,
      |,result,table,_time,_value,_field,_measurement,domain,entity_id,source,ha_type
      |,_result,0,$T1,1250.25,state,kWh,sensor,energy,HA,statistics
      |""".stripMargin

  /** A truthful transport: the family fetch returns the pre-clean CSV,
    * the verification re-fetch the post-clean one, and the post-apply
    * inventory re-run comes back empty. */
  private class FakeHttp extends MarkerCleanup.Http {
    val ops = new ArrayBuffer[(String, Any)]()
    private var inventoryCalls = 0
    private val famCalls =
      scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    protected def inventoryCsv(call: Int): String =
      if (call == 0) phase1Csv else ""
    protected def familyCsv(series: String, call: Int): String =
      (series, call) match {
        case ("temp", 0) => familyTempCsv
        case ("temp", _) => familyTempAfterCsv
        case (_, 0) => familyEnergyCsv
        case _ => familyEnergyAfterCsv
      }
    override def query(flux: String): String = {
      ops += (("query", flux))
      val r = inventoryCsv(inventoryCalls); inventoryCalls += 1; r
    }
    override def queryAnnotated(flux: String): String = {
      ops += (("queryA", flux))
      val series = if (flux.contains("\"temp\"")) "temp" else "energy"
      val r = familyCsv(series, famCalls(series)); famCalls(series) += 1; r
    }
    override def delete(startIso: String, stopIso: String,
                        predicate: String): Unit =
      ops += (("delete", (startIso, stopIso, predicate)))
    override def write(lines: Seq[String]): Unit =
      ops += (("write", lines))
  }

  test("dry-run inventories statistics-shaped series only (a string " +
    "state row disqualifies the states family) and touches nothing") {
    val http = new FakeHttp
    val report = MarkerCleanup.run(cfg, http, dryRun = true)
    http.ops.map(_._1) shouldBe Seq("query")
    http.ops.head._2.asInstanceOf[String] should
      include("""not exists r["ha_type"]""")
    report.dryRun shouldBe true
    (report.marked, report.replayed) shouldBe ((0L, 0L))
    report.series.map(_.key.measurement) shouldBe Seq("C", "kWh")
    val c = report.series.head
    c.key.tags shouldBe Map("domain" -> "sensor", "entity_id" -> "temp",
      "source" -> "HA")
    c.nPoints shouldBe 2L
    c.fieldSets shouldBe Set(Set("mean", "min", "max"))
    c.predicate shouldBe
      """_measurement="C" AND domain="sensor" AND entity_id="temp" AND source="HA""""
    // the sum-typed partial row ({state} with NULL sum) IS statistics
    report.series(1).fieldSets shouldBe Set(Set("state"))
    // the states family (STRING state) is not inventoried
    report.series.map(_.key.tags("entity_id")) should not contain "temp2"
  }

  test("apply fetches each family, DELETEs, replays EVERYTHING, then " +
    "VERIFIES: legacy statistics gain the marker; the same sensor's " +
    "states points (incl. a string field and an extra tag) and " +
    "already-marked points replay verbatim; each chunk is re-fetched " +
    "for parity and the inventory re-runs empty") {
    val http = new FakeHttp
    val report = MarkerCleanup.run(cfg, http, dryRun = false)
    (report.marked, report.replayed) shouldBe ((3L, 3L))
    report.chunksApplied shouldBe 2L
    http.ops.map(_._1) shouldBe Seq("query",
      "queryA", "delete", "write", "queryA",
      "queryA", "delete", "write", "queryA",
      "query")
    // the verification re-fetch covers the SAME window as the fetch
    http.ops(4)._2.asInstanceOf[String] shouldBe
      http.ops(1)._2.asInstanceOf[String]
    // the family fetch carries NO marker/field condition — it must match
    // exactly what the delete predicate matches
    val famFlux = http.ops(1)._2.asInstanceOf[String]
    famFlux should include("""r["entity_id"] == "temp"""")
    (famFlux should not).include("ha_type")
    (famFlux should not).include("contains(")
    val (d1s, d1e, d1p) =
      http.ops(2)._2.asInstanceOf[(String, String, String)]
    (d1s, d1e) shouldBe ((T1, "2024-01-01T01:00:00.001Z"))
    d1p should include("""entity_id="temp"""")
    // the sub-ms states point replays at FULL nanosecond precision
    http.ops(3)._2.asInstanceOf[Seq[String]] shouldBe Seq(
      "C,domain=sensor,entity_id=temp,ha_type=statistics,source=HA " +
        "max=11.0,mean=10.5,min=10.0 1704067200000000000",
      "C,domain=sensor,entity_id=temp,friendly_name=Temp,source=HA " +
        "value=21.5 1704069000000100500",
      "C,domain=sensor,entity_id=temp,friendly_name=Temp,source=HA " +
        "state=\"on\" 1704069600000000000",
      "C,domain=sensor,entity_id=temp,ha_type=statistics,source=HA " +
        "mean=13.0 1704070200000000000",
      "C,domain=sensor,entity_id=temp,ha_type=statistics,source=HA " +
        "max=13.0,mean=12.5,min=12.0 1704070800000000000")
    http.ops(7)._2.asInstanceOf[Seq[String]] shouldBe Seq(
      "kWh,domain=sensor,entity_id=energy,ha_type=statistics,source=HA " +
        "state=1250.25 1704067200000000000")
  }

  test("a LYING transport that accepted the write but DROPPED a point " +
    "fails post-apply verification with the replay retained on disk") {
    val http = new FakeHttp {
      // the verify re-fetch comes back one point short: the sub-ms
      // states point vanished
      override protected def familyCsv(series: String,
                                       call: Int): String =
        if (series == "temp" && call > 0)
          familyTempAfterCsv.linesIterator
            .filterNot(_.contains("21.5")).mkString("\n") + "\n"
        else super.familyCsv(series, call)
    }
    val e = intercept[MarkerCleanup.VerificationFailed] {
      MarkerCleanup.run(cfg, http, dryRun = false, verifyBackoffMs = 0L)
    }
    e.getMessage should include("POST-APPLY VERIFICATION FAILED")
    e.getMessage should include("replayed 5 points")
    e.getMessage should include("now holds 4")
    // the lie was CONSISTENT: the verify re-fetched 3 times (backoff
    // against a merely slow-to-index bucket) before declaring it
    http.ops.count {
      case ("queryA", f: String) => f.contains("\"temp\"")
      case _ => false
    } shouldBe 4 // 1 family fetch + 3 verification attempts
    val dump = e.dumpPath.get
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(dump)).asScala.toSeq
    lines.head shouldBe "# graft marker-cleanup replay dump v1"
    lines should contain(
      "C,domain=sensor,entity_id=temp,friendly_name=Temp,source=HA " +
        "value=21.5 1704069000000100500")
    // 5 replayed lines + the 3-line recovery header
    lines.count(l => !l.startsWith("#") && l.nonEmpty) shouldBe 5
    // owner-only: the dump holds every sensor reading in the window
    java.nio.file.Files.getPosixFilePermissions(
      java.nio.file.Paths.get(dump)).asScala shouldBe
      java.nio.file.attribute.PosixFilePermissions.fromString("rw-------")
        .asScala
    java.nio.file.Files.delete(java.nio.file.Paths.get(dump))
  }

  test("a LYING transport that left a statistics point MARKER-LESS " +
    "fails post-apply verification even at point-count parity") {
    val http = new FakeHttp {
      // parity holds (same 1 point) but the marker never landed
      override protected def familyCsv(series: String,
                                       call: Int): String =
        if (series == "energy" && call > 0) familyEnergyCsv
        else super.familyCsv(series, call)
    }
    val e = intercept[MarkerCleanup.VerificationFailed] {
      MarkerCleanup.run(cfg, http, dryRun = false, verifyBackoffMs = 0L)
    }
    e.getMessage should include("1 marker-less statistics points remain")
    e.dumpPath.foreach(p =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(p)))
  }

  test("a non-empty post-apply inventory re-run fails the whole " +
    "cleanup (concurrent-writer guard) without claiming data loss") {
    val http = new FakeHttp {
      override protected def inventoryCsv(call: Int): String = phase1Csv
    }
    val e = intercept[MarkerCleanup.VerificationFailed] {
      MarkerCleanup.run(cfg, http, dryRun = false)
    }
    e.getMessage should include("inventory still reports 2")
    e.getMessage should include("no replay was lost")
    e.dumpPath shouldBe None
  }

  test("a years-long legacy window is cleaned in bounded chunks — one " +
    "fetch/delete/write/verify cycle per chunk window, gaps untouched") {
    MarkerCleanup.chunkWindows(Seq(0L), 100L) shouldBe Seq((0L, 0L))
    MarkerCleanup.chunkWindows(Seq(0L, 99L), 100L) shouldBe
      Seq((0L, 99L))
    MarkerCleanup.chunkWindows(Seq(0L, 99L, 100L, 150L, 500L), 100L) shouldBe
      Seq((0L, 99L), (100L, 150L), (500L, 500L))
    // through run(): the two T1/T2 temp points an hour apart split into
    // two chunks under a 30-minute chunkMs — 2 cycles for temp + 1 for
    // energy; window ends stay exclusive-by-1ms per chunk
    val perChunk = new ArrayBuffer[(String, String)]()
    val http = new FakeHttp {
      override def delete(startIso: String, stopIso: String,
                          predicate: String): Unit = {
        perChunk += ((startIso, stopIso)); super.delete(startIso, stopIso,
          predicate)
      }
      override protected def familyCsv(series: String,
                                       call: Int): String =
        (series, call) match {
          // chunk 1 fetch: only the T1 rows; its verify: marked T1 rows
          case ("temp", 0) => familyTempCsv.linesIterator
            .filterNot(l => l.contains(T2)).mkString("\n") + "\n"
          case ("temp", 1) => familyTempAfterCsv.linesIterator
            .filterNot(l => l.contains(T2)).mkString("\n") + "\n"
          case ("temp", 2) => familyTempCsv.linesIterator
            .filterNot(l => l.contains(T1)).mkString("\n") + "\n"
          case ("temp", _) => familyTempAfterCsv.linesIterator
            .filterNot(l => l.contains(T1)).mkString("\n") + "\n"
          case (s, c) => super.familyCsv(s, c)
        }
    }
    val report = MarkerCleanup.run(cfg, http, dryRun = false,
      chunkMs = 1800000L)
    report.chunksApplied shouldBe 3L
    report.marked shouldBe 3L
    perChunk shouldBe ArrayBuffer(
      (T1, "2024-01-01T00:00:00.001Z"),
      (T2, "2024-01-01T01:00:00.001Z"),
      (T1, "2024-01-01T00:00:00.001Z"))
  }

  test("an unparsable _time or double _value in a family row fails the " +
    "series LOUDLY before the destructive delete, never silently " +
    "dropping the point from the replay") {
    val badTime =
      s"""#datatype,string,long,dateTime:RFC3339,double,string,string,string
        |#group,false,false,false,false,true,true,true
        |#default,_result,,,,,,
        |,result,table,_time,_value,_field,_measurement,source
        |,_result,0,not-a-time,1.5,mean,C,HA
        |""".stripMargin
    intercept[IllegalArgumentException] {
      MarkerCleanup.parseTyped(badTime)
    }.getMessage should include("unparsable _time")
    val badValue =
      s"""#datatype,string,long,dateTime:RFC3339,double,string,string,string
        |#group,false,false,false,false,true,true,true
        |#default,_result,,,,,,
        |,result,table,_time,_value,_field,_measurement,source
        |,_result,0,$T1,not-a-double,mean,C,HA
        |""".stripMargin
    intercept[IllegalArgumentException] {
      MarkerCleanup.parseTyped(badValue)
    }.getMessage should include("unparsable double _value")
  }

  test("a bare dollar in a tag value stays a valid Flux literal — only " +
    "the interpolation trigger `$${` is escaped") {
    val flux = MarkerCleanup.seriesFluxQuery("bkt",
      MarkerCleanup.SeriesKey("C",
        Map("friendly_name" -> "US$ meter", "source" -> "HA")), 0L, 1L)
    flux should include("\"US$ meter\"")
    (flux should not).include("US\\$ meter")
  }

  test("an un-annotated family response fails loudly instead of guessing " +
    "double and dropping string fields; a ${...} tag value cannot " +
    "subvert the family fetch") {
    val noAnnotations =
      s""",result,table,_time,_value,_field,_measurement,source
        |,_result,0,$T1,on,state,C,HA
        |""".stripMargin
    intercept[IllegalArgumentException] {
      MarkerCleanup.parseTyped(noAnnotations)
    }.getMessage should include("no #datatype annotation")
    val flux = MarkerCleanup.seriesFluxQuery("bkt",
      MarkerCleanup.SeriesKey("C",
        Map("entity_id" -> "sensor_${area}", "source" -> "HA")),
      0L, 1L)
    flux should include("sensor_\\${area}")
  }

  test("HttpTransport.queryAnnotated posts the JSON body form requesting " +
    "the datatype annotation (the raw-Flux default dialect has none)") {
    import com.sun.net.httpserver.HttpServer
    import java.net.InetSocketAddress
    val seen = new ArrayBuffer[(String, String)]() // (content-type, body)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/api/v2/query", exchange => {
      val body = new String(exchange.getRequestBody.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      seen.synchronized {
        seen += ((exchange.getRequestHeaders.getFirst("Content-Type"), body))
      }
      val resp = "#datatype,string\n".getBytes
      exchange.sendResponseHeaders(200, resp.length)
      exchange.getResponseBody.write(resp)
      exchange.close()
    })
    server.start()
    try {
      val local = InfluxSink.Config(
        s"http://127.0.0.1:${server.getAddress.getPort}", "o", "bkt", "tok")
      val csv = new MarkerCleanup.HttpTransport(local)
        .queryAnnotated("from(bucket: \"bkt\")\n  |> range(start: 0)")
      csv should include("#datatype")
      val (ct, body) = seen.head
      ct should startWith("application/json")
      body should include(""""annotations": ["datatype"]""")
      // the multi-line Flux program is JSON-escaped, not raw
      body should include("""\n""")
      (body should not).include("\n  |>")
    } finally server.stop(0)
  }

  test("--restore-from-dump end-to-end over REAL HTTP: the re-POST and " +
    "the verification re-fetch travel the actual wire path — write URL " +
    "query/precision, batched body, annotated-CSV fetch — not mocks") {
    import com.sun.net.httpserver.HttpServer
    import java.net.InetSocketAddress
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val writes = new ArrayBuffer[(String, String)]() // (raw query, body)
    val queries = new ArrayBuffer[String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/api/v2/write", exchange => {
      val body = new String(exchange.getRequestBody.readAllBytes(), utf8)
      writes.synchronized {
        writes += ((exchange.getRequestURI.getRawQuery, body))
      }
      exchange.sendResponseHeaders(204, -1)
      exchange.close()
    })
    server.createContext("/api/v2/query", exchange => {
      val body = new String(exchange.getRequestBody.readAllBytes(), utf8)
      queries.synchronized { queries += body }
      // truthful instance: the verification re-fetch sees the restored
      // window exactly as the dump describes it
      val resp = familyTempAfterCsv.getBytes(utf8)
      exchange.sendResponseHeaders(200, resp.length)
      exchange.getResponseBody.write(resp)
      exchange.close()
    })
    server.start()
    try {
      val local = InfluxSink.Config(
        s"http://127.0.0.1:${server.getAddress.getPort}", "o", "bkt", "tok")
      // produce the dump under THIS instance's cfg so its org/host
      // header matches the restore environment (the abort itself runs
      // against the in-memory liar — only the restore needs the wire)
      val liar = new FakeHttp {
        override protected def familyCsv(series: String,
                                         call: Int): String =
          if (series == "temp" && call > 0)
            familyTempAfterCsv.linesIterator
              .filterNot(_.contains("21.5")).mkString("\n") + "\n"
          else super.familyCsv(series, call)
      }
      val e = intercept[MarkerCleanup.VerificationFailed] {
        MarkerCleanup.run(local, liar, dryRun = false,
          verifyBackoffMs = 0L)
      }
      val dumpPath = java.nio.file.Paths.get(e.dumpPath.get)
      val content = new String(java.nio.file.Files.readAllBytes(dumpPath),
        utf8)
      val (key, n) = MarkerCleanup.restoreFromDump(local,
        new MarkerCleanup.HttpTransport(local), content,
        verifyBackoffMs = 0L)
      n shouldBe 5
      key.measurement shouldBe "C"
      // the re-POST hit /api/v2/write with the environment's bucket/org
      // and NANOSECOND precision (the dump's timestamps are ns)
      val (q, body) = writes.synchronized(writes.head)
      q should include("bucket=bkt")
      q should include("org=o")
      q should include("precision=ns")
      body should include(
        "C,domain=sensor,entity_id=temp,friendly_name=Temp,source=HA " +
          "value=21.5 1704069000000100500")
      body.linesIterator.size shouldBe 5
      // the verification re-fetch posted the JSON body form with the
      // datatype annotation — the typed parse the parity check needs
      val fetch = queries.synchronized(queries.head)
      fetch should include(""""annotations": ["datatype"]""")
      fetch should include("temp")
      java.nio.file.Files.delete(dumpPath)
    } finally server.stop(0)
  }

  test("a trailing space in a last-column tag value survives the typed " +
    "parse and replays escaped: the replay writes the same series") {
    val room = "Kitchen " // the last cell of its row, unquoted
    val csv =
      s"""#datatype,string,long,dateTime:RFC3339,double,string,string,string
        |#group,false,false,false,false,true,true,true
        |#default,_result,,,,,,
        |,result,table,_time,_value,_field,_measurement,room
        |,_result,0,$T1,1.5,mean,C,$room
        |""".stripMargin
    val Seq(p) = MarkerCleanup.parseTyped(csv)
    p.tags shouldBe Map("room" -> "Kitchen ")
    MarkerCleanup.replayLine(p)._1 should startWith("C,ha_type=statistics,room=Kitchen\\ ")
  }

  test("a foreign field type in the family fails loudly instead of " +
    "risking a mistyped replay") {
    val longCsv =
      s"""#datatype,string,long,dateTime:RFC3339,long,string,string,string
        |#group,false,false,false,false,true,true,true
        |#default,_result,,,,,,
        |,result,table,_time,_value,_field,_measurement,source
        |,_result,0,$T1,42,count,C,HA
        |""".stripMargin
    intercept[IllegalArgumentException] {
      MarkerCleanup.parseTyped(longCsv)
    }.getMessage should include("unsupported _value datatype")
  }

  test("--restore-from-dump closes the worst-case abort: the retained " +
    "replay re-POSTs through the batched writer and the window " +
    "re-verifies green against a truthful bucket") {
    // 1. the abort: a lying transport drops a point → dump retained
    val liar = new FakeHttp {
      override protected def familyCsv(series: String,
                                       call: Int): String =
        if (series == "temp" && call > 0)
          familyTempAfterCsv.linesIterator
            .filterNot(_.contains("21.5")).mkString("\n") + "\n"
        else super.familyCsv(series, call)
    }
    val e = intercept[MarkerCleanup.VerificationFailed] {
      MarkerCleanup.run(cfg, liar, dryRun = false, verifyBackoffMs = 0L)
    }
    val dumpPath = java.nio.file.Paths.get(e.dumpPath.get)
    val content = new String(java.nio.file.Files.readAllBytes(dumpPath),
      java.nio.charset.StandardCharsets.UTF_8)
    // 2. the restore: a truthful transport accepts the re-POST and the
    //    verification re-fetch sees all 5 points, statistics marked
    val truthful = new FakeHttp {
      override protected def familyCsv(series: String,
                                       call: Int): String =
        familyTempAfterCsv // restored window, every point present
    }
    val (key, n) =
      MarkerCleanup.restoreFromDump(cfg, truthful, content,
        verifyBackoffMs = 0L)
    n shouldBe 5
    key.measurement shouldBe "C"
    key.tags shouldBe Map("domain" -> "sensor", "entity_id" -> "temp",
      "source" -> "HA")
    // the re-POST went through the batched writer with the dump's
    // payload lines (header comments excluded), marker included
    val written = truthful.ops.collect {
      case ("write", ls: Seq[_]) => ls.map(_.toString)
    }.flatten
    written.size shouldBe 5
    written should contain(
      "C,domain=sensor,entity_id=temp,friendly_name=Temp,source=HA " +
        "value=21.5 1704069000000100500")
    written.foreach(_ should not startWith "#")
    // and the verification re-fetch targeted the dump's exact window
    truthful.ops.collect { case ("queryA", f: String) => f }
      .head should include("\"temp\"")
    java.nio.file.Files.delete(dumpPath)
  }

  test("restore against a STILL-lying bucket fails verification again " +
    "and retains a fresh dump — nothing is ever lost silently") {
    val liar = new FakeHttp {
      override protected def familyCsv(series: String,
                                       call: Int): String =
        if (series == "temp" && call > 0)
          familyTempAfterCsv.linesIterator
            .filterNot(_.contains("21.5")).mkString("\n") + "\n"
        else super.familyCsv(series, call)
    }
    val e = intercept[MarkerCleanup.VerificationFailed] {
      MarkerCleanup.run(cfg, liar, dryRun = false, verifyBackoffMs = 0L)
    }
    val dumpPath = java.nio.file.Paths.get(e.dumpPath.get)
    val content = new String(java.nio.file.Files.readAllBytes(dumpPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val stillLying = new FakeHttp {
      override protected def familyCsv(series: String,
                                       call: Int): String =
        familyTempAfterCsv.linesIterator
          .filterNot(_.contains("21.5")).mkString("\n") + "\n"
    }
    val e2 = intercept[MarkerCleanup.VerificationFailed] {
      MarkerCleanup.restoreFromDump(cfg, stillLying, content,
        verifyBackoffMs = 0L)
    }
    e2.getMessage should include("POST-APPLY VERIFICATION FAILED")
    e2.dumpPath should not be empty
    java.nio.file.Files.delete(dumpPath)
    e2.dumpPath.foreach(p =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(p)))
  }

  test("restore refuses arbitrary line protocol: only a header-bearing " +
    "marker-cleanup dump replays through the restore path") {
    intercept[IllegalArgumentException] {
      MarkerCleanup.restoreFromDump(cfg, new FakeHttp,
        "C,source=HA value=1.0 1704067200000000000\n",
        verifyBackoffMs = 0L)
    }.getMessage should include("not a marker-cleanup replay dump")
  }

  test("restore refuses a dump taken from a DIFFERENT bucket — a " +
    "mis-pointed environment must not pollute a foreign bucket and " +
    "print RESTORED") {
    val liar = new FakeHttp {
      override protected def familyCsv(series: String,
                                       call: Int): String =
        if (series == "temp" && call > 0)
          familyTempAfterCsv.linesIterator
            .filterNot(_.contains("21.5")).mkString("\n") + "\n"
        else super.familyCsv(series, call)
    }
    val e = intercept[MarkerCleanup.VerificationFailed] {
      MarkerCleanup.run(cfg, liar, dryRun = false, verifyBackoffMs = 0L)
    }
    val dumpPath = java.nio.file.Paths.get(e.dumpPath.get)
    val content = new String(java.nio.file.Files.readAllBytes(dumpPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val otherCfg =
      InfluxSink.Config("http://localhost:9", "o", "other_bkt", "tok")
    val e2 = intercept[IllegalArgumentException] {
      MarkerCleanup.restoreFromDump(otherCfg, new FakeHttp, content,
        verifyBackoffMs = 0L)
    }
    e2.getMessage should include("bucket 'bkt'")
    e2.getMessage should include("'other_bkt'")
    // a SAME-named bucket under a different ORG would pass the bucket
    // check and pollute a foreign instance — the header records the org
    val otherOrg =
      InfluxSink.Config("http://localhost:9", "other_org", "bkt", "tok")
    val e3 = intercept[IllegalArgumentException] {
      MarkerCleanup.restoreFromDump(otherOrg, new FakeHttp, content,
        verifyBackoffMs = 0L)
    }
    e3.getMessage should include("org 'o'")
    e3.getMessage should include("'other_org'")
    // ... and the same under a different Influx URL (instance)
    val otherUrl =
      InfluxSink.Config("http://elsewhere:8086", "o", "bkt", "tok")
    val e4 = intercept[IllegalArgumentException] {
      MarkerCleanup.restoreFromDump(otherUrl, new FakeHttp, content,
        verifyBackoffMs = 0L)
    }
    e4.getMessage should include("instance 'localhost:9'")
    e4.getMessage should include("'elsewhere:8086'")
    java.nio.file.Files.delete(dumpPath)
  }

  test("a pre-r20 dump without org/host header fields still restores — " +
    "the extra guards enforce only what the dump recorded") {
    val liar = new FakeHttp {
      override protected def familyCsv(series: String,
                                       call: Int): String =
        if (series == "temp" && call > 0)
          familyTempAfterCsv.linesIterator
            .filterNot(_.contains("21.5")).mkString("\n") + "\n"
        else super.familyCsv(series, call)
    }
    val e = intercept[MarkerCleanup.VerificationFailed] {
      MarkerCleanup.run(cfg, liar, dryRun = false, verifyBackoffMs = 0L)
    }
    val dumpPath = java.nio.file.Paths.get(e.dumpPath.get)
    val content = new String(java.nio.file.Files.readAllBytes(dumpPath),
      java.nio.charset.StandardCharsets.UTF_8)
    // strip the o=/h= fields from the restore line — the pre-r20 format
    val legacy = content.linesIterator.map { l =>
      if (l.startsWith("# restore: "))
        l.split(" ").filterNot(f =>
          f.startsWith("o=") || f.startsWith("h=")).mkString(" ")
      else l
    }.mkString("", "\n", "\n")
    val truthful = new FakeHttp {
      override protected def familyCsv(series: String,
                                       call: Int): String =
        familyTempAfterCsv
    }
    val (key, n) = MarkerCleanup.restoreFromDump(cfg, truthful, legacy,
      verifyBackoffMs = 0L)
    n shouldBe 5
    key.measurement shouldBe "C"
    java.nio.file.Files.delete(dumpPath)
  }

  test("a corrupt restore header fails with a named reason, never a " +
    "bare MatchError — the recovery CLI's front door") {
    val mangled =
      """# graft marker-cleanup replay dump v1
        |# restore: m=QQ== b=Ymt0 w=1:2:3 t=
        |C,source=HA value=1.0 1704067200000000000
        |""".stripMargin
    intercept[IllegalArgumentException] {
      MarkerCleanup.restoreFromDump(cfg, new FakeHttp, mangled,
        verifyBackoffMs = 0L)
    }.getMessage should include("restore header corrupt")
    val missingKey =
      """# graft marker-cleanup replay dump v1
        |# restore: m=QQ== w=1:2 t=
        |C,source=HA value=1.0 1704067200000000000
        |""".stripMargin
    intercept[IllegalArgumentException] {
      MarkerCleanup.restoreFromDump(cfg, new FakeHttp, missingKey,
        verifyBackoffMs = 0L)
    }.getMessage should include("missing 'b='")
  }

  test("a SURPLUS of points (concurrent writer) aborts on the FIRST " +
    "verification fetch — indexing lag can only make points missing, " +
    "so waiting is never spent on a count that cannot shrink") {
    val http = new FakeHttp {
      // the verify re-fetch sees one EXTRA marker-carrying point
      override protected def familyCsv(series: String,
                                       call: Int): String =
        if (series == "temp" && call > 0)
          familyTempAfterCsv +
            s",_result,0,2024-01-01T00:55:00Z,14.0,mean,C,sensor,temp,HA,statistics\n"
        else super.familyCsv(series, call)
    }
    val e = intercept[MarkerCleanup.VerificationFailed] {
      MarkerCleanup.run(cfg, http, dryRun = false, verifyBackoffMs = 0L)
    }
    e.getMessage should include("now holds 6")
    e.getMessage should include("after 1 fetch attempts")
    http.ops.count {
      case ("queryA", f: String) => f.contains("\"temp\"")
      case _ => false
    } shouldBe 2 // 1 family fetch + exactly ONE verification attempt
    e.dumpPath.foreach(p =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(p)))
  }

  test("--chunk-days fails fast on a missing or unparsable value " +
    "instead of silently running with the 30-day default") {
    MarkerCleanup.parseChunkDays(Array("--apply")) shouldBe
      MarkerCleanup.DefaultChunkMs
    MarkerCleanup.parseChunkDays(Array("--apply", "--chunk-days", "7")) shouldBe
      7L * 86400000L
    intercept[IllegalArgumentException] {
      MarkerCleanup.parseChunkDays(Array("--apply", "--chunk-days"))
    }.getMessage should include("requires a value")
    intercept[IllegalArgumentException] {
      MarkerCleanup.parseChunkDays(Array("--chunk-days", "soon"))
    }.getMessage should include("not a number")
    intercept[IllegalArgumentException] {
      MarkerCleanup.parseChunkDays(Array("--chunk-days", "0"))
    }.getMessage should include("must be positive")
  }
}
