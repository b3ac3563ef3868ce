package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.etl.{InfluxSink, Sources}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.scalatest.time.SpanSugar._

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.{DriverManager, Types}
import java.time.Instant
import java.util.SplittableRandom

/** `Backfill.run` and `Backfill.runStatistics` end to end, as a user runs
  * them: a seeded recorder in embedded Derby reached as `jdbc:sqlite:`
  * ([[SqliteDerbyShim]]), ranged JDBC reads, the transform, line protocol
  * and POSTs to a loopback Influx stub that also answers both watermark
  * queries. The stub must receive exactly the lines `Backfill.plan` /
  * `statisticsPlan` and `InfluxSink.toLine` give over the same recorder
  * tables read unpartitioned. */
class BackfillRunSpec extends AnyFunSuite with Matchers with Eventually {
  private lazy val spark = TestSpark.spark

  private val db = "memory:graft_backfill_run"
  private val t0Ms = 1672531200000L // 2023-01-01T00:00:00Z
  private val spanMs = 10L * 86400000L
  private val statHours = 48
  private val statesWm = t0Ms + spanMs / 2 + 123
  private val statisticsWm = t0Ms + 24 * 3600000L + 1

  /** Attribute blobs on every branch of the attribute parse. */
  private val blobs: Vector[Option[String]] = Vector(
    None,
    Some("not json"),
    Some("{}"),
    Some("""{"friendly_name":"Kitchen","unit_of_measurement":"°C","temperature":21.5}"""),
    Some("""{"unit_of_measurement":"","id":"dev1","id_str":"7","update_available":"false"}"""),
    Some("""{"co2":"abc","linkquality":"57","humidity":"40.5","name":"no friendly"}"""),
    Some("""{"value":"9.9","state":"attrwins","friendly_name":"Collide"}"""),
    Some("""{"unit_of_measurement":"W","icon":"mdi:x","battery":"88"}"""))

  private val entities = (1 to 12).map { i =>
    i -> (if (i % 5 == 0) s"sensor.esp.voc_$i" else if (i % 2 == 0) s"light.lamp_$i"
          else s"sensor.temp_$i")
  }

  private lazy val seeded: Unit = {
    SqliteDerbyShim.register()
    val rnd = new SplittableRandom(7)
    val stateValues = Vector("21.5", "-3", "007", "1e3", "on", "off", "unknown", "None")
    val states = (0 until 500).map { i =>
      // two rows on either side of the states watermark's exact ms
      val ms = i match {
        case 0 => statesWm
        case 1 => statesWm - 1
        case _ => t0Ms + rnd.nextLong(spanMs)
      }
      val attr = rnd.nextInt(20) match {
        case 0 => None
        case 1 => Some(blobs.size + 1) // no such state_attributes row
        case _ => Some(1 + rnd.nextInt(blobs.size))
      }
      (1 + rnd.nextInt(entities.size + 2), attr,
        stateValues(rnd.nextInt(stateValues.size)), ms / 1000.0)
    }
    val statsMeta = Seq((1, "sensor.energy_1", Some("kWh"), false, true),
      (2, "sensor.temp_2", Some("°C"), true, false),
      (3, "sensor.esp.meter_3", None, true, false),
      (4, "sensor.none_4", Some(""), false, false))
    val c = DriverManager.getConnection(s"jdbc:derby:$db;create=true")
    try {
      val st = c.createStatement()
      // quoted lowercase column names, as SQLite reports the recorder's
      def table(name: String, cols: String*): Unit = st.execute(
        s"CREATE TABLE $name (" + cols.map { col =>
          val Array(n, t) = col.split(" ", 2); "\"" + n + "\" " + t }.mkString(", ") + ")")
      table("states", "metadata_id INT", "attributes_id INT", "state VARCHAR(64)",
        "last_updated_ts DOUBLE")
      table("states_meta", "metadata_id INT", "entity_id VARCHAR(128)")
      table("state_attributes", "attributes_id INT", "shared_attrs VARCHAR(4096)")
      table("statistics", "id INT", "metadata_id INT", "start_ts DOUBLE", "mean DOUBLE",
        "min DOUBLE", "max DOUBLE", "state DOUBLE", "sum DOUBLE")
      table("statistics_meta", "id INT", "statistic_id VARCHAR(128)",
        "unit_of_measurement VARCHAR(32)", "has_mean BOOLEAN", "has_sum BOOLEAN")
      st.close()
      def insert[T](t: String, n: Int, rows: Seq[T])(bind: (java.sql.PreparedStatement, T) => Unit): Unit = {
        val ps = c.prepareStatement(s"INSERT INTO $t VALUES (${Seq.fill(n)("?").mkString(", ")})")
        rows.foreach { r => bind(ps, r); ps.executeUpdate() }
        ps.close()
      }
      insert("states", 4, states) { case (ps, (m, a, s, ts)) =>
        ps.setInt(1, m)
        a.fold(ps.setNull(2, Types.INTEGER))(ps.setInt(2, _))
        ps.setString(3, s); ps.setDouble(4, ts)
      }
      insert("states_meta", 2, entities) { case (ps, (m, e)) => ps.setInt(1, m); ps.setString(2, e) }
      insert("state_attributes", 2, blobs.zipWithIndex) { case (ps, (b, j)) =>
        ps.setInt(1, j + 1); ps.setString(2, b.orNull) }
      val stats = for (h <- 0 until statHours; s <- statsMeta.indices) yield (h, s + 1)
      insert("statistics", 8, stats.zipWithIndex) { case (ps, ((h, s), id)) =>
        ps.setInt(1, id); ps.setInt(2, s); ps.setDouble(3, (t0Ms + h * 3600000L) / 1000.0)
        Seq(20.0 + h, 19.0 + h, 21.0 + h, 0.5 * h, 1.5 * h + s).zipWithIndex
          .foreach { case (v, k) => ps.setDouble(4 + k, v) }
      }
      insert("statistics_meta", 5, statsMeta) { case (ps, (i, s, u, m, sum)) =>
        ps.setInt(1, i); ps.setString(2, s); ps.setString(3, u.orNull)
        ps.setBoolean(4, m); ps.setBoolean(5, sum)
      }
    } finally c.close()
  }

  /** The lines the two plans give over the recorder read unpartitioned. */
  private def expectedLines(wm: Option[Long], swm: Option[Long]): (Seq[String], Seq[String]) = {
    def read(t: String) = Sources.sqliteJdbc(spark, db, t)
    val states = Backfill.plan(read("states"), read("states_meta"),
      read("state_attributes"), wm)
    val stats = Backfill.statisticsPlan(
      read("statistics").withColumn("start_ts_ms", round(col("start_ts") * 1000).cast("long")),
      read("statistics_meta").withColumnRenamed("id", "metadata_id"), swm)
    def lines(df: org.apache.spark.sql.DataFrame) =
      InfluxSink.asPoints(df).collect().map(InfluxSink.toLine).toSeq.sorted
    (lines(states), lines(stats))
  }

  /** A loopback Influx: both watermark queries answered from `wm` / `swm`
    * (an empty body for None), every written line kept. */
  private def withStub(wm: Option[Long], swm: Option[Long])
                      (f: (InfluxSink.Config, () => Seq[String]) => Unit): Unit = {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    def reply(ex: HttpExchange, body: String): Unit = {
      val b = body.getBytes(UTF_8)
      ex.sendResponseHeaders(if (b.isEmpty) 204 else 200, if (b.isEmpty) -1 else b.length)
      if (b.nonEmpty) ex.getResponseBody.write(b)
      ex.close()
    }
    server.createContext("/api/v2/query", (ex: HttpExchange) => {
      val flux = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val ms = if (flux.contains("""r["ha_type"] == "statistics"""")) swm else wm
      reply(ex, ms.fold("")(m => s",result,table,_time,_value\n,_result,0,${Instant.ofEpochMilli(m)},1\n"))
    })
    server.createContext("/api/v2/write", (ex: HttpExchange) => {
      new String(ex.getRequestBody.readAllBytes(), UTF_8).split("\n")
        .filter(_.nonEmpty).foreach(lines.add)
      reply(ex, "")
    })
    server.start()
    try f(InfluxSink.Config(s"http://127.0.0.1:${server.getAddress.getPort}", "o", "b", "t"),
      () => lines.toArray(Array.empty[String]).toSeq)
    finally server.stop(0)
  }

  /** Tasks of the widest stage the jobs of `group` ran. */
  private def widestStage(group: String): Int = {
    val st = spark.sparkContext.statusTracker
    st.getJobIdsForGroup(group).toSeq.flatMap(st.getJobInfo).flatMap(_.stageIds)
      .flatMap(st.getStageInfo).map(_.numTasks).maxOption.getOrElse(0)
  }

  private def backfillBoth(wm: Option[Long], swm: Option[Long], group: String): Unit = {
    seeded
    val (wantStates, wantStats) = expectedLines(wm, swm)
    wantStates should not be empty
    wantStats should not be empty
    withStub(wm, swm) { (cfg, got) =>
      val sc = spark.sparkContext
      sc.setJobGroup(group, "Backfill.run", interruptOnCancel = false)
      val n = try Backfill.run(spark, db, cfg) finally sc.clearJobGroup()
      val statesLines = got()
      n shouldBe statesLines.size
      statesLines.sorted shouldBe wantStates
      val ns = Backfill.runStatistics(spark, db, cfg)
      val statsLines = got().drop(statesLines.size)
      ns shouldBe statsLines.size
      statsLines.sorted shouldBe wantStats
      // the states scan ran range-partitioned on every core
      eventually(timeout(10.seconds)) {
        widestStage(group) shouldBe sc.defaultParallelism
      }
    }
  }

  test("Backfill.run + runStatistics with a mid-history watermark: the stub " +
    "receives exactly the plans' lines, the returned counts equal it, and " +
    "the states scan has defaultParallelism partitions") {
    backfillBoth(Some(statesWm), Some(statisticsWm), "backfill-run-spec-wm")
    // the watermark cut something: the full export is larger
    val (allStates, allStats) = expectedLines(None, None)
    val (cutStates, cutStats) = expectedLines(Some(statesWm), Some(statisticsWm))
    cutStates.size should be < allStates.size
    cutStats.size should be < allStats.size
  }

  test("Backfill.run + runStatistics with no watermark export everything") {
    backfillBoth(None, None, "backfill-run-spec-none")
  }
}
