package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.io.{DataOutputStream, OutputStream}
import java.nio.file.Path
import java.security.{DigestOutputStream, MessageDigest}
import java.sql.{Connection, DriverManager, Types}
import java.util.SplittableRandom

/** A seeded Home Assistant recorder: `states`, `states_meta`,
  * `state_attributes`, `statistics` and `statistics_meta`, with rows on
  * every quirk branch the pipeline handles (numeric, negative, exponent,
  * zero-padded and non-numeric states; junk states; dotted object ids;
  * NULL, malformed and empty attribute blobs; absent, empty and unit
  * measurements; blocked and force-float keys with one non-numeric value;
  * states whose entity or attribute row is missing; statistics sensors
  * typed mean, sum and neither). The same seed gives the same rows. */
final case class Recorder(
    states: Vector[(Int, Option[Int], String, Double)],
    meta: Vector[(Int, String)],
    attrs: Vector[(Int, Option[String])],
    stats: Vector[(Int, Int, Double, Double, Double, Double, Double, Double)],
    statsMeta: Vector[(Int, String, Option[String], Boolean, Boolean)],
    statesWatermarkMs: Long,
    statisticsWatermarkMs: Long) {

  def rowCount: Long =
    states.size.toLong + meta.size + attrs.size + stats.size + statsMeta.size

  /** SHA-256 over a canonical encoding of every row. */
  def digest: String = {
    val md = MessageDigest.getInstance("SHA-256")
    val out = new DataOutputStream(new DigestOutputStream(OutputStream.nullOutputStream(), md))
    def opt(s: Option[String]): Unit = s match {
      case Some(v) => out.writeBoolean(true); out.writeUTF(v)
      case None => out.writeBoolean(false)
    }
    states.foreach { case (m, a, s, t) =>
      out.writeInt(m); out.writeInt(a.getOrElse(-1)); out.writeUTF(s); out.writeDouble(t) }
    meta.foreach { case (m, e) => out.writeInt(m); out.writeUTF(e) }
    attrs.foreach { case (a, s) => out.writeInt(a); opt(s) }
    stats.foreach { r => r.productIterator.foreach {
      case i: Int => out.writeInt(i)
      case d: Double => out.writeDouble(d)
      case _ => ()
    } }
    statsMeta.foreach { case (i, s, u, m, sum) =>
      out.writeInt(i); out.writeUTF(s); opt(u); out.writeBoolean(m); out.writeBoolean(sum) }
    out.writeLong(statesWatermarkMs)
    out.writeLong(statisticsWatermarkMs)
    out.flush()
    md.digest().map("%02x".format(_)).mkString
  }

  /** The generated tables as DataFrames in the recorder's own shape. */
  def frames(spark: SparkSession): Recorder.Frames = {
    def df(rows: Seq[Row], schema: StructType) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, Host.nproc), schema)
    Recorder.Frames(
      df(states.map { case (m, a, s, t) => Row(m, a.orNull, s, t) }, Recorder.statesSchema),
      df(meta.map { case (m, e) => Row(m, e) }, Recorder.metaSchema),
      df(attrs.map { case (a, s) => Row(a, s.orNull) }, Recorder.attrsSchema),
      df(stats.map(r => Row(r.productIterator.toSeq: _*)), Recorder.statsSchema),
      df(statsMeta.map { case (i, s, u, m, sum) => Row(i, s, u.orNull, m, sum) },
        Recorder.statsMetaSchema))
  }

  /** Write every table into a new embedded Derby database at `dir`. */
  def seedDerby(dir: Path): Unit = {
    val c = DriverManager.getConnection(s"jdbc:derby:$dir;create=true")
    try {
      c.setAutoCommit(false)
      // quoted lowercase column names, as SQLite reports the recorder's
      // columns (Derby would upper-case unquoted ones)
      def table(name: String, cols: String*): String =
        s"CREATE TABLE $name (" + cols.map { c =>
          val Array(n, t) = c.split(" ", 2); "\"" + n + "\" " + t }.mkString(", ") + ")"
      val ddl = Seq(
        table("states", "metadata_id INT NOT NULL", "attributes_id INT",
          "state VARCHAR(64)", "last_updated_ts DOUBLE NOT NULL"),
        table("states_meta", "metadata_id INT NOT NULL", "entity_id VARCHAR(128) NOT NULL"),
        table("state_attributes", "attributes_id INT NOT NULL", "shared_attrs VARCHAR(4096)"),
        table("statistics", "id INT NOT NULL", "metadata_id INT NOT NULL",
          "start_ts DOUBLE NOT NULL", "mean DOUBLE", "min DOUBLE", "max DOUBLE",
          "state DOUBLE", "sum DOUBLE"),
        table("statistics_meta", "id INT NOT NULL", "statistic_id VARCHAR(128) NOT NULL",
          "unit_of_measurement VARCHAR(32)", "has_mean BOOLEAN NOT NULL",
          "has_sum BOOLEAN NOT NULL"))
      val st = c.createStatement()
      ddl.foreach(st.execute)
      st.close()
      Recorder.insert(c, "states", 4, states) { case (ps, (m, a, s, t)) =>
        ps.setInt(1, m)
        a match { case Some(v) => ps.setInt(2, v); case None => ps.setNull(2, Types.INTEGER) }
        ps.setString(3, s); ps.setDouble(4, t)
      }
      Recorder.insert(c, "states_meta", 2, meta) { case (ps, (m, e)) =>
        ps.setInt(1, m); ps.setString(2, e) }
      Recorder.insert(c, "state_attributes", 2, attrs) { case (ps, (a, s)) =>
        ps.setInt(1, a); ps.setString(2, s.orNull) }
      Recorder.insert(c, "statistics", 8, stats) { case (ps, r) =>
        r.productIterator.zipWithIndex.foreach {
          case (i: Int, k) => ps.setInt(k + 1, i)
          case (d: Double, k) => ps.setDouble(k + 1, d)
          case _ => ()
        }
      }
      Recorder.insert(c, "statistics_meta", 5, statsMeta) { case (ps, (i, s, u, m, sum)) =>
        ps.setInt(1, i); ps.setString(2, s); ps.setString(3, u.orNull)
        ps.setBoolean(4, m); ps.setBoolean(5, sum)
      }
      c.commit()
    } finally c.close()
  }
}

object Recorder {
  final case class Frames(states: DataFrame, meta: DataFrame, attrs: DataFrame,
                          stats: DataFrame, statsMeta: DataFrame)

  val statesSchema: StructType = StructType(Seq(
    StructField("metadata_id", IntegerType, nullable = false),
    StructField("attributes_id", IntegerType),
    StructField("state", StringType),
    StructField("last_updated_ts", DoubleType, nullable = false)))
  val metaSchema: StructType = StructType(Seq(
    StructField("metadata_id", IntegerType, nullable = false),
    StructField("entity_id", StringType, nullable = false)))
  val attrsSchema: StructType = StructType(Seq(
    StructField("attributes_id", IntegerType, nullable = false),
    StructField("shared_attrs", StringType)))
  val statsSchema: StructType = StructType(
    Seq("id", "metadata_id").map(StructField(_, IntegerType, nullable = false)) ++
    Seq("start_ts", "mean", "min", "max", "state", "sum").map(StructField(_, DoubleType)))
  val statsMetaSchema: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("statistic_id", StringType, nullable = false),
    StructField("unit_of_measurement", StringType),
    StructField("has_mean", BooleanType, nullable = false),
    StructField("has_sum", BooleanType, nullable = false)))

  private def insert[T](c: Connection, table: String, nCols: Int, rows: Seq[T])
                       (bind: (java.sql.PreparedStatement, T) => Unit): Unit = {
    val ps = c.prepareStatement(
      s"INSERT INTO $table VALUES (${Seq.fill(nCols)("?").mkString(", ")})")
    var n = 0
    rows.foreach { r =>
      bind(ps, r)
      ps.addBatch()
      n += 1
      if (n % 5000 == 0) ps.executeBatch()
    }
    ps.executeBatch()
    ps.close()
  }

  /** Shut a booted Derby database down so its directory can be removed. */
  def shutdownDerby(dir: Path): Unit =
    try DriverManager.getConnection(s"jdbc:derby:$dir;shutdown=true").close()
    catch { case _: java.sql.SQLException => () } // Derby signals success by throwing

  val Epoch0Ms = 1672531200000L // 2023-01-01T00:00:00Z
  private val domains = Vector("sensor", "light", "binary_sensor", "climate")
  private val objects = Vector("temp_kitchen", "humidity_bath", "power_plug",
    "door_front", "lux_garden", "co2_office")
  private val units = Vector(None, Some(""), Some("°C"), Some("%"), Some("W"), Some("ppm"))
  private val extraStates = Vector("0", "007", "-3.2", "1e3", "on", "off",
    "home", "unknown", "unavailable", "None")

  /** `nStates` state rows over `nEntities` entities and `nAttrs` distinct
    * attribute blobs, 30 days of history; the watermarks sit at 90% of the
    * span, so most rows are older than them and are exported. */
  def generate(seed: Long, nStates: Int, nEntities: Int, nAttrs: Int,
               nStatSensors: Int, statHours: Int): Recorder = {
    val rnd = new SplittableRandom(seed)
    val spanMs = 30L * 86400000L
    val meta = (1 to nEntities).toVector.map { i =>
      val dom = domains(rnd.nextInt(domains.size))
      val obj = objects(rnd.nextInt(objects.size))
      // every 7th object id is dotted: split at the first dot only
      i -> (if (i % 7 == 0) s"$dom.esp.${obj}_$i" else s"$dom.${obj}_$i")
    }
    def num(lo: Int, hi: Int): String = String.format(java.util.Locale.ROOT, "%.1f",
      Double.box((lo * 10 + rnd.nextInt((hi - lo) * 10)) / 10.0))
    val attrs = (1 to nAttrs).toVector.map { j =>
      val blob: Option[String] = j % 50 match {
        case 0 => None
        case 1 => Some("not json")
        case 2 => Some("{}")
        case _ =>
          val kv = Vector.newBuilder[(String, String)]
          if (j % 6 != 5) kv += "friendly_name" -> s"\"Room $j\""
          else kv += "name" -> s"\"unnamed $j\""
          units(j % units.size).foreach(u => kv += "unit_of_measurement" -> s"\"$u\"")
          if (j % 5 == 0) kv += "id" -> s"\"dev$j\""
          if (j % 9 == 0) kv += "id_str" -> s"\"$j\""
          if (j % 11 == 0) kv += "update_available" -> "false"
          if (j % 3 == 0) kv += "temperature" -> num(-10, 35)
          if (j % 4 == 0) kv += "humidity" -> s"\"${num(20, 90)}\""
          if (j % 13 == 0) kv += "co2" -> num(400, 1800)
          if (j % 17 == 0) kv += "voc" -> num(0, 500)
          if (j % 19 == 0) kv += "formaldehyd" -> num(0, 2)
          if (j % 23 == 0) kv += "linkquality" -> rnd.nextInt(255).toString
          if (j % 97 == 3) kv += "temperature" -> "\"warm\"" // force-float miss
          if (j % 2 == 0) kv += "icon" -> "\"mdi:x\""
          if (j % 7 == 0) kv += "battery" -> s"\"${rnd.nextInt(101)}\""
          kv += "rev" -> j.toString // every blob distinct, as the recorder dedups them
          Some(kv.result().map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}"))
      }
      j -> blob
    }
    val states = Vector.fill(nStates) {
      // a few states point past states_meta / state_attributes (join misses)
      val m = 1 + rnd.nextInt(nEntities + nEntities / 50 + 1)
      val a = rnd.nextInt(100) match {
        case x if x < 5 => None
        case x if x < 6 => Some(nAttrs + 1 + rnd.nextInt(10))
        case _ => Some(1 + rnd.nextInt(nAttrs))
      }
      val s = if (rnd.nextInt(4) == 0) extraStates(rnd.nextInt(extraStates.size))
              else num(-20, 40)
      val ms = Epoch0Ms + rnd.nextLong(spanMs)
      (m, a, s, ms / 1000.0)
    }
    val statsMeta = (1 to nStatSensors).toVector.map { i =>
      val typ = i % 5 // 0,1: mean-typed; 2,3: sum-typed; 4: neither
      (i, if (i % 6 == 0) s"sensor.esp.meter_$i" else s"sensor.energy_$i",
        Vector(None, Some(""), Some("kWh"), Some("°C"))(i % 4), typ < 2, typ == 2 || typ == 3)
    }
    var id = 0
    val stats = for {
      h <- (0 until statHours).toVector
      s <- 1 to nStatSensors
    } yield {
      id += 1
      val mean = rnd.nextInt(40000) / 100.0
      (id, s, (Epoch0Ms + h * 3600000L) / 1000.0, mean, mean - rnd.nextInt(500) / 100.0,
        mean + rnd.nextInt(500) / 100.0, rnd.nextInt(100000) / 100.0, (h * 37 + s) / 10.0)
    }
    Recorder(states, meta, attrs, stats, statsMeta,
      statesWatermarkMs = Epoch0Ms + spanMs * 9 / 10,
      statisticsWatermarkMs = Epoch0Ms + statHours * 3600000L * 9 / 10)
  }
}
