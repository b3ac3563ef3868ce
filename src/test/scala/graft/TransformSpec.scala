package graft

import graft.etl.Transform
import graft.model.{StateAttributesRow, StateRow, StatesMetaRow}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Quirk matrix §2.12 (Q1–Q8) as explicit cases over hand-built recorder
  * rows — the edge inputs the fixtures can't isolate one at a time. */
class TransformSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val meta = Seq(
    StatesMetaRow(1, "sensor.temp_kitchen"),
    StatesMetaRow(2, "sensor.esp.vindriktning.voc"), // dotted object id (F1)
    StatesMetaRow(3, "light.lamp")).toDF()
  private val attrs = Seq(
    StateAttributesRow(10, """{"friendly_name":"Kitchen","unit_of_measurement":"°C","temperature":"21.5"}"""),
    StateAttributesRow(11, """{"unit_of_measurement":""}"""),          // '' unit (F4)
    StateAttributesRow(12, "not json at all"),                          // F2
    StateAttributesRow(13, """{"co2":"abc","linkquality":"57"}"""),     // Q4 force-float
    StateAttributesRow(14, """{"value":"9.9","state":"attrwins"}""")    // Q7 collision
  ).toDF()

  private def run(states: Seq[StateRow]) =
    Transform.flatPipeline(
      Transform.fromRecorder(states.toDF()), meta, attrs, withEventId = false)

  test("P3: junk states are dropped") {
    val out = run(Seq(
      StateRow(1, Some(10), "unknown", 1700000000.0),
      StateRow(1, Some(10), "unavailable", 1700000001.0),
      StateRow(1, Some(10), "None", 1700000002.0),
      StateRow(1, Some(10), "21.0", 1700000003.0)))
    out.count() shouldBe 1
  }

  test("J1 inner: states without metadata are dropped") {
    run(Seq(StateRow(99, Some(10), "1", 1700000000.0))).count() shouldBe 0
  }

  test("J2 left + Q5: missing attributes_id survives with defaults") {
    val out = run(Seq(StateRow(1, None, "21.0", 1700000000.0))).collect().head
    out.getAs[String]("measurement") shouldBe "default_measurement"
    out.getAs[String]("friendly_name") shouldBe "temp_kitchen" // falls back to short id
  }

  test("F1: entity id splits at the FIRST dot only") {
    val out = run(Seq(StateRow(2, None, "5", 1700000000.0))).collect().head
    out.getAs[String]("domain") shouldBe "sensor"
    out.getAs[String]("entity_id_short") shouldBe "esp.vindriktning.voc"
  }

  test("F2: malformed JSON behaves as empty attrs, row survives") {
    val out = run(Seq(StateRow(1, Some(12), "7", 1700000000.0))).collect().head
    out.getAs[String]("measurement") shouldBe "default_measurement"
    out.getAs[Double]("value_num") shouldBe 7.0
  }

  test("F4: unit defaults FIRST, then '' remaps to count") {
    val out = run(Seq(StateRow(1, Some(11), "3", 1700000000.0))).collect().head
    out.getAs[String]("measurement") shouldBe "count"
  }

  test("Q3: negative and exotic states land on the string path") {
    val out = run(Seq(
      StateRow(1, Some(10), "-5.2", 1700000000.0),
      StateRow(1, Some(10), "1e3", 1700000001.0),
      StateRow(1, Some(10), "1.2.3", 1700000002.0),
      StateRow(1, Some(10), ".5", 1700000003.0),  // reference isdigit ACCEPTS
      StateRow(1, Some(10), "5.", 1700000004.0))) // these two
      .orderBy("time_ms").collect()
    out.map(_.getAs[String]("state_str")) shouldBe Array("-5.2", "1e3", "1.2.3", null, null)
    out.map(r => Option(r.getAs[Any]("value_num"))) shouldBe
      Array(None, None, None, Some(0.5), Some(5.0))
  }

  test("Q4: force-float key with bad value drops the field, row survives") {
    val points = Transform.corePipeline(
      Transform.fromRecorder(Seq(StateRow(1, Some(13), "ok_state", 1700000000.0)).toDF()
        .withColumn("event_id", lit(1L))), meta, attrs)
    val row = points.collect().head
    val num = row.getAs[Map[String, Double]]("fields_num")
    num.get("co2") shouldBe None          // failed cast → dropped
    num("linkquality") shouldBe 57.0      // force-floated
    row.getAs[Map[String, String]]("fields_str").keySet should contain("state")
  }

  test("Q4: a cast to NaN or ±Infinity drops the field, row survives") {
    val huge = "9" * 400 // numeric-looking, casts to +Infinity
    val blob = StateAttributesRow(15, s"""{"temperature":"NaN","humidity":"nan",""" +
      s""""co2":"Infinity","voc":"inf","formaldehyd":"-Infinity",""" +
      s""""linkquality":"1e400","battery":"$huge","pressure":"1013"}""")
    val points = Transform.corePipeline(
      Transform.fromRecorder(Seq(StateRow(1, Some(15), "ok_state", 1700000000.0)).toDF()
        .withColumn("event_id", lit(1L))), meta, attrs.union(Seq(blob).toDF()))
    val row = points.collect().head
    row.getAs[Map[String, Double]]("fields_num") shouldBe Map("pressure" -> 1013.0)
    row.getAs[Map[String, String]]("fields_str") shouldBe Map("state" -> "ok_state")
  }

  test("Q7: attr named value/state overwrites the state field (LAST_WIN)") {
    val points = Transform.corePipeline(
      Transform.fromRecorder(Seq(StateRow(1, Some(14), "1.0", 1700000000.0)).toDF()
        .withColumn("event_id", lit(1L))), meta, attrs)
    val row = points.collect().head
    row.getAs[Map[String, Double]]("fields_num")("value") shouldBe 9.9
    row.getAs[Map[String, String]]("fields_str")("state") shouldBe "attrwins"
  }

  test("fromRecorder: REAL-seconds → exact epoch ms round-trip") {
    val ms = Seq(1704067207179L, 1700000000000L, 1712345678999L)
    val df = ms.map(m => (m, m / 1000.0)).toDF("expected_ms", "last_updated_ts")
    val got = Transform.fromRecorder(df).select("expected_ms", "last_updated_ms")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    got.foreach { case (exp, actual) => actual shouldBe exp }
  }

  test("Q2: watermark predicate compares epoch-to-epoch") {
    val df = Seq(StateRow(1, Some(10), "1", 1700.0), StateRow(1, Some(10), "2", 1800.0)).toDF()
    val kept = Transform.fromRecorder(df)
      .filter(Transform.olderThan(col("last_updated_ms"), 1750000L))
      .collect()
    kept.map(_.getAs[String]("state")) shouldBe Array("1")
  }

  test("statisticsPipeline: meta BROADCASTS, unmatched sensors drop, and " +
    "the mean-type / sum-type split publishes disjoint column triples") {
    val stats = Seq(
      (1, 0L, 20.0, 19.0, 21.0, 20.5, 3.0),   // mean-type sensor
      (2, 0L, 5.0, 4.0, 6.0, 5.5, 7.0),       // sum-type sensor
      (9, 0L, 1.0, 1.0, 1.0, 1.0, 1.0)        // no meta row → dropped
    ).toDF("metadata_id", "start_ts_ms", "mean", "min", "max", "state", "sum")
    val meta2 = Seq(
      (1, "sensor.temp_attic", "C", true),
      (2, "sensor.energy_main", "kWh", false)
    ).toDF("metadata_id", "statistic_id", "unit_of_measurement", "has_mean")
    val out = Transform.statisticsPipeline(stats, meta2)
    val rows = out.orderBy("entity_id_short").collect()
    rows.map(_.getAs[String]("entity_id_short")) shouldBe
      Array("energy_main", "temp_attic")
    val energy = rows(0); val temp = rows(1)
    temp.getAs[Double]("mean") shouldBe 20.0
    temp.isNullAt(temp.fieldIndex("state")) shouldBe true
    energy.isNullAt(energy.fieldIndex("mean")) shouldBe true
    energy.getAs[Double]("state") shouldBe 5.5
    energy.getAs[Double]("sum_total") shouldBe 7.0
    out.queryExecution.executedPlan.toString should
      include("BroadcastHashJoin")
  }
}
