package graft

import graft.etl.Transform
import graft.etl.Transform._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, MapType, StringType}
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property for F2/F9: an arbitrary string→string attrs object,
  * rendered as JSON, parses back to exactly the same map (quirk-relevant
  * escapes included), and numericFields/stringFields partition its entries
  * without loss or overlap (modulo the force-float null-drop of Q4); and
  * the per-blob attribute projection of `corePipeline` / `flatPipeline`
  * equals the per-row expression chain it replaced, kept here as the
  * model. */
class JsonFlattenPropSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val key: Gen[String] = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
  private val value: Gen[String] = Gen.oneOf(
    Gen.listOf(Gen.asciiPrintableChar).map(_.mkString),   // arbitrary printable
    Gen.chooseNum(-999.0, 999.0).map(d => f"$d%.2f"),     // numeric-looking
    Gen.oneOf("", " ", "\"quoted\"", "back\\slash", "tab\there"))
  private val attrsGen: Gen[Map[String, String]] =
    Gen.mapOf(Gen.zip(key, value)).map(_.take(6))

  private def toJson(m: Map[String, String]): String =
    m.map { case (k, v) =>
      def esc(s: String) = s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
      s""""${esc(k)}":"${esc(v)}""""
    }.mkString("{", ",", "}")

  test("parseAttrs round-trips arbitrary maps; field dispatch partitions them") {
    import spark.implicits._
    val prop = Prop.forAllNoShrink(Gen.listOfN(25, attrsGen)) { maps: List[Map[String, String]] =>
      val df = maps.zipWithIndex.map { case (m, i) => (i, toJson(m)) }
        .toDF("id", "shared_attrs")
      val parsed = df.select(col("id"),
        Transform.parseAttrs(col("shared_attrs")).as("a"),
        Transform.numericFields(Transform.parseAttrs(col("shared_attrs"))).as("fn"),
        Transform.stringFields(Transform.parseAttrs(col("shared_attrs"))).as("fs"))
        .collect()
        .map(r => r.getInt(0) -> ((r.getAs[Map[String, String]]("a"),
          r.getAs[Map[String, Double]]("fn"), r.getAs[Map[String, String]]("fs"))))
        .toMap
      maps.zipWithIndex.forall { case (m, i) =>
        val (a, fn, fs) = (parsed(i)._1, parsed(i)._2, parsed(i)._3)
        val roundTrip = a == m
        // partition: every key lands in exactly one side (force-float keys
        // with uncastable values may drop — none generated here unless the
        // key collides with the allowlist, which alphaNum keys can)
        val partition = m.keySet.forall { k =>
          val forced = Transform.forceFloatKeys.contains(k)
          val dropped = forced && fn.get(k).isEmpty && fs.get(k).isEmpty
          fn.contains(k) ^ fs.contains(k) || dropped
        }
        roundTrip && partition
      }
    }
    PropCheck.check(prop, minSuccessful = 30, tag = "JsonFlattenPropSpec#1")
  }

  // --- per-blob attribute projection ≡ the per-row chain -----------------

  /** The per-row model: the JSON blob parsed after the join, once per
    * state row. */
  private def modelCore(states: DataFrame, meta: DataFrame, attrs: DataFrame,
                        wm: Option[Long]): DataFrame = {
    val base0 = filterJunk(joined(states, meta, attrs))
    val base = wm.fold(base0)(w => base0.filter(olderThan(col("last_updated_ms"), w)))
    val a = withoutBlocked(parseAttrs(col("shared_attrs")))
    val eShort = entityShort(col("entity_id"))
    val stateNum = when(isNumericLike(col("state")), col("state").try_cast("double"))
    base.select(col("event_id"), measurement(a).as("measurement"),
      map(lit("source"), lit("HA"), lit("domain"), entityDomain(col("entity_id")),
        lit("entity_id"), eShort, lit("friendly_name"), friendlyName(a, eShort)).as("tags"),
      map_concat(when(stateNum.isNotNull, map(lit("value"), stateNum))
        .otherwise(map().cast(MapType(StringType, DoubleType))), numericFields(a)).as("fields_num"),
      map_concat(when(stateNum.isNull, map(lit("state"), col("state")))
        .otherwise(map().cast(MapType(StringType, StringType))), stringFields(a)).as("fields_str"),
      col("last_updated_ms").as("time_ms"))
  }

  private def modelFlat(states: DataFrame, meta: DataFrame, attrs: DataFrame): DataFrame = {
    val a = withoutBlocked(parseAttrs(col("shared_attrs")))
    val eShort = entityShort(col("entity_id"))
    filterJunk(joined(states, meta, attrs)).select(col("event_id"),
      measurement(a).as("measurement"), entityDomain(col("entity_id")).as("domain"),
      eShort.as("entity_id_short"), friendlyName(a, eShort).as("friendly_name"),
      when(isNumericLike(col("state")), col("state").try_cast("double")).as("value_num"),
      when(!isNumericLike(col("state")), col("state")).as("state_str"),
      element_at(a, "temperature").try_cast("double").as("temperature"),
      when(isNumericLike(element_at(a, "battery")),
        element_at(a, "battery").try_cast("double")).as("battery"),
      col("last_updated_ms").as("time_ms"))
  }

  private val attrKey: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf(Seq("friendly_name", "unit_of_measurement", "value", "state",
      "battery") ++ blockedKeys ++ forceFloatKeys),
    2 -> Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(5).mkString))
  private val attrValue: Gen[String] = Gen.oneOf(
    Gen.oneOf("", " ", "abc", "warm", ".5", "5.", "1e3", "-2", "007", "°C"),
    Gen.chooseNum(0.0, 99.0).map(d => f"$d%.1f"))
  /** NULL, malformed and object blobs; objects drawn over the keys every
    * branch of the parse reads. */
  private val blob: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.oneOf("not json", "{", "[1,2]", "\"str\"", "").map(Some(_)),
    6 -> Gen.mapOf(Gen.zip(attrKey, attrValue)).map(m => Some(toJson(m.take(7)))))
  private val stateRow: Gen[(Option[Int], Int, String, Long)] = for {
    // attributes_id 9..10 has no state_attributes row; metadata_id 4 no meta
    aid <- Gen.option(Gen.choose(1, 10))
    mid <- Gen.choose(1, 4)
    st <- Gen.oneOf(Gen.oneOf("on", "unknown", "None", "abc", ""), attrValue)
    ms <- Gen.choose(1700000000000L, 1700000100000L)
  } yield (aid, mid, st, ms)

  test("per-blob attribute projection ≡ the per-row chain (corePipeline and " +
    "flatPipeline; NULL/malformed blobs, join misses, blocked and force-float " +
    "keys, value/state collisions, empty unit, no friendly_name)") {
    import spark.implicits._
    val meta = Seq((1, "sensor.temp_kitchen"), (2, "sensor.esp.voc"), (3, "light.lamp"))
      .toDF("metadata_id", "entity_id")
    def rows(df: DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    val prop = Prop.forAllNoShrink(Gen.listOfN(8, blob), Gen.listOfN(40, stateRow),
      Gen.option(Gen.choose(1700000000000L, 1700000100000L))) {
      (blobs: List[Option[String]], sts: List[(Option[Int], Int, String, Long)], wm: Option[Long]) =>
        val attrs = blobs.zipWithIndex.map { case (b, j) => (j + 1, b.orNull) }
          .toDF("attributes_id", "shared_attrs")
        val states = sts.zipWithIndex.map { case ((a, m, s, t), i) => (i.toLong, m, a, s, t) }
          .toDF("event_id", "metadata_id", "attributes_id", "state", "last_updated_ms")
        val core = Transform.corePipeline(states, meta, attrs, wm)
        val coreModel = modelCore(states, meta, attrs, wm)
        val flat = Transform.flatPipeline(states, meta, attrs)
        val flatModel = modelFlat(states, meta, attrs)
        val (gotCore, wantCore) = (rows(core), rows(coreModel))
        val (gotFlat, wantFlat) = (rows(flat), rows(flatModel))
        Prop.all(
          (core.schema == coreModel.schema) :| s"core schema ${core.schema} vs ${coreModel.schema}",
          (gotCore == wantCore) :| s"core got=$gotCore want=$wantCore",
          (flat.schema == flatModel.schema) :| s"flat schema ${flat.schema} vs ${flatModel.schema}",
          (gotFlat == wantFlat) :| s"flat got=$gotFlat want=$wantFlat")
    }
    PropCheck.check(prop, minSuccessful = 15, tag = "JsonFlattenPropSpec#perBlob")
  }
}
