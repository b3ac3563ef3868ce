package graft

import graft.etl.{InfluxSink, LineEncoder}
import graft.model.{InfluxPoint, Schemas}
import graft.sources.PointOrdinals
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.nio.charset.StandardCharsets.UTF_8

/** The row encoder against its reference model: for random points, the
  * batch [[LineEncoder]] builds from their Catalyst rows must equal
  * [[InfluxSink.toLine]] of each point joined by '\n', byte for byte, and
  * its lines must be exactly those lines. Strings draw from every escape
  * class (`,` `=` space `"` `\`), a raw newline, 2- and 3-byte characters,
  * U+E000–U+FFFF and supplementary characters — keys from a small alphabet,
  * so keys that first differ at a U+E000–U+FFFF vs a supplementary
  * character come up often; maps run from empty to 40 entries. */
class LineEncoderPropSpec extends AnyFunSuite with Matchers {
  private val enc = ExpressionEncoder[InfluxPoint]()
  private val ords = PointOrdinals.resolve(enc.schema)

  private def text(e: LineEncoder): String =
    new String(e.buffer, 0, e.byteLength, UTF_8)

  private def rows(points: Seq[InfluxPoint]): Seq[InternalRow] = {
    val ser = enc.createSerializer()
    points.map(p => ser(p).copy())
  }

  private val pieces = Seq("a", "b", "z", ",", "=", " ", "\"", "\\", "\n", "é",
    "€", "\uE000", "\uFFFF", "\uFF21", "\uD83D\uDE00", "\uD800\uDC00")
  private val strGen: Gen[String] =
    Gen.chooseNum(0, 5).flatMap(Gen.listOfN(_, Gen.oneOf(pieces))).map(_.mkString)
  private val keyGen: Gen[String] =
    Gen.chooseNum(1, 3).flatMap(Gen.listOfN(_, Gen.oneOf(pieces))).map(_.mkString)
  private val sizeGen: Gen[Int] =
    Gen.frequency(3 -> Gen.const(0), 12 -> Gen.chooseNum(1, 6), 1 -> Gen.chooseNum(33, 40))
  private def mapGen[V](v: Gen[V]): Gen[Map[String, V]] =
    sizeGen.flatMap(Gen.mapOfN(_, Gen.zip(keyGen, v)))
  private val doubleGen: Gen[Double] = Gen.frequency(
    1 -> Gen.oneOf(-0.0, 0.0, 1e-7, 1.0e10, Double.MinPositiveValue,
      Double.MaxValue, -21.5, 1e7, 9999999.0),
    2 -> Gen.chooseNum(-1e12, 1e12),
    1 -> Gen.chooseNum(-100000, 100000).map(_.toDouble))
  private val pointGen: Gen[InfluxPoint] = for {
    m <- Gen.frequency(3 -> Gen.oneOf("°C", "W", "default_measurement"), 2 -> strGen)
    tags <- mapGen(strGen)
    num <- mapGen(doubleGen)
    str <- mapGen(strGen)
    t <- Gen.chooseNum(-5000000000000L, 5000000000000L)
  } yield InfluxPoint(m, tags, num, str, t)

  test("encoder ≡ toLine: bytes and lines of random point batches (property)") {
    val prop = Prop.forAllNoShrink(Gen.chooseNum(1, 8).flatMap(Gen.listOfN(_, pointGen))) {
      points =>
        val e = new LineEncoder(ords)
        rows(points).foreach(e.append)
        val want = points.map(InfluxSink.toLine)
        val got = text(e)
        Prop.propBoolean(got == want.mkString("\n") && e.lineStrings == want &&
          e.lines == points.size) :| s"got=$got want=${want.mkString("\n")}"
    }
    PropCheck.check(prop, minSuccessful = 400, tag = "LineEncoderPropSpec#1")
  }

  test("encoder: a cleared encoder starts a fresh batch; doubles and " +
    "timestamps render as toLine renders them") {
    val e = new LineEncoder(ords)
    val p = InfluxPoint("m", Map.empty, Map("a" -> -0.0, "b" -> 1e-7, "c" -> 1.0e10,
      "d" -> Double.MinPositiveValue), Map.empty, -1L)
    e.append(rows(Seq(p.copy(measurement = "old"))).head)
    e.clear()
    e.append(rows(Seq(p)).head)
    text(e) shouldBe
      "m a=-0.0,b=1.0E-7,c=1.0E10,d=4.9E-324 -1000000"
    InfluxSink.toLine(p) shouldBe text(e)
  }

  test("encoder: a key repeated within one map keeps its last value, as the " +
    "point's Map does; a NULL value fails with its column named") {
    def strMap(kv: (String, String)*) = ArrayBasedMapData(
      kv.map(k => UTF8String.fromString(k._1): Any).toArray,
      kv.map(v => UTF8String.fromString(v._2): Any).toArray)
    val empty = ArrayBasedMapData(Array.empty[Any], Array.empty[Any])
    def row(tags: ArrayBasedMapData) = new GenericInternalRow(Array[Any](
      UTF8String.fromString("m"), tags, empty, strMap("s" -> "x"), 1L))
    val schemaOrds = PointOrdinals.resolve(Schemas.influxPoint)
    val e = new LineEncoder(schemaOrds)
    e.append(row(strMap("b" -> "1", "a" -> "2", "b" -> "3")))
    text(e) shouldBe InfluxSink.toLine(
      InfluxPoint("m", Map("b" -> "1", "a" -> "2", "b" -> "3"), Map.empty, Map("s" -> "x"), 1L))
    val nullTag = new ArrayBasedMapData(
      new GenericArrayData(Array[Any](UTF8String.fromString("k"))),
      new GenericArrayData(Array[Any](null)))
    val err = intercept[IllegalArgumentException](new LineEncoder(schemaOrds).append(row(nullTag)))
    err.getMessage should include("tags")
  }
}
