package graft.etl

import graft.sources.PointOrdinals
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets

/** One batch of line protocol, encoded straight from point rows (the
  * `Schemas.influxPoint` columns at `ords`) as UTF-8 bytes into a buffer
  * reused across batches: no `InfluxPoint`, no `String` per line.
  * [[InfluxSink.toLine]] is the reference model; every line is
  * byte-identical to it:
  *  - tags, then numeric fields, then string fields, each sorted by key in
  *    `String` (UTF-16 code unit) order, which differs from UTF-8 byte
  *    order between U+E000–U+FFFF and the supplementary planes; a key
  *    repeated within one map keeps its last value, as `toMap` does;
  *  - the same three escape classes, applied byte by byte (UTF-8 never
  *    puts an ASCII byte inside a multi-byte character);
  *  - doubles as `java.lang.Double.toString`, timestamp `time_ms * 1000000`.
  * Lines are joined by '\n'; the encoder records where each one ends, so
  * [[lineStrings]] cuts them there — a string field may itself hold a raw
  * newline. */
final class LineEncoder(ords: PointOrdinals) {
  import LineEncoder.{FieldStr, Measurement, Tag, compareUtf16}

  private var buf = new Array[Byte](1 << 16)
  private var len = 0
  private var ends = new Array[Int](1024)
  private var n = 0
  // per-map working arrays: its keys, and its entry indices sorted by key
  private var keys = new Array[UTF8String](16)
  private var order = new Array[Int](16)

  /** Lines in the batch. */
  def lines: Int = n

  /** The batch as one request body, its lines joined by '\n': the first
    * [[byteLength]] bytes of [[buffer]], which the next append or clear
    * overwrites. */
  private[graft] def buffer: Array[Byte] = buf
  def byteLength: Int = len

  /** The batch's lines, decoded, each cut at its recorded end. */
  def lineStrings: IndexedSeq[String] = (0 until n).map { i =>
    val start = if (i == 0) 0 else ends(i - 1) + 1
    new String(buf, start, ends(i) - start, StandardCharsets.UTF_8)
  }

  def clear(): Unit = { len = 0; n = 0 }

  /** Append one point row as one line. */
  def append(row: InternalRow): Unit = {
    if (n > 0) put('\n')
    if (row.isNullAt(ords.measurement)) nullIn("measurement")
    putEscaped(row.getUTF8String(ords.measurement), Measurement)
    putEntries(row.getMap(ords.tags), commaFirst = true, tagValue)
    put(' ')
    val nNum = putEntries(row.getMap(ords.fieldsNum), commaFirst = false, numValue)
    putEntries(row.getMap(ords.fieldsStr), commaFirst = nNum > 0, strValue)
    put(' ')
    putAscii(java.lang.Long.toString(row.getLong(ords.timeMs) * 1000000L))
    if (n == ends.length) ends = java.util.Arrays.copyOf(ends, n * 2)
    ends(n) = len
    n += 1
  }

  private val tagValue = (v: ArrayData, j: Int) =>
    putEscaped(if (v.isNullAt(j)) nullIn("tags") else v.getUTF8String(j), Tag)
  private val numValue = (v: ArrayData, j: Int) =>
    putAscii(java.lang.Double.toString(
      if (v.isNullAt(j)) nullIn("fields_num") else v.getDouble(j)))
  private val strValue = (v: ArrayData, j: Int) => {
    put('"')
    putEscaped(if (v.isNullAt(j)) nullIn("fields_str") else v.getUTF8String(j), FieldStr)
    put('"')
  }

  private def nullIn(column: String): Nothing =
    throw new IllegalArgumentException(
      s"influx write: a NULL in $column cannot be written as line protocol")

  /** `m`'s entries as `key=value` in key order, comma-separated (and after
    * a comma if `commaFirst`); returns how many. */
  private def putEntries(m: MapData, commaFirst: Boolean,
                         putValue: (ArrayData, Int) => Unit): Int = {
    val k = sortKeys(m)
    var i = 0
    while (i < k) {
      if (i > 0 || commaFirst) put(',')
      putEscaped(keys(order(i)), Tag)
      put('=')
      putValue(m.valueArray(), order(i))
      i += 1
    }
    k
  }

  /** Fill `keys` with `m`'s keys and `order` with its entry indices sorted
    * by key, a repeated key keeping only its last entry; returns how many
    * entries are kept. */
  private def sortKeys(m: MapData): Int = {
    val count = m.numElements()
    if (order.length < count) {
      order = new Array[Int](count.max(order.length * 2))
      keys = new Array[UTF8String](order.length)
    }
    val ka = m.keyArray()
    var i = 0
    while (i < count) { order(i) = i; keys(i) = ka.getUTF8String(i); i += 1 }
    // stable insertion sort (points carry a handful of keys): equal keys
    // keep their entry order
    i = 1
    while (i < count) {
      val x = order(i)
      var j = i - 1
      while (j >= 0 && compareUtf16(keys(order(j)), keys(x)) > 0) {
        order(j + 1) = order(j); j -= 1
      }
      order(j + 1) = x
      i += 1
    }
    var kept = 0
    i = 0
    while (i < count) {
      if (i + 1 == count || keys(order(i)) != keys(order(i + 1))) {
        order(kept) = order(i); kept += 1
      }
      i += 1
    }
    kept
  }

  private def ensure(extra: Int): Unit =
    if (len + extra > buf.length)
      buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + extra))

  private def put(c: Char): Unit = { ensure(1); buf(len) = c.toByte; len += 1 }

  private def putAscii(s: String): Unit = {
    ensure(s.length)
    var i = 0
    while (i < s.length) { buf(len) = s.charAt(i).toByte; len += 1; i += 1 }
  }

  /** `s`'s bytes, with a backslash before every byte `escapes` marks. */
  private def putEscaped(s: UTF8String, escapes: Array[Boolean]): Unit = {
    val base = s.getBaseObject
    val offset = s.getBaseOffset
    val size = s.numBytes
    ensure(2 * size)
    var i = 0
    while (i < size) {
      val b = Platform.getByte(base, offset + i)
      if (b >= 0 && escapes(b)) { buf(len) = '\\'; len += 1 }
      buf(len) = b; len += 1
      i += 1
    }
  }
}

object LineEncoder {
  private def escapeSet(chars: String): Array[Boolean] = {
    val a = new Array[Boolean](128)
    chars.foreach(c => a(c) = true)
    a
  }
  private val Measurement = escapeSet(", ")
  private val Tag = escapeSet(", =")
  private val FieldStr = escapeSet("\"\\")

  /** `a` vs `b` in `String.compareTo` order, over their UTF-8 bytes. Byte
    * order is code point order; UTF-16 order differs only where, at the
    * first character the two differ in, one has a supplementary character
    * (lead byte 0xF0+, a surrogate pair in UTF-16) and the other one of
    * U+E000–U+FFFF (lead byte 0xEE or 0xEF): the supplementary one sorts
    * first. */
  def compareUtf16(a: UTF8String, b: UTF8String): Int = {
    def at(s: UTF8String, i: Int) =
      Platform.getByte(s.getBaseObject, s.getBaseOffset + i) & 0xFF
    val shared = math.min(a.numBytes, b.numBytes)
    var i = 0
    while (i < shared && at(a, i) == at(b, i)) i += 1
    if (i == shared) a.numBytes - b.numBytes
    else {
      var lead = i // the lead byte of the character holding byte i
      while (lead > 0 && (at(a, lead) & 0xC0) == 0x80) lead -= 1
      val x = at(a, lead)
      val y = at(b, lead)
      if (x >= 0xF0 && (y == 0xEE || y == 0xEF)) -1
      else if (y >= 0xF0 && (x == 0xEE || x == 0xEF)) 1
      else at(a, i) - at(b, i)
    }
  }
}
