package graft.sources

/** The one reader of InfluxDB annotated-CSV responses — the role of the
  * annotated-CSV parser behind influxdb-client's `query_api.query()`
  * (sqllite2influxdb.py:64). Every Flux read, pushed aggregate, fused
  * split, watermark and marker-cleanup fetch walks its reply through
  * [[FluxCsv.apply]].
  *
  * A response is a run of tables: optional `#` annotation rows, one header
  * row, then data rows; a blank line or a new annotation block ends a
  * table. Each header is resolved once into a [[FluxCsv.Table]] (column
  * ordinals, the table's `#datatype` row, its tag columns). Cells follow
  * RFC 4180: a quoted cell may hold commas, and `""` is a literal quote.
  * Only the line terminator (`\n` or `\r\n`) is stripped — Influx's writer
  * quotes a cell that starts with a space but not one that ends with one,
  * so trimming a line would drop a last cell's trailing space.
  *
  * A table whose header is `,error,reference` is how Influx reports an
  * error that happens after streaming has begun, inside an HTTP 200.
  * Reading one throws, with the server's error and reference text: rows
  * before it are not the whole answer.
  */
private[graft] object FluxCsv {

  /** One table's header, resolved once. */
  final class Table private[FluxCsv] (val header: Array[String],
                                      datatypes: Array[String]) {
    private val ordinals: Map[String, Int] =
      header.indices.map(i => header(i) -> i).toMap

    /** The column's position in every row of this table, or -1. */
    def ordinal(name: String): Int = ordinals.getOrElse(name, -1)

    /** Column `i`'s `#datatype` annotation; None when the table had no
      * `#datatype` row or the row is too short. */
    def datatype(i: Int): Option[String] =
      Option(datatypes).flatMap(_.lift(i))

    val time: Int = ordinal("_time")
    val value: Int = ordinal("_value")
    val field: Int = ordinal("_field")
    val measurement: Int = ordinal("_measurement")

    /** The tag rule: every column outside [[InfluxScan.reserved]]. */
    private[FluxCsv] val tagCols: Array[Int] =
      header.indices.filterNot(i => InfluxScan.reserved(header(i))).toArray
  }

  /** One data row. The row an iterator of [[apply]] yields is a view that
    * its next step overwrites: read what you need, or [[copy]] it. */
  sealed abstract class Row {
    def table: Table

    /** Cell `i`, or null when `i` is -1 or the row ends before it. */
    def cell(i: Int): String

    def cell(name: String): String = cell(table.ordinal(name))

    /** The row's tags: its tag columns with a non-empty cell. */
    def tags: Map[String, String] = {
      val b = Map.newBuilder[String, String]
      table.tagCols.foreach { i =>
        val v = cell(i)
        if (v != null && v.nonEmpty) b += table.header(i) -> v
      }
      b.result()
    }

    def copy(): Row
  }

  private final class Copied(val table: Table, cells: Array[String])
      extends Row {
    def cell(i: Int): String =
      if (i >= 0 && i < cells.length) cells(i) else null
    def copy(): Row = this
    override def toString: String = cells.mkString(",")
  }

  /** A response as re-readable rows: each `iterator` walks `text` afresh,
    * one row at a time, holding one row's cells. */
  def apply(text: String): Iterable[Row] =
    new scala.collection.AbstractIterable[Row] {
      def iterator: Iterator[Row] = new Cursor(text)
    }

  private val ErrorHeader = Seq("error", "reference")

  private final class Cursor(text: String) extends Row with Iterator[Row] {
    private val n = text.length
    private var pos = 0
    private var cells = new Array[String](16)
    private var width = 0
    private val sb = new java.lang.StringBuilder
    private var cur: Table = _ // null: the next non-annotation row is a header
    private var datatypes: Array[String] = _
    private var ready = false

    def table: Table = cur
    def cell(i: Int): String = if (i >= 0 && i < width) cells(i) else null
    def copy(): Row = new Copied(cur, java.util.Arrays.copyOf(cells, width))
    override def toString: String = cells.iterator.take(width).mkString(",")

    def hasNext: Boolean = ready || { ready = advance(); ready }
    def next(): Row = {
      if (!hasNext) throw new NoSuchElementException("end of Flux response")
      ready = false
      this
    }

    private def blankAt(i: Int): Boolean =
      text.charAt(i) == '\n' ||
        text.charAt(i) == '\r' && i + 1 < n && text.charAt(i + 1) == '\n'

    /** Read up to the next data row, taking in annotations and headers. */
    private def advance(): Boolean = {
      while (pos < n) {
        if (blankAt(pos)) {
          pos += (if (text.charAt(pos) == '\r') 2 else 1)
          cur = null; datatypes = null
        } else {
          splitCells()
          if (annotation) {
            cur = null
            if (cells(0) == "#datatype") datatypes = java.util.Arrays.copyOf(cells, width)
          } else if (cur == null) {
            cur = new Table(java.util.Arrays.copyOf(cells, width), datatypes)
            datatypes = null
            if (cur.header.filter(_.nonEmpty).toSeq == ErrorHeader) failWithError()
          } else return true
        }
      }
      false
    }

    private def annotation: Boolean = cells(0).startsWith("#")

    private def failWithError(): Nothing = {
      val hasRow = pos < n && !blankAt(pos) && { splitCells(); !annotation }
      if (!hasRow) width = 0
      def said(col: String) = Option(cell(col)).getOrElse("").take(500)
      throw new RuntimeException("influx query failed: the response " +
        s"carries an error table: ${said("error")} (reference: " +
        s"${said("reference")})")
    }

    /** Split the row at `pos` into `cells` and step past its terminator.
      * A quote opens a quoted run (a `""` inside it is a literal quote);
      * a newline inside one belongs to the cell. */
    private def splitCells(): Unit = {
      width = 0
      var cellStart = pos
      var quoted = false // the cell so far is built in `sb`
      var inQuotes = false
      var i = pos
      while (i < n && (inQuotes || !blankAt(i))) {
        val c = text.charAt(i)
        if (inQuotes) {
          if (c != '"') sb.append(c)
          else if (i + 1 < n && text.charAt(i + 1) == '"') { sb.append('"'); i += 1 }
          else inQuotes = false
        } else if (c == ',') {
          addCell(cellStart, i, quoted)
          cellStart = i + 1
          quoted = false
        } else if (c == '"') {
          if (!quoted) { sb.setLength(0); sb.append(text, cellStart, i); quoted = true }
          inQuotes = true
        } else if (quoted) sb.append(c)
        i += 1
      }
      addCell(cellStart, i, quoted)
      pos = if (i >= n) n else if (text.charAt(i) == '\r') i + 2 else i + 1
    }

    private def addCell(from: Int, until: Int, quoted: Boolean): Unit = {
      if (width == cells.length) cells = java.util.Arrays.copyOf(cells, width * 2)
      cells(width) = if (quoted) sb.toString else text.substring(from, until)
      width += 1
    }
  }
}
