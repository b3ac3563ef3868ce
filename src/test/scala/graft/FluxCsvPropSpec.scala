package graft

import graft.sources.{FluxCsv, InfluxScan}
import graft.sources.InfluxScan.Sample
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** Round trip through the one annotated-CSV cursor: random samples are
  * rendered the way Influx's writer (Go `encoding/csv`) renders them —
  * a cell is quoted when it holds a comma, a quote or a line break, or
  * starts with a space; a trailing space stays unquoted — into several
  * tables, each with its own column order, with LF and CRLF line ends.
  * `parseSamples` must return exactly the samples (rows, values and
  * tags), and the fused split must give each branch exactly the rows
  * stamped with its marker. */
class FluxCsvPropSpec extends AnyFunSuite {
  import FluxCsvPropSpec.{Row, Table}

  private val t0 = 1704067200000L
  private val tagKeys = Seq("domain", "entity_id", "room")
  private val nBranches = 3

  // a text cell that stresses the quoting rules: commas, quotes, leading
  // and trailing spaces; never a number, so a string _value stays NULL
  private val textGen: Gen[String] = for {
    lead <- Gen.oneOf("", " ", "  ")
    body <- Gen.listOfN(3, Gen.oneOf("k", "Kitchen", ",", "\"", "\"\"", "°C", " ", "a,b"))
    trail <- Gen.oneOf("", " ", "  ")
  } yield lead + "s" + body.mkString + trail

  private def rowGen(tagCols: Seq[String]): Gen[Row] = for {
    m <- Gen.oneOf(Gen.oneOf("ha_states", "°C", "W"), textGen)
    f <- Gen.oneOf("value", "state", "mean")
    v <- Gen.option(Gen.chooseNum(-4000, 4000).map(_ / 8.0))
    str <- textGen
    off <- Gen.chooseNum(0L, 86400000L * 3)
    tags <- Gen.listOfN(tagCols.size, Gen.oneOf(Gen.const(""), textGen))
    b <- Gen.chooseNum(0, nBranches - 1)
  } yield Row(v.fold(str)(_.toString),
    Sample(m, f, v, t0 + off, tagCols.zip(tags).filter(_._2.nonEmpty).toMap), b)

  private val tablesGen: Gen[Seq[Table]] = Gen.chooseNum(1, 4).flatMap(
    Gen.listOfN(_, for {
      extra <- Gen.someOf("result", "table", "_start", "_stop")
      tagCols <- Gen.someOf(tagKeys)
      cols = Seq("_time", "_value", "_field", "_measurement",
        InfluxScan.FusedMarkerCol) ++ extra ++ tagCols
      order <- Gen.listOfN(cols.size, Gen.chooseNum(0, 1000))
      annotated <- Gen.oneOf(true, false)
      blank <- Gen.oneOf(true, false)
      n <- Gen.chooseNum(0, 6)
      rows <- Gen.listOfN(n, rowGen(tagCols.toSeq))
    } yield Table(cols.zip(order).sortBy(_._2).map(_._1), annotated,
      blank || !annotated, rows)))

  private def quote(cell: String): String =
    if (cell.exists(c => c == ',' || c == '"' || c == '\r' || c == '\n') ||
        cell.headOption.exists(_.isWhitespace))
      "\"" + cell.replace("\"", "\"\"") + "\""
    else cell

  private def render(tables: Seq[Table], crlf: Seq[Boolean]): String = {
    val ends = Iterator.continually(crlf).flatten
    def end = if (ends.next()) "\r\n" else "\n"
    val sb = new StringBuilder
    def line(cells: Seq[String]): Unit =
      sb.append(cells.map(quote).mkString(",")).append(end)
    tables.zipWithIndex.foreach { case (t, ti) =>
      if (ti > 0 && t.blankBefore) sb.append(end)
      if (t.annotated) {
        line("#datatype" +: t.cols.map(c => if (c == "_time") "dateTime:RFC3339" else "string"))
        line("#group" +: t.cols.map(_ => "false"))
        line("#default" +: t.cols.map(c => if (c == "result") "_result" else ""))
      }
      line("" +: t.cols)
      t.rows.foreach { r =>
        line("" +: t.cols.map {
          case "_time" => java.time.Instant.ofEpochMilli(r.s.timeMs).toString
          case "_value" => r.rawValue
          case "_field" => r.s.field
          case "_measurement" => r.s.measurement
          case InfluxScan.FusedMarkerCol => r.branch.toString
          case "result" => "_result"
          case "table" => ti.toString
          case "_start" | "_stop" => "2024-01-01T00:00:00Z"
          case tag => r.s.tags.getOrElse(tag, "")
        })
      }
    }
    sb.result()
  }

  test("parseSamples returns exactly the rendered samples, and the fused " +
    "split gives each branch exactly its rows (pinned seed)") {
    val prop = Prop.forAllNoShrink(tablesGen,
        Gen.nonEmptyListOf(Gen.oneOf(true, false))) { (tables, crlf) =>
      val csv = render(tables, crlf)
      val rows = tables.flatMap(_.rows)
      val got = InfluxScan.parseSamples(FluxCsv(csv)).toSeq
      val want = rows.map(_.s)
      val split = InfluxScan.classifyFused(csv, nBranches, _ => true) match {
        case InfluxScan.Marked(branches) => (0 until nBranches).map(i =>
          InfluxScan.parseSamples(branches.getOrElse(i, Nil)).toSeq)
        case other => Seq(Seq(other))
      }
      val wantSplit = (0 until nBranches).map(i =>
        rows.filter(_.branch == i).map(_.s))
      Prop.propBoolean(got == want && split == wantSplit) :|
        s"csv=${csv.replace("\r", "\\r")}\n got=$got\n want=$want\n" +
          s" split=$split\n wantSplit=$wantSplit"
    }
    PropCheck.check(prop, 300, "flux-csv-round-trip")
  }
}

object FluxCsvPropSpec {
  /** One rendered row: its `_value` cell, the sample it must parse back
    * to (a string `_value` reads as NULL), and its fused branch. */
  final case class Row(rawValue: String, s: Sample, branch: Int)

  /** One table: its columns in order (the leading annotation column
    * aside), whether it has an annotation block, and whether a blank
    * line precedes it (always, unless an annotation block starts it). */
  final case class Table(cols: Seq[String], annotated: Boolean,
                         blankBefore: Boolean, rows: Seq[Row])
}
