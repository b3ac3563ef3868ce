package graft

import graft.etl.{InfluxHttp, InfluxSink}

import java.nio.charset.StandardCharsets

/** The test side of the one transport seam, [[InfluxHttp.testExchange]]:
  * `reads` answers every `/api/v2/query` POST from its request body (the
  * Flux program), `writes` receives every `/api/v2/write` body split into
  * its lines (one `writeBatch` per POST). Either installs the seam; both
  * unset removes it. A POST to any other path fails the exchange. */
object FakeInflux {
  @volatile private var readFn: Option[String => String] = None
  @volatile private var writer: Option[InfluxSink.LineWriter] = None

  def reads: Option[String => String] = readFn
  def reads_=(f: Option[String => String]): Unit = { readFn = f; install() }
  def writes: Option[InfluxSink.LineWriter] = writer
  def writes_=(w: Option[InfluxSink.LineWriter]): Unit = { writer = w; install() }

  private def install(): Unit = InfluxHttp.testExchange =
    if (readFn.isEmpty && writer.isEmpty) None else Some(exchange)

  private def exchange(path: String, body: Array[Byte]): (Int, String) = {
    val text = new String(body, StandardCharsets.UTF_8)
    (path, readFn, writer) match {
      case ("/api/v2/query", Some(f), _) => (200, f(text))
      case ("/api/v2/write", _, Some(w)) => w.writeBatch(text.split('\n').toSeq); (204, "")
      case _ => throw new IllegalStateException(s"FakeInflux: no fake for POST $path")
    }
  }
}
