package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.time.Instant
import java.util.concurrent.{ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.util.hashing.MurmurHash3

/** Order-insensitive fingerprint of a multiset of line-protocol lines: the
  * count and the wrapping sum of a 64-bit hash per line. */
object Lines {
  def hash(line: String): Long =
    (MurmurHash3.stringHash(line, 0x5bd1e995).toLong << 32) ^
      (MurmurHash3.stringHash(line, 0x1b873593).toLong & 0xffffffffL)
}

/** Annotated-CSV sample rows rendered once at set-up, per measurement, in
  * time order, so a Flux `range` slice is one contiguous byte range. */
final class SampleIndex(val header: Array[Byte],
                        val byMeasurement: Map[String, SampleIndex.Series]) {
  def slice(measurement: String, startMs: Long, stopMs: Long): (Int, Int, Array[Byte]) =
    byMeasurement.get(measurement) match {
      case None => (0, 0, Array.emptyByteArray)
      case Some(s) =>
        val lo = SampleIndex.lowerBound(s.timesMs, startMs)
        val hi = SampleIndex.lowerBound(s.timesMs, stopMs).max(lo)
        (s.offsets(lo), s.offsets(hi), s.body)
    }
}

object SampleIndex {
  /** `offsets(i)` is where row i starts in `body`; one extra end offset. */
  final case class Series(timesMs: Array[Long], offsets: Array[Int], body: Array[Byte])

  def lowerBound(a: Array[Long], x: Long): Int = {
    var lo = 0
    var hi = a.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (a(mid) < x) lo = mid + 1 else hi = mid
    }
    lo
  }
}

/** In-process loopback InfluxDB v2 stand-in with at most `threads` handler
  * threads.
  *
  *  - `/api/v2/query` answers the two watermark queries with a fixed
  *    `_time`, and a sample read with the pre-rendered rows of the
  *    requested measurement inside the Flux `range`.
  *  - `/api/v2/write` counts requests, lines and bytes and folds every line
  *    into an order-insensitive hash. `dropFirstLine` loses one line on
  *    purpose, so the self-test can show the output check catches it.
  *
  * The handlers time themselves (`busyNs`). */
final class InfluxStub(threads: Int,
                       statesWatermarkMs: Option[Long],
                       statisticsWatermarkMs: Option[Long],
                       samples: Option[SampleIndex],
                       dropFirstLine: Boolean = false) {
  val writeRequests, queryRequests, lines, bytesIn, bytesOut, busyNs,
    lineHashSum = new AtomicLong()
  private val dropped = new java.util.concurrent.atomic.AtomicBoolean(!dropFirstLine)

  private val pool: ExecutorService = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  server.createContext("/api/v2/write", (ex: HttpExchange) => timed(ex)(write))
  server.createContext("/api/v2/query", (ex: HttpExchange) => timed(ex)(query))
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  private def timed(ex: HttpExchange)(h: HttpExchange => Unit): Unit = {
    val t0 = System.nanoTime()
    try h(ex)
    catch {
      case e: Throwable =>
        val b = e.toString.getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(500, b.length)
        ex.getResponseBody.write(b)
    } finally {
      ex.close()
      busyNs.addAndGet(System.nanoTime() - t0)
    }
  }

  private def write(ex: HttpExchange): Unit = {
    val body = ex.getRequestBody.readAllBytes()
    writeRequests.incrementAndGet()
    bytesIn.addAndGet(body.length)
    var n = 0L
    var h = 0L
    new String(body, StandardCharsets.UTF_8).split('\n').foreach { l =>
      if (l.nonEmpty && (dropped.get() || !dropped.compareAndSet(false, true))) {
        n += 1
        h += Lines.hash(l)
      }
    }
    lines.addAndGet(n)
    lineHashSum.addAndGet(h)
    ex.sendResponseHeaders(204, -1)
  }

  private val rangeRe = """range\(start: ([^,)]+)(?:, stop: ([^)]+))?\)""".r
  private val measurementRe = """r\["_measurement"\] == "([^"]*)"""".r

  private def watermarkCsv(ms: Option[Long]): Array[Byte] = {
    val rows = ms.map(t => s",_result,0,${Instant.ofEpochMilli(t)},1.0\n").getOrElse("")
    (",result,table,_time,_value\n" + rows).getBytes(StandardCharsets.UTF_8)
  }

  private def query(ex: HttpExchange): Unit = {
    val flux = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    queryRequests.incrementAndGet()
    val parts: Seq[(Array[Byte], Int, Int)] =
      if (flux.contains("""r["ha_type"] == "statistics"""))
        Seq((watermarkCsv(statisticsWatermarkMs), 0, -1))
      else if (flux.contains("""not exists r["ha_type"]"""))
        Seq((watermarkCsv(statesWatermarkMs), 0, -1))
      else samples match {
        case Some(idx) =>
          val (start, stop) = rangeRe.findFirstMatchIn(flux) match {
            case Some(m) => (Instant.parse(m.group(1).trim).toEpochMilli,
              Option(m.group(2)).map(s => Instant.parse(s.trim).toEpochMilli)
                .getOrElse(Long.MaxValue))
            case None => throw new IllegalArgumentException(s"no range in $flux")
          }
          val m = measurementRe.findFirstMatchIn(flux).map(_.group(1))
            .getOrElse(throw new IllegalArgumentException(s"no measurement in $flux"))
          val (from, until, body) = idx.slice(m, start, stop)
          Seq((idx.header, 0, -1), (body, from, until))
        case None => throw new IllegalArgumentException(s"unexpected query $flux")
      }
    val len = parts.map { case (b, from, until) =>
      (if (until < 0) b.length else until) - from }.sum
    ex.getResponseHeaders.set("Content-Type", "text/csv; charset=utf-8")
    ex.sendResponseHeaders(200, if (len == 0) -1 else len)
    val out = ex.getResponseBody
    parts.foreach { case (b, from, until) =>
      out.write(b, from, (if (until < 0) b.length else until) - from) }
    bytesOut.addAndGet(len)
  }

  def snapshot: InfluxStub.Snap = InfluxStub.Snap(writeRequests.get,
    queryRequests.get, lines.get, bytesIn.get, bytesOut.get, busyNs.get,
    lineHashSum.get)

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object InfluxStub {
  final case class Snap(writeRequests: Long, queryRequests: Long, lines: Long,
                        bytesIn: Long, bytesOut: Long, busyNs: Long,
                        lineHashSum: Long) {
    def since(b: Snap): Snap = Snap(writeRequests - b.writeRequests,
      queryRequests - b.queryRequests, lines - b.lines, bytesIn - b.bytesIn,
      bytesOut - b.bytesOut, busyNs - b.busyNs, lineHashSum - b.lineHashSum)
  }
}
