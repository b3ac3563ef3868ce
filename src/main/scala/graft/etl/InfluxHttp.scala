package graft.etl

import java.io.IOException
import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets
import scala.annotation.tailrec

/** The one InfluxDB HTTP client: every write, Flux read, annotated read and
  * delete is one [[post]] (the reference likewise talks to InfluxDB through
  * one client object, sqllite2influxdb.py:64/151). It owns the connection —
  * `Authorization: Token`, connect/read timeouts, a fixed-length body — and
  * drains every response, error or not, so keep-alive connections are
  * reused. One retry policy for all four: bounded exponential backoff
  * (200/400/800 ms…, `maxRetries` retries) on 429, 5xx and IO errors,
  * stretched to a 429/503's delta-seconds `Retry-After` (never past
  * `readTimeoutMs`); any other status fails at once — a rejected request
  * is malformed, resending it cannot help. `GraftSession` runs
  * `local[cores]`, where Spark retries no failed task, so this loop is the
  * only retry a read or write gets. Every error names the operation, the
  * status and the first 500 characters of the server's body. */
object InfluxHttp {

  /** The transport test seam: replaces ONE exchange, below the retry loop —
    * request path and body (a copy of its first `length` bytes) in, status
    * and response body out. Process-local
    * (local-mode executors share the JVM); unset = real HTTP. */
  @volatile private[graft] var testExchange
    : Option[(String, Array[Byte]) => (Int, String)] = None

  /** POST a query body to `/api/v2/query` and return the CSV response. */
  private[graft] def query(cfg: InfluxSink.Config, contentType: String,
                           body: Array[Byte]): String =
    post(cfg, InfluxSink.endpoint(cfg, "/api/v2/query", "org" -> cfg.org),
      "query", contentType, body, body.length, accept = Some("application/csv"))

  /** POST the first `length` bytes of `body` to `url` under the retry
    * policy; the response body on 2xx. */
  private[graft] def post(cfg: InfluxSink.Config, url: URL, op: String,
                          contentType: String, body: Array[Byte], length: Int,
                          accept: Option[String] = None): String = {
    @tailrec def attempt(retry: Int): String = {
      // Right(response) on 2xx, Left((failure, Retry-After ms)) if retryable
      val outcome: Either[(String, Long), String] =
        try {
          val (code, text, retryAfterMs) = exchange(cfg, url, contentType, accept, body, length)
          def failure = s"HTTP $code ${text.take(500)}"
          if (code >= 200 && code < 300) Right(text)
          else if (code == 429 || code >= 500) Left((failure, retryAfterMs))
          else throw new RuntimeException(s"influx $op rejected: $failure")
        } catch { case e: IOException => Left((e.toString, 0L)) }
      outcome match {
        case Right(text) => text
        case Left((failure, _)) if retry >= cfg.maxRetries =>
          throw new RuntimeException(
            s"influx $op failed after ${cfg.maxRetries} retries: $failure")
        case Left((_, retryAfterMs)) =>
          Thread.sleep(math.max(200L << retry,
            math.min(retryAfterMs, cfg.readTimeoutMs.toLong)))
          attempt(retry + 1)
      }
    }
    attempt(0)
  }

  /** One request → (status, response body, a 429/503's `Retry-After` in ms
    * or 0). */
  private def exchange(cfg: InfluxSink.Config, url: URL, contentType: String,
                       accept: Option[String], body: Array[Byte],
                       length: Int): (Int, String, Long) =
    testExchange match {
      case Some(f) =>
        val (code, text) = f(url.getPath, java.util.Arrays.copyOf(body, length))
        (code, text, 0L)
      case None =>
        val conn = url.openConnection().asInstanceOf[HttpURLConnection]
        conn.setConnectTimeout(cfg.connectTimeoutMs)
        conn.setReadTimeout(cfg.readTimeoutMs)
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        conn.setFixedLengthStreamingMode(length)
        conn.setRequestProperty("Authorization", s"Token ${cfg.token}")
        conn.setRequestProperty("Content-Type", contentType)
        accept.foreach(conn.setRequestProperty("Accept", _))
        val out = conn.getOutputStream
        try out.write(body, 0, length) finally out.close()
        val code = conn.getResponseCode
        val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
        val text =
          if (in == null) ""
          else try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
        val retryAfterMs =
          if (code != 429 && code != 503) 0L
          else Option(conn.getHeaderField("Retry-After"))
            .flatMap(_.trim.toLongOption).fold(0L)(_ * 1000L)
        (code, text, retryAfterMs)
    }
}
