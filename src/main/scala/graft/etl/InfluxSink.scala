package graft.etl

import graft.model.InfluxPoint
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}

import java.net.{URL, URLEncoder}
import java.nio.charset.StandardCharsets

/** S3: the InfluxDB batch sink, rebuilt as an executor-parallel
  * line-protocol writer (the reference serializes Point objects and POSTs
  * synchronously one 10k batch at a time from a single thread,
  * sqllite2influxdb.py:100-161).
  *
  * Design: `Dataset[InfluxPoint].mapPartitions` — each executor partition
  * builds line-protocol strings locally and POSTs them to `/api/v2/write`
  * through the one Influx client ([[InfluxHttp]]: auth, timeouts, bounded
  * retry on 429/5xx/IO), giving N-way parallel writes with bounded memory
  * (O(batchSize) lines resident, mirroring the reference's O(BATCH_SIZE)
  * pull loop at sqllite2influxdb.py:183-189); [[write]] returns the lines
  * it wrote, from one pass over the input. Idempotent by Influx point
  * overwrite semantics (same measurement+tagset+time ⇒ upsert), so Spark
  * task retries are safe (SURVEY §2.10-T3). Streaming writes go through
  * the DSv2 sink ([[graft.sources.InfluxDataSource]],
  * `writeStream.format("influx")`).
  *
  * `pointByPoint` reproduces the reference's DEBUG per-point write mode
  * (sqllite2influxdb.py:148-153).
  */
object InfluxSink {

  final case class Config(url: String, org: String, bucket: String,
                          token: String, batchSize: Int = 10000,
                          pointByPoint: Boolean = false,
                          connectTimeoutMs: Int = 10000,
                          readTimeoutMs: Int = 30000,
                          maxRetries: Int = 3)

  /** S4: config from the environment with fail-fast validation, mirroring
    * the reference's .env load + exit(1) on missing values
    * (sqllite2influxdb.py:10-31, quirk Q8). Driver-side errors are fatal;
    * row-level errors stay permissive (NULL propagation). */
  def configFromEnv(env: Map[String, String] = sys.env): Config = {
    def req(k: String): String = env.getOrElse(k,
      throw new IllegalArgumentException(s"missing required env var $k"))
    val cfg = Config(
      url = req("INFLUXDB_URL"),
      org = req("INFLUXDB_ORG"),
      bucket = req("INFLUXDB_BUCKET"),
      token = req("INFLUXDB_TOKEN"),
      batchSize = env.getOrElse("BATCH_SIZE", "10000").toInt,
      pointByPoint = env.getOrElse("DEBUG_MODE", "false").toBoolean)
    require(cfg.batchSize > 0, s"BATCH_SIZE must be positive: ${cfg.batchSize}")
    require(cfg.url.startsWith("http"), s"INFLUXDB_URL must be http(s): ${cfg.url}")
    cfg
  }

  /** `cfg.url` + `path` with URL-encoded query parameters. Org and
    * bucket are free text from the environment: raw, a `#` in a bucket
    * name starts a URL fragment (the write lands in the truncated
    * bucket) and a `&` in an org name splits the query. */
  def endpoint(cfg: Config, path: String, params: (String, String)*): URL =
    new URL(cfg.url + path + params.map { case (k, v) =>
      s"$k=${URLEncoder.encode(v, StandardCharsets.UTF_8)}"
    }.mkString("?", "&", ""))

  /** Line-protocol escaping per the InfluxDB v2 reference:
    * measurement: escape ',' and ' '; tag key/value and field key: escape
    * ',', '=', ' '; string field value: escape '"' and '\'. */
  def escMeasurement(s: String): String =
    s.replace(",", "\\,").replace(" ", "\\ ")
  def escTag(s: String): String =
    s.replace(",", "\\,").replace("=", "\\=").replace(" ", "\\ ")
  def escFieldStr(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** One point → one line. Numeric fields bare, string fields quoted;
    * timestamp in ns (time_ms * 1e6). Tag order is sorted for deterministic
    * output (Influx recommends sorted tags for write performance). */
  def toLine(p: InfluxPoint): String = toLineNs(p, p.time_ms * 1000000L)

  /** [[toLine]] with an EXPLICIT nanosecond timestamp — the marker
    * cleanup replays fetched family points losslessly, including foreign
    * writers' sub-millisecond times that the ms-typed point row cannot
    * carry (p.time_ms is ignored). */
  def toLineNs(p: InfluxPoint, timeNs: Long): String = {
    val sb = new StringBuilder(128)
    sb.append(escMeasurement(p.measurement))
    p.tags.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb.append(',').append(escTag(k)).append('=').append(escTag(v))
    }
    val fields =
      p.fields_num.toSeq.sortBy(_._1).map { case (k, v) => s"${escTag(k)}=$v" } ++
      p.fields_str.toSeq.sortBy(_._1).map { case (k, v) => s"""${escTag(k)}="${escFieldStr(v)}"""" }
    sb.append(' ').append(fields.mkString(","))
    sb.append(' ').append(timeNs)
    sb.toString
  }

  /** Pluggable transport so tests capture lines without a server. */
  trait LineWriter extends Serializable {
    def writeBatch(lines: Seq[String]): Unit
  }

  /** The HTTP transport: one [[InfluxHttp.post]] per batch to
    * `/api/v2/write` (URL built once per writer), under the client's
    * retry policy. */
  final class HttpLineWriter(cfg: Config) extends LineWriter {
    private val writeUrl = endpoint(cfg, "/api/v2/write", "org" -> cfg.org,
      "bucket" -> cfg.bucket, "precision" -> "ns")

    override def writeBatch(lines: Seq[String]): Unit =
      if (lines.nonEmpty) InfluxHttp.post(cfg, writeUrl, "write",
        "text/plain; charset=utf-8", lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Write a point Dataset and return the number of lines written.
    * Partition-parallel; within a partition, batches of `batchSize` exactly
    * like the reference's fetchmany loop. Each partition returns the lines
    * its transport accepted, summed on the driver in the same job, so only
    * successful task attempts count and the input is evaluated once. */
  def write(points: Dataset[InfluxPoint], cfg: Config,
            writerFactory: Config => LineWriter = new HttpLineWriter(_)): Long = {
    val batch = if (cfg.pointByPoint) 1 else cfg.batchSize
    points.mapPartitions { it: Iterator[InfluxPoint] =>
      val w = writerFactory(cfg)
      var n = 0L
      it.map(toLine).grouped(batch).foreach { g => w.writeBatch(g); n += g.size }
      Iterator.single(n)
    }(Encoders.scalaLong).collect().sum
  }

  /** points DataFrame (Schemas.influxPoint columns) → typed Dataset. */
  def asPoints(df: DataFrame): Dataset[InfluxPoint] = {
    import df.sparkSession.implicits._
    df.select("measurement", "tags", "fields_num", "fields_str", "time_ms")
      .as[InfluxPoint]
  }
}
