package graft.etl

import graft.model.InfluxPoint
import graft.sources.{InfluxDataWriter, PointOrdinals}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset}

import java.net.{URL, URLEncoder}
import java.nio.charset.StandardCharsets

/** S3: the InfluxDB batch sink, rebuilt as an executor-parallel
  * line-protocol writer (the reference serializes Point objects and POSTs
  * synchronously one 10k batch at a time from a single thread,
  * sqllite2influxdb.py:100-161).
  *
  * Design: one per-task write loop, [[graft.sources.InfluxDataWriter]],
  * shared by [[save]], [[write]] and the DSv2 sink
  * ([[graft.sources.InfluxDataSource]], `format("influx")`, batch and
  * streaming): each task encodes point rows straight into line-protocol
  * bytes ([[LineEncoder]]) and POSTs every `batchSize` lines to
  * `/api/v2/write` through the one Influx client ([[InfluxHttp]]: auth,
  * timeouts, bounded retry on 429/5xx/IO), giving N-way parallel writes
  * with bounded memory (one batch resident, mirroring the reference's
  * O(BATCH_SIZE) pull loop at sqllite2influxdb.py:183-189). [[save]]
  * returns the lines the successful tasks wrote, from one pass over the
  * input; [[write]] is its typed form. Idempotent by Influx point overwrite semantics (same
  * measurement+tagset+time ⇒ upsert), so Spark task retries are safe
  * (SURVEY §2.10-T3).
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

  /** The writer's transport: one call per batch. Tests and timing
    * wrappers see each batch as its lines. */
  trait LineWriter extends Serializable {
    def writeBatch(lines: Seq[String]): Unit
    /** Send one encoded batch; by default as its lines, cut at the lines'
      * recorded ends. */
    def writeEncoded(batch: LineEncoder): Unit = writeBatch(batch.lineStrings)
  }

  /** The HTTP transport: one [[InfluxHttp.post]] per batch to
    * `/api/v2/write` (URL built once per writer), under the client's
    * retry policy. An encoded batch is posted as its bytes. */
  final class HttpLineWriter(cfg: Config) extends LineWriter {
    private val writeUrl = endpoint(cfg, "/api/v2/write", "org" -> cfg.org,
      "bucket" -> cfg.bucket, "precision" -> "ns")

    private def post(body: Array[Byte], length: Int): Unit =
      InfluxHttp.post(cfg, writeUrl, "write", "text/plain; charset=utf-8", body, length)

    override def writeBatch(lines: Seq[String]): Unit = if (lines.nonEmpty) {
      val body = lines.mkString("\n").getBytes(StandardCharsets.UTF_8)
      post(body, body.length)
    }

    override def writeEncoded(batch: LineEncoder): Unit =
      if (batch.lines > 0) post(batch.buffer, batch.byteLength)
  }

  /** Write a point DataFrame (Schemas.influxPoint columns, resolved by
    * name) and return the number of lines written. Partition-parallel;
    * within a partition, batches of `batchSize` exactly like the
    * reference's fetchmany loop. Each task returns the lines its transport
    * accepted, summed by the same job's collect, so only successful task
    * attempts count, a failed task fails the write, and the input is
    * evaluated once. */
  def save(points: DataFrame, cfg: Config,
           writerFactory: Config => LineWriter = new HttpLineWriter(_)): Long = {
    val rows = points.select("measurement", "tags", "fields_num",
      "fields_str", "time_ms")
    val ords = PointOrdinals.resolve(rows.schema)
    rows.queryExecution.toRdd.mapPartitions { it =>
      val w = new InfluxDataWriter(TaskContext.getPartitionId(), cfg,
        writerFactory(cfg), ords)
      it.foreach(w.write)
      Iterator.single(w.commit().nLines)
    }.collect().sum
  }

  /** [[save]] for a typed point Dataset. */
  def write(points: Dataset[InfluxPoint], cfg: Config,
            writerFactory: Config => LineWriter = new HttpLineWriter(_)): Long =
    save(points.toDF(), cfg, writerFactory)

  /** points DataFrame (Schemas.influxPoint columns) → typed Dataset. */
  def asPoints(df: DataFrame): Dataset[InfluxPoint] = {
    import df.sparkSession.implicits._
    df.select("measurement", "tags", "fields_num", "fields_str", "time_ms")
      .as[InfluxPoint]
  }
}
