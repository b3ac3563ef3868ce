package graft.sources

import graft.etl.{InfluxSink, LineEncoder}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** S3 as a DataSource V2 sink: `df.write.format("influx").mode("append")`
  * over the point schema (Schemas.influxPoint). Each partition gets its own
  * DataWriter that encodes rows to line protocol and POSTs batches of
  * `batchSize` — the executor-parallel version of the reference's serial
  * 10k-batch loop (sqllite2influxdb.py:146-159). Task retries are safe
  * because Influx point writes are idempotent upserts on
  * (measurement, tagset, time).
  *
  * Options: url, org, bucket, token, batchSize, pointByPoint — same knobs
  * as the reference's .env (S4). This is the only streaming write path
  * (`writeStream.format("influx")`); batch writes can also go through
  * [[graft.etl.InfluxSink.save]], which runs the same per-task writer and
  * returns the lines it wrote.
  */
class InfluxDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "influx"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    // rollup mode (rollup.everyMs set) surfaces the windowed-partial row;
    // otherwise schemaless reads surface the raw Flux sample stream
    InfluxRollupRead.fromOptions(options)
      .map(InfluxRollupRead.schemaOf)
      .getOrElse(InfluxScan.schema)
  // writes pass the dataframe's own (influxPoint) schema through getTable —
  // without this, Spark validates every write against the READ schema
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new InfluxTable(schema, properties)
}

final class InfluxTable(tableSchema: StructType,
                        properties: java.util.Map[String, String])
  extends Table with SupportsWrite with SupportsRead {
  override def name(): String = "influx"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // with supportsExternalMetadata the table echoes the dataframe's own
    // schema, so Spark's by-name write validation is an identity — the
    // point columns must be resolved BY NAME here, at analysis time, or a
    // reordered dataframe would be decoded positionally (two of the
    // columns are both MAP<STRING,?> — swapping them corrupts the line
    // protocol silently)
    val ords = PointOrdinals.resolve(info.schema())
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new InfluxBatchWrite(cfgFrom(info.options), ords)
        // streaming half of the same sink: `df.writeStream
        // .format("influx")` — each micro-batch's partitions write line
        // protocol through the same per-task writer as batch. End-to-end
        // delivery is effectively-once WITHOUT any sink-side transaction
        // log because Influx point writes are idempotent upserts on
        // (measurement, tagset, time): a replayed epoch (restart between
        // sink write and offset commit) rewrites the same points. This is
        // the reference's poll→write loop's sink half as a first-class
        // streaming sink instead of a foreachBatch shim.
        override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
          new InfluxStreamingWrite(cfgFrom(info.options), ords)
      }
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // rollup mode: the scan IS the windowed-partial read (batch and
    // micro-batch); its schema is a function of the rollup options, and
    // the filter/limit/agg pushdown surfaces of the raw sample scan do
    // not apply (bounds/filters ride the rollup.* options instead)
    InfluxRollupRead.fromOptions(options) match {
      case Some(spec) =>
        // with supportsExternalMetadata a user .schema() reaches the
        // relation verbatim while every task emits partial-rollup rows —
        // a mismatch would surface as positional misreads in executors.
        // Fail LOUD at analysis time instead, like the sample path does:
        // the ONLY schema this mode can serve is its own partial row.
        // (inferSchema already returns it whenever rollup.* options are
        // set, so anything else here is an explicit user .schema() — in
        // particular .schema(InfluxScan.schema) would be the exact
        // positional misread this require exists to prevent.)
        val expect = InfluxRollupRead.schemaOf(spec)
        require(tableSchema == expect,
          "influx rollup read: a user-specified schema must match the " +
            s"partial-rollup row $expect, got $tableSchema")
        val scan = new InfluxRollupScan(cfgFrom(options),
          options.getOrDefault("readPartitions", "4").toInt, spec,
          options.getOrDefault("streamLagMs", "0").toLong)
        new ScanBuilder { override def build(): Scan = scan }
      case None => newSampleScanBuilder(options)
    }
  }

  private def newSampleScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // with supportsExternalMetadata a user-specified read schema reaches
    // the scan verbatim — validate it HERE, at analysis time, instead of
    // letting an unknown column fail row-by-row in the executor's toRow
    tableSchema.fields.foreach { f =>
      InfluxScan.schema.fields.find(_.name == f.name) match {
        case None => throw new IllegalArgumentException(
          s"influx read: unknown column '${f.name}' — the sample stream has " +
            InfluxScan.schema.fields.map(_.name).mkString("(", ", ", ")"))
        case Some(expected) if !PointOrdinals.typesMatch(f.dataType, expected.dataType) =>
          throw new IllegalArgumentException(
            s"influx read: column '${f.name}' must be ${expected.dataType}, " +
              s"got ${f.dataType}")
        case _ => ()
      }
    }
    new InfluxScanBuilder(cfgFrom(options),
      options.getOrDefault("readPartitions", "4").toInt, tableSchema,
      options.getOrDefault("streamLagMs", "0").toLong,
      InfluxTable.decodeTagEq(
        options.getOrDefault(InfluxTable.TagFilterOption, "")),
      InfluxTable.decodeGroupTopN(
        options.getOrDefault(InfluxTable.GroupTopNOption, "")),
      InfluxTable.decodeTagRegex(
        options.getOrDefault(InfluxTable.TagRegexOption, "")))
  }

  private def cfgFrom(o: java.util.Map[String, String]): InfluxSink.Config =
    InfluxTable.cfgFrom(o)
}

object InfluxTable {
  /** Options → connection config; shared with the rollup rewrite rule,
    * which rebuilds the read context from the relation's own options. */
  private[graft] def cfgFrom(o: java.util.Map[String, String]): InfluxSink.Config =
    InfluxSink.Config(
      url = o.getOrDefault("url", "http://localhost:8086"),
      org = o.getOrDefault("org", "org"),
      bucket = o.getOrDefault("bucket", "bucket"),
      token = o.getOrDefault("token", ""),
      batchSize = o.getOrDefault("batchSize", "10000").toInt,
      pointByPoint = o.getOrDefault("pointByPoint", "false").toBoolean)

  /** Relation option the injected [[graft.plans.InfluxTagFilterRule]]
    * writes tag predicates into: the DSv2 filter contract cannot carry a
    * `tags['k'] == 'v'` map extraction, so the rule narrows the SCAN via
    * this option while leaving the whole Filter in the plan as the
    * residual re-check — server narrowing, Spark correctness. Entries are
    * URL-encoded `k=v` pairs joined by `&`; a key repeated across pairs
    * carries a SET (`tags['k'] IN (v1, v2)` / OR-of-equalities), emitted
    * server-side as Flux `contains(value: r["k"], set: [...])`. The
    * encoder guarantees one set per key: same-key CONJUNCTS are
    * intersected before encoding (InfluxTagSets.intersectByKey), so the
    * decode below can safely treat repeated keys as one set. */
  private[graft] val TagFilterOption = "pushedTagFilters"

  /** Relation option for pushed tag-REGEX predicates (the LIKE-prefix /
    * -suffix / -contains family, see [[graft.plans.InfluxTagSets
    * .tagRegexOf]]): URL-encoded `k=regex` pairs joined by `&`, each
    * emitted server-side as its own Flux `filter(fn: (r) => r["k"] =~
    * /regex/)` stage — a repeated key carries CONJUNCTS. The regexes are
    * always synthesized in the RE2 ∩ Java-safe form, so server and
    * residual select identical rows; same residual-kept posture as
    * [[TagFilterOption]]. */
  private[graft] val TagRegexOption = "pushedTagRegexes"

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  private[graft] def encodeTagEq(eqs: Seq[(String, Seq[String])]): String =
    eqs.flatMap { case (k, vs) => vs.map(enc(k) + "=" + enc(_)) }
      .mkString("&")

  private[graft] def decodeTagEq(s: String): Seq[(String, Seq[String])] =
    if (s == null || s.isEmpty) Nil
    else {
      val pairs = s.split('&').toSeq.flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(dec(k) -> dec(v))
          case _ => None
        }
      }
      // group repeated keys into their value sets, first-seen key order
      pairs.map(_._1).distinct.map(k =>
        k -> pairs.collect { case (`k`, v) => v })
    }

  private[graft] def encodeTagRegex(res: Seq[(String, String)]): String =
    res.map { case (k, re) => enc(k) + "=" + enc(re) }.mkString("&")

  private[graft] def decodeTagRegex(s: String): Seq[(String, String)] =
    if (s == null || s.isEmpty) Nil
    else s.split('&').toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(dec(k) -> dec(v))
        case _ => None
      }
    }

  /** Relation option the injected [[graft.plans.InfluxGroupTopNRule]]
    * writes a per-group top-k narrowing into: `row_number() OVER
    * (PARTITION BY tags['k'] ORDER BY value) <= k` — the grouped TopN no
    * DSv2 contract can carry. Like the tag narrowing, the WHOLE
    * Window+Filter stays in the plan: the scan returns a per-shard
    * per-group superset (Flux `group(columns:) |> top/bottom(n:)` over
    * the numeric population plus a per-group limit-k pull of the
    * non-numeric NULL-value pad rows) and Spark recomputes the ranks —
    * server narrowing changes bytes moved, never results. Format:
    * `k|d-or-a|urlencoded-group-cols-joined-by-&`. */
  private[graft] val GroupTopNOption = "pushedGroupTopN"

  private[graft] def encodeGroupTopN(n: Int, desc: Boolean,
                                     cols: Seq[String]): String =
    s"$n|${if (desc) "d" else "a"}|${cols.map(enc).mkString("&")}"

  private[graft] def decodeGroupTopN(s: String)
      : Option[(Int, Boolean, Seq[String])] =
    if (s == null || s.isEmpty) None
    else s.split('|') match {
      case Array(n, dir, cols) if n.forall(_.isDigit) && n.nonEmpty &&
        (dir == "d" || dir == "a") =>
        Some((n.toInt, dir == "d",
          cols.split('&').toSeq.filter(_.nonEmpty).map(dec)))
      case _ => None
    }

  /** User-facing option for the STREAMING grouped-TopN narrowing. Batch
    * queries never need it — the injected [[graft.plans.InfluxGroupTopNRule]]
    * derives it from the Window+Filter shape — but streaming plans carry
    * no Window for the rule to match, so the consumer opts in explicitly:
    *
    *   spark.readStream.format("influx")
    *     .option(t._1, t._2)   // t = InfluxTable.groupTopN(10, desc=true,
    *                           //     Seq("tag:entity_id"))
    *
    * and maintains the leaderboard with
    * [[graft.streaming.StreamingEvents.influxTopkStream]] — each trigger
    * pulls only the per-group top/bottom-k superset, and the maintained
    * bounded top-k folds it to the exact running board. */
  def groupTopN(k: Int, desc: Boolean, groupCols: Seq[String])
      : (String, String) = {
    require(k > 0, s"groupTopN: k must be positive, got $k")
    groupCols.foreach(c => require(
      c == "measurement" || c == "field" || c.startsWith("tag:"),
      s"groupTopN: '$c' must be measurement, field or tag:<key>"))
    GroupTopNOption -> encodeGroupTopN(k, desc, groupCols)
  }

  /** The LIKE-family tag narrowing as a READ OPTION — the streaming
    * spelling of [[graft.plans.InfluxTagFilterRule]]'s regex push. A
    * `readStream` relation is built before any optimizer rule can
    * inspect the query's filters, so the per-trigger narrowing must be
    * declared at load():
    *
    * {{{
    * val (k, v) = InfluxTable.tagLike("entity_id" -> "sensor.%")
    * spark.readStream.format("influx").option(k, v).load()
    *   .filter(col("tags")("entity_id").like("sensor.%"))   // residual
    * }}}
    *
    * Each pattern synthesizes through the SAME recognizer as the batch
    * rule (`(?s)`/`\z`-anchored, RE2 ∩ Java-identical, control-char
    * patterns refused), so every trigger's POST carries the identical
    * `=~` stage the batch scan would. Same residual-kept posture: keep
    * the LIKE in the plan — the option only cuts bytes, a lying server
    * changes traffic, never results. Unclaimable patterns throw here
    * (loud at assembly) rather than ship a dialect-divergent regex. */
  def tagLike(pairs: (String, String)*): (String, String) = {
    require(pairs.nonEmpty, "tagLike: need at least one key -> pattern")
    val res = pairs.map { case (k, p) =>
      k -> graft.plans.InfluxTagSets.likeRegexOf(p).getOrElse(
        throw new IllegalArgumentException(
          s"tagLike: pattern '$p' is outside the pushable LIKE family " +
            "(non-standard escape or control characters) — leave it as " +
            "a client-side filter"))
    }
    TagRegexOption -> encodeTagRegex(res)
  }
}

final case class InfluxCommit(partitionId: Int, nLines: Long)
  extends WriterCommitMessage

/** Name-resolved ordinals of the point columns in the incoming write
  * schema, with type validation — the analysis-time guard external
  * metadata removed. */
final case class PointOrdinals(measurement: Int, tags: Int, fieldsNum: Int,
                               fieldsStr: Int, timeMs: Int)

object PointOrdinals {
  /** Structural type equality modulo nullability flags (sameType is
    * private[sql]): containsNull/valueContainsNull/nullable normalized to
    * true recursively before comparing. */
  private[sources] def typesMatch(a: org.apache.spark.sql.types.DataType,
                                  b: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    def norm(dt: DataType): DataType = dt match {
      case ArrayType(et, _) => ArrayType(norm(et), containsNull = true)
      case MapType(k, v, _) => MapType(norm(k), norm(v), valueContainsNull = true)
      case StructType(fs) => StructType(fs.map(f =>
        f.copy(dataType = norm(f.dataType), nullable = true)))
      case other => other
    }
    norm(a) == norm(b)
  }

  def resolve(schema: StructType): PointOrdinals = {
    def at(name: String, expected: org.apache.spark.sql.types.DataType): Int = {
      val i = schema.fieldIndex(name) // throws with the field name if absent
      val actual = schema.fields(i).dataType
      // equality modulo nullability flags: map(lit(a), lit(b)) infers
      // valueContainsNull=false, and rejecting that would refuse a
      // perfectly valid write dataframe
      require(PointOrdinals.typesMatch(actual, expected),
        s"influx write: column '$name' must be $expected, got $actual")
      i
    }
    import org.apache.spark.sql.types._
    PointOrdinals(
      measurement = at("measurement", StringType),
      tags = at("tags", MapType(StringType, StringType)),
      fieldsNum = at("fields_num", MapType(StringType, DoubleType)),
      fieldsStr = at("fields_str", MapType(StringType, StringType)),
      timeMs = at("time_ms", LongType))
  }
}

final class InfluxBatchWrite(cfg: InfluxSink.Config, ords: PointOrdinals)
  extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    InfluxDataWriterFactory(cfg, ords)
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

/** Micro-batch streaming write: one [[InfluxDataWriter]] per (partition,
  * epoch) task, same line-protocol batching as the batch path. commit is a
  * no-op by design — the sink's idempotence (Influx upserts on
  * (measurement, tagset, time)) is what makes replays safe, not a
  * transaction log. */
final class InfluxStreamingWrite(cfg: InfluxSink.Config, ords: PointOrdinals)
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    InfluxStreamingDataWriterFactory(cfg, ords)
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

final case class InfluxStreamingDataWriterFactory(cfg: InfluxSink.Config,
                                                  ords: PointOrdinals)
  extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new InfluxDataWriter(partitionId, cfg, new InfluxSink.HttpLineWriter(cfg), ords)
}

final case class InfluxDataWriterFactory(cfg: InfluxSink.Config,
                                         ords: PointOrdinals)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new InfluxDataWriter(partitionId, cfg, new InfluxSink.HttpLineWriter(cfg), ords)
}

/** Per-task writer, the one encode-and-batch loop of every Influx write:
  * each row is encoded into the task's [[graft.etl.LineEncoder]] and every
  * `batchSize` lines (1 with `pointByPoint`) go to the transport as one
  * batch; the rest at commit, which reports the lines written. */
final class InfluxDataWriter(partitionId: Int, cfg: InfluxSink.Config,
                             transport: InfluxSink.LineWriter,
                             ords: PointOrdinals)
  extends DataWriter[InternalRow] {

  private val batch = if (cfg.pointByPoint) 1 else cfg.batchSize
  private val encoder = new LineEncoder(ords)
  private var total = 0L

  override def write(row: InternalRow): Unit = {
    encoder.append(row)
    if (encoder.lines >= batch) flush()
  }

  private def flush(): Unit = if (encoder.lines > 0) {
    transport.writeEncoded(encoder)
    total += encoder.lines
    encoder.clear()
  }

  override def commit(): InfluxCommit = {
    flush()
    InfluxCommit(partitionId, total)
  }
  override def abort(): Unit = encoder.clear()
  override def close(): Unit = ()
}
