package perfbench

import graft.Backfill
import graft.etl.{InfluxSink, Sources}
import graft.model.InfluxPoint
import graft.sources.InfluxWatermarkSource
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicLong

/** A `LineWriter` that times the HTTP transport it wraps. Passed as
  * `InfluxSink.write`'s `writerFactory` in the decomposed pass. */
final class TimingLineWriter(cfg: InfluxSink.Config) extends InfluxSink.LineWriter {
  private val inner = new InfluxSink.HttpLineWriter(cfg)
  override def writeBatch(lines: Seq[String]): Unit = {
    val t0 = System.nanoTime()
    try inner.writeBatch(lines)
    finally {
      TimingLineWriter.postNs.addAndGet(System.nanoTime() - t0)
      TimingLineWriter.posts.incrementAndGet()
    }
  }
}

object BackfillWorkload {
  val WarmUpSeconds = 8.0
}

object TimingLineWriter {
  val postNs, posts = new AtomicLong()
}

/** `backfill`: one full migration as a user runs it, `Backfill.run`
  * followed by `Backfill.runStatistics`, from a seeded recorder in embedded
  * Derby (reached through [[SqliteShim]]) into the loopback [[InfluxStub]].
  * The check: the stub received exactly the lines `Backfill.plan` /
  * `statisticsPlan` and `InfluxSink.toLine` give over the generated tables
  * (count and order-insensitive hash), and `run` + `runStatistics`
  * returned that count. */
final class BackfillWorkload(ctx: Ctx, scale: Double,
                             dropFirstLine: Boolean = false) extends Workload {
  import ctx.spark
  private var rec: Recorder = _
  private var dbDir: Path = _
  private var stub: InfluxStub = _
  private var cfg: InfluxSink.Config = _
  private var expectedLines = 0L
  private var expectedHash = 0L
  private var expectedPoints: DataFrame = _

  private def dbPath: String = dbDir.toString

  override def load(): Unit = {
    rec = Recorder.generate(ctx.seed, nStates = (60000 * scale).toInt,
      nEntities = (1000 * scale).toInt.max(20), nAttrs = (3000 * scale).toInt.max(60),
      nStatSensors = 40, statHours = (480 * scale).toInt.max(24))
    dbDir = ctx.work.resolve("recorder")
    rec.seedDerby(dbDir)
    val f = rec.frames(spark)
    val points = Backfill.plan(f.states, f.meta, f.attrs, Some(rec.statesWatermarkMs))
      .unionByName(Backfill.statisticsPlan(
        f.stats.withColumn("start_ts_ms", round(col("start_ts") * 1000).cast("long")),
        f.statsMeta.withColumnRenamed("id", "metadata_id"),
        Some(rec.statisticsWatermarkMs)))
    expectedPoints = points
    val r = InfluxSink.asPoints(points)
      .map((p: InfluxPoint) => Lines.hash(InfluxSink.toLine(p)))(Encoders.scalaLong)
      .toDF("h").agg(count(lit(1)), sum(col("h"))).head()
    expectedLines = r.getLong(0)
    expectedHash = r.getLong(1)
    stub = new InfluxStub(Host.nproc, Some(rec.statesWatermarkMs),
      Some(rec.statisticsWatermarkMs), None, dropFirstLine)
    cfg = InfluxSink.Config(stub.url, "org", "bucket", "token")
  }

  /** Check the stub's intake since `before` against the expectation. */
  private def check(before: InfluxStub.Snap, returned: Long): OpResult = {
    val d = stub.snapshot.since(before)
    val ok = d.lines == expectedLines && d.lineHashSum == expectedHash &&
      returned == d.lines
    OpResult(d.lines, ok,
      if (ok) "" else s"stub lines ${d.lines} (expected $expectedLines), " +
        s"hash match ${d.lineHashSum == expectedHash}, returned $returned")
  }

  /** Operations for at least [[BackfillWorkload.WarmUpSeconds]]: the JIT
    * keeps compiling the pipeline's hot paths over the first operations. */
  override def warmUp(): Boolean = {
    val until = System.nanoTime() + (BackfillWorkload.WarmUpSeconds * 1e9).toLong
    var ok = true
    var n = 0
    while (n < 2 || System.nanoTime() < until) { ok &= op(0).ok; n += 1 }
    ok
  }

  override def op(i: Int): OpResult = {
    val before = stub.snapshot
    val shim0 = SqliteShim.rowsReturned.get
    val n = ctx.tracer.span("backfill.run")(Backfill.run(spark, dbPath, cfg)) +
      ctx.tracer.span("backfill.runStatistics")(Backfill.runStatistics(spark, dbPath, cfg))
    val d = stub.snapshot.since(before)
    check(before, n).copy(extra = Map(
      "recorder_rows" -> (SqliteShim.rowsReturned.get - shim0).toDouble,
      "stub.busy_s" -> d.busyNs / 1e9,
      "stub.requests" -> (d.writeRequests + d.queryRequests).toDouble,
      "stub.lines" -> d.lines.toDouble,
      "stub.bytes" -> (d.bytesIn + d.bytesOut).toDouble))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def recorderFrames(): Seq[DataFrame] = Seq(
    Sources.sqliteJdbc(spark, dbPath, "states"),
    Sources.sqliteJdbc(spark, dbPath, "states_meta"),
    Sources.sqliteJdbc(spark, dbPath, "state_attributes"),
    Sources.sqliteJdbc(spark, dbPath, "statistics")
      .withColumn("start_ts_ms", round(col("start_ts") * 1000).cast("long")),
    Sources.sqliteJdbc(spark, dbPath, "statistics_meta")
      .withColumnRenamed("id", "metadata_id"))

  private def pointsOf(fs: Seq[DataFrame], wm: Option[Long], swm: Option[Long])
      : (DataFrame, DataFrame) =
    (Backfill.plan(fs(0), fs(1), fs(2), wm), Backfill.statisticsPlan(fs(3), fs(4), swm))

  /** The same calls `run` and `runStatistics` make, in the same order, one
    * layer per span: watermark lookups, recorder scans, transform over the
    * cached recorder, the write (with a timing transport) and the trailing
    * recount. */
  private def decomposed(): Map[String, Double] = {
    val t = ctx.tracer
    val (wm, swm) = t.span("sources.watermark") {
      (InfluxWatermarkSource.oldestTimestamp(cfg).map(_.toEpochMilli),
        InfluxWatermarkSource.oldestStatisticsTimestamp(cfg).map(_.toEpochMilli))
    }
    val shim0 = SqliteShim.rowsReturned.get
    t.span("etl.read")(recorderFrames().foreach(noop))
    val readRows = SqliteShim.rowsReturned.get - shim0
    val cached = recorderFrames().map(_.persist(StorageLevel.MEMORY_ONLY))
    t.span("etl.cache")(cached.foreach(noop))
    t.span("etl.transform") {
      val (p, s) = pointsOf(cached, wm, swm)
      noop(p); noop(s)
    }
    cached.foreach(_.unpersist(blocking = true))
    val (p, s) = pointsOf(recorderFrames(), wm, swm)
    val stub0 = stub.snapshot
    val post0 = (TimingLineWriter.postNs.get, TimingLineWriter.posts.get)
    t.span("etl.write") {
      InfluxSink.write(InfluxSink.asPoints(p), cfg, new TimingLineWriter(_))
      InfluxSink.write(InfluxSink.asPoints(s), cfg, new TimingLineWriter(_))
    }
    val posts = TimingLineWriter.posts.get - post0._2
    val written = stub.snapshot.since(stub0)
    t.span("etl.recount")(p.count() + s.count())
    Map("etl.read_rows" -> readRows.toDouble,
      "etl.post_s" -> (TimingLineWriter.postNs.get - post0._1) / 1e9,
      "etl.posts" -> posts.toDouble,
      "etl.post_retries" -> (written.writeRequests - posts).toDouble)
  }

  /** `InfluxSink.toLine` single-threaded over a fixed sample of points. */
  private def encodeBench(): (Double, Double) = {
    val sample = InfluxSink.asPoints(expectedPoints).limit(20000).collect()
    var bytes = 0L
    val ns = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      var b = 0L
      while (i < sample.length) { b += InfluxSink.toLine(sample(i)).length; i += 1 }
      bytes = b
      (System.nanoTime() - t0).toDouble / sample.length
    }
    (Stats.median(ns), bytes.toDouble / sample.length)
  }

  override def layers(traced: Seq[OpTrace], untilNs: Long): Map[String, Metric] = {
    val perOp = Iterator.continually {
      ctx.tracer.op += 1
      ctx.tracer.span("op.decomposed")(decomposed())
    }.zipWithIndex.takeWhile { case (_, k) => k < 2 || System.nanoTime() < untilNs }
      .map(_._1).toVector
    val (encNs, lineBytes) = ctx.tracer.span("etl.encode")(encodeBench())
    def med(k: String) = Stats.median(perOp.map(_(k)))
    def medOps(k: String) = Stats.median(traced.map(_.result.extra(k)))
    Map(
      "sources.watermark_s" -> Metric(ctx.tracer.medianSeconds("sources.watermark"), "s"),
      "etl.read_s" -> Metric(ctx.tracer.medianSeconds("etl.read"), "s"),
      "etl.read_rows" -> Metric(med("etl.read_rows"), "count"),
      "etl.recorder_read_ratio" -> Metric(medOps("recorder_rows") / rec.rowCount, "ratio"),
      "etl.transform_s" -> Metric(ctx.tracer.medianSeconds("etl.transform"), "s"),
      "etl.write_s" -> Metric(ctx.tracer.medianSeconds("etl.write"), "s"),
      "etl.recount_s" -> Metric(ctx.tracer.medianSeconds("etl.recount"), "s"),
      "etl.encode_ns_per_point" -> Metric(encNs, "ns"),
      "etl.line_bytes_per_point" -> Metric(lineBytes, "B"),
      "etl.post_s" -> Metric(med("etl.post_s"), "s"),
      "etl.posts" -> Metric(med("etl.posts"), "count"),
      "etl.post_retries" -> Metric(med("etl.post_retries"), "count"),
      "stub.busy_s" -> Metric(medOps("stub.busy_s"), "s"),
      "stub.requests" -> Metric(medOps("stub.requests"), "count"),
      "stub.lines" -> Metric(medOps("stub.lines"), "count"),
      "stub.bytes" -> Metric(medOps("stub.bytes"), "B"))
  }

  override def close(): Unit = {
    if (stub != null) { stub.stop(); stub = null }
    if (dbDir != null) { Recorder.shutdownDerby(dbDir); Host.removeTree(dbDir); dbDir = null }
  }
}
