package perfbench

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

/** The `influx_read` step of query_mix: a time-range and
  * measurement-filtered `spark.read.format("influx")` with
  * `readPartitions` = nproc, fully materialized, against the stub serving
  * seeded samples as pre-rendered annotated CSV. Successive reads cycle
  * through the measurements in a seeded order over the same middle 80% of
  * the time span. The check: row count and exact value sum (the samples
  * are integers). */
final class InfluxRead(ctx: Ctx, nSeries: Int, perSeries: Int) {
  import ctx.spark
  private var samples: Samples = _
  private var stub: InfluxStub = _
  private var order: Vector[String] = Vector.empty
  private var from, until = 0L

  def load(): Unit = {
    samples = Samples.generate(ctx.seed, nSeries, perSeries)
    stub = new InfluxStub(Host.nproc, None, None, Some(samples.render()))
    val span = samples.stopMs - samples.startMs
    from = samples.startMs + span / 10
    until = samples.stopMs - span / 10
    order = new scala.util.Random(ctx.seed).shuffle(samples.measurements)
  }

  def read(i: Int): OpResult = {
    val m = order(i % order.size)
    val before = stub.snapshot
    val obs = Observation()
    spark.read.format("influx")
      .option("url", stub.url).option("org", "org").option("bucket", "bucket")
      .option("token", "token").option("readPartitions", Host.nproc.toString)
      .load()
      .filter(col("time_ms") >= from && col("time_ms") < until && col("measurement") === m)
      .observe(obs, count(lit(1)).as("n"), sum(col("value")).as("s"))
      .write.format("noop").mode("overwrite").save()
    val got = obs.get
    val n = got("n").asInstanceOf[Long]
    val s = Option(got("s")).map(_.asInstanceOf[Double]).getOrElse(0.0)
    val (en, es) = samples.expected(m, from, until)
    val d = stub.snapshot.since(before)
    val ok = n == en && s == es.toDouble
    OpResult(n, ok, if (ok) "" else s"influx_read $m: rows $n/$en sum $s/$es",
      Map("sources.flux_posts" -> d.queryRequests.toDouble,
        "sources.bytes_per_row" -> (if (n > 0) d.bytesOut.toDouble / n else 0.0),
        "stub.busy_s" -> d.busyNs / 1e9,
        "stub.requests" -> (d.writeRequests + d.queryRequests).toDouble,
        "stub.bytes" -> (d.bytesIn + d.bytesOut).toDouble))
  }

  def close(): Unit = if (stub != null) { stub.stop(); stub = null }
}
