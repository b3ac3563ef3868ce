package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap

/** Benchmark entry point, launched by `perfbench/run.py`.
  *
  * {{{
  * perfbench.Main --workload backfill|query_mix --seed N
  *                --seconds S --trace 0|1 --work DIR --out DIR --fixture DIR
  * perfbench.Main --mode selftest|record|bridge ...
  * }}}
  *
  * The last stdout line is the result: `correct`, `attempted`, `failed` and
  * `metrics` (the end-to-end metrics untraced, the per-layer ones traced).
  * A detail file with the host, seed, per-operation samples and, traced,
  * every span goes to `--out`. */
object Main {
  val Workloads: Seq[String] = Seq("backfill", "query_mix")

  /** Recorder size of the backfill workload; the benchmark's default. */
  val BackfillScale = 0.3

  /** Each per-layer metric and its unit, as listed in BENCHMARK.json. A
    * traced run prints all of them; a layer the workload does not run
    * reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "ops.samples" -> "count", "ops.failed_share" -> "share", "heap_peak_mb" -> "MB",
    "trace.untraced_wall_s" -> "s", "trace.traced_wall_s" -> "s",
    "trace.overhead_s" -> "s",
    "sources.watermark_s" -> "s", "sources.flux_posts" -> "count",
    "sources.bytes_per_row" -> "B",
    "etl.read_s" -> "s", "etl.read_rows" -> "count",
    "etl.recorder_read_ratio" -> "ratio", "etl.transform_s" -> "s",
    "etl.write_s" -> "s", "etl.recount_s" -> "s",
    "etl.encode_ns_per_point" -> "ns", "etl.line_bytes_per_point" -> "B",
    "etl.post_s" -> "s", "etl.posts" -> "count", "etl.post_retries" -> "count",
    "stub.busy_s" -> "s", "stub.requests" -> "count", "stub.lines" -> "count",
    "stub.bytes" -> "B",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.max_task_s" -> "s",
    "spark.shuffle_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.result_bytes" -> "B", "spark.plan_s" -> "s", "spark.busy_share" -> "share"
  ) ++ QueryMixWorkload.All.flatMap(q => Seq(s"query.$q.s" -> "s",
    s"query.$q.jobs" -> "count", s"query.$q.plan_s" -> "s",
    s"query.$q.shuffle_bytes" -> "B", s"query.$q.result_bytes" -> "B"))

  val MinOps = 3

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    val tMain = System.nanoTime()
    val mode = arg(args, "--mode").getOrElse("run")
    val workload = arg(args, "--workload").getOrElse("")
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work DIR is required")))
    val out = Paths.get(arg(args, "--out").getOrElse(work.toString))
    // query_mix's parquet fixture (the committed sf0.01 copy, by default)
    val fixture = arg(args, "--fixture").getOrElse(sys.error("--fixture DIR is required"))
    if (mode == "run" && !Workloads.contains(workload)) {
      System.err.println(s"unknown workload '$workload'; one of ${Workloads.mkString(", ")}")
      sys.exit(2)
    }
    Files.createDirectories(work)
    Files.createDirectories(out)
    SqliteShim.register()
    val spark = Host.session(work)
    val code =
      try mode match {
        case "run" => run(spark, workload, seed, seconds, trace, work, out, fixture, tMain)
        case "selftest" => SelfTest.run(Ctx(spark, work, seed, new Tracer(false), None))
        case "record" =>
          QueryMixWorkload.record(Ctx(spark, work, seed, new Tracer(false), None),
            fixture).foreach(println)
          0
        case "bridge" =>
          val label = arg(args, "--label").getOrElse(Paths.get(fixture).getFileName.toString)
          val rows = QueryMixWorkload.bridge(Ctx(spark, work, seed, new Tracer(false), None),
            fixture, rounds = 4)
          val doc = ListMap("kind" -> "count_vs_noop_bridge", "fixture" -> label,
            "host" -> Host.info(seed, "query_mix", trace = false), "queries" -> rows)
          Files.writeString(out.resolve(s"bridge-$label.json"), Json.render(doc) + "\n")
          println(Json.render(doc))
          0
        case other => System.err.println(s"unknown mode $other"); 2
      } finally spark.stop()
    System.err.println(f"perfbench: done after ${elapsed(tMain)}%.2f s")
    sys.exit(code)
  }

  private def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def run(spark: org.apache.spark.sql.SparkSession, workload: String, seed: Long,
          seconds: Double, trace: Boolean, work: Path, out: Path, fixture: String,
          tMain: Long): Int = {
    val tracer = new Tracer(false)
    val counters = if (trace) Some(new SparkCounters) else None
    val ctx = Ctx(spark, work, seed, tracer, counters)
    val w: Workload = workload match {
      case "backfill" => new BackfillWorkload(ctx, BackfillScale)
      case "query_mix" => new QueryMixWorkload(ctx, fixture)
    }
    try {
      val t0 = System.nanoTime()
      w.load()
      val loadS = elapsed(t0)
      val warmOk = w.warmUp()
      val setupS = elapsed(tMain)

      /** One operation; a traced one runs with the listeners, row counting
        * and spans on. */
      def runOp(i: Int, traced: Boolean): OpTrace = {
        if (traced) {
          counters.foreach(_.install(spark))
          SqliteShim.countRows = true
          tracer.enabled = true
        }
        val before = counters.filter(_ => traced).map(_.snapshot(spark))
        tracer.op = i
        val t0 = System.nanoTime()
        val r = try tracer.span("op")(w.op(i))
                catch { case e: Exception =>
                  e.printStackTrace()
                  OpResult(0, ok = false, e.toString) }
        val wall = elapsed(t0)
        if (!r.ok) System.err.println(s"operation $i failed: ${r.detail}")
        val snap = before.map(b => counters.get.since(spark, b))
          .getOrElse(SparkCounters.Snap(0, 0, 0, 0, 0, 0, 0, 0, 0))
        if (traced) {
          counters.foreach(_.uninstall(spark))
          SqliteShim.countRows = false
          tracer.enabled = false
        }
        OpTrace(i, wall, r, snap)
      }

      // closed loop: the next operation starts when the previous one ends
      def loop(untilNs: Long, minOps: Int)(traced: Int => Boolean): Seq[OpTrace] = {
        val ops = Vector.newBuilder[OpTrace]
        var i = 1
        while (i <= minOps || System.nanoTime() < untilNs) { ops += runOp(i, traced(i)); i += 1 }
        ops.result()
      }

      val budgetNs = (seconds * 1e9).toLong
      val start = System.nanoTime()
      val cpu0 = Host.cpuTicks
      val (timed, metrics) =
        if (!trace) {
          val ops = loop(start + budgetNs, MinOps)(_ => false)
          val wallS = w.opSeconds(ops)
          val m = ListMap(
            "setup_s" -> Metric(setupS, "s"),
            "wall_s" -> Metric(wallS, "s"),
            "rows_per_s" -> Metric(Stats.median(ops.map(_.result.rows.toDouble)) / wallS, "1/s"))
          (ops, m)
        } else {
          // two thirds of the time alternate untraced and traced operations,
          // so the warm-up trend does not bias the tracing overhead; the
          // last third runs the workload's decomposed layer pass
          val all = loop(start + 2 * budgetNs / 3, 2 * MinOps)(_ % 2 == 0)
          val (traced, plain) = all.partition(_.i % 2 == 0)
          SqliteShim.countRows = true
          tracer.enabled = true
          val untracedWall = w.opSeconds(plain)
          val tracedWall = w.opSeconds(traced)
          val layer = w.layers(traced, start + budgetNs)
          val base: Map[String, Metric] = Map(
            "ops.samples" -> Metric(all.size, "count"),
            "ops.failed_share" -> Metric(all.count(!_.result.ok).toDouble / all.size, "share"),
            "trace.untraced_wall_s" -> Metric(untracedWall, "s"),
            "trace.traced_wall_s" -> Metric(tracedWall, "s"),
            "trace.overhead_s" -> Metric(tracedWall - untracedWall, "s"),
            "heap_peak_mb" -> Metric(Host.peakRssMb, "MB")) ++
            SparkCounters.medians(traced.map(_.spark), tracedWall) ++ layer
          val m = ListMap(PerLayer.map { case (k, u) =>
            k -> base.getOrElse(k, Metric(0.0, u)) }: _*)
          (all, m)
        }
      val failed = timed.count(!_.result.ok)
      val correct = warmOk && failed == 0
      val result = ListMap("correct" -> correct, "attempted" -> timed.size,
        "failed" -> failed, "metrics" -> metrics)
      val detail = ListMap(
        "host" -> Host.info(seed, workload, trace),
        "result" -> result,
        "load_s" -> loadS,
        // the share of the host's CPU time the hypervisor took from this
        // machine during the timed loop: high values explain slow runs
        "steal_share" -> Host.stealShare(cpu0, Host.cpuTicks),
        "ops" -> timed.map(o => ListMap("i" -> o.i, "wall_s" -> o.wallS,
          "rows" -> o.result.rows, "ok" -> o.result.ok, "extra" -> o.result.extra)),
        "spans" -> tracer.toJson)
      Files.writeString(out.resolve(s"$workload-seed$seed-trace${if (trace) 1 else 0}.json"),
        Json.render(detail) + "\n")
      println(Json.render(result))
      0
    } finally w.close()
  }
}
