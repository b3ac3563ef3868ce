package graft

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

import java.util.concurrent.atomic.AtomicLong

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with per-query seconds.
  * A failed query is visibly marked: its name lands in `errors` with the
  * exception text and is excluded from the total, so a broken query can
  * never masquerade as a fast one.
  *
  * The detail file also carries, per query and averaged per pass, the
  * Spark work the query did: jobs, stages, tasks, summed task time,
  * shuffle read/write bytes, spill bytes and the longest task. This is
  * the local stand-in for the Spark UI stage page (the UI is off), so a
  * query's cost can be attributed to scheduling (many tiny stages),
  * shuffle volume or compute. */
object Bench {
  /** Running totals of the listener bus's job, stage and task events. */
  private final class Counters extends SparkListener {
    val jobs, stages, tasks, taskMs, shuffleReadB, shuffleWriteB, spillB,
      maxTaskMs = new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillB.addAndGet(m.memoryBytesSpilled)
        maxTaskMs.accumulateAndGet(m.executorRunTime, (a, b) => math.max(a, b))
      }
    }
    /** The counters since the last take, in [[counterNames]] order. */
    def take(): Array[Double] =
      Array(jobs, stages, tasks, taskMs, shuffleReadB, shuffleWriteB, spillB,
        maxTaskMs).map(_.getAndSet(0).toDouble)
  }
  private val counterNames = Seq("jobs", "stages", "tasks", "task_ms",
    "shuffle_read_b", "shuffle_write_b", "spill_b", "max_task_ms")

  private def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    // absorb one-time session / codegen / parquet-footer init so the first
    // measured query isn't charged for JVM warm-up (reads 1 row per table)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    try {
      graft.etl.Tables.events(spark, sfDir).limit(1).count()
      graft.etl.Tables.documents(spark, sfDir).limit(1).count()
      graft.etl.Tables.embeddings(spark, sfDir).limit(1).count()
    } catch { case _: Throwable => () }
    // INTERLEAVED median-of-N (default 3): the suite is swept end-to-end N
    // times (pass 1 over every query, then pass 2, then pass 3) and each
    // query reports the MEDIAN of its per-pass times. Interleaving decouples
    // a transient host-noise burst from any single query (it lands on
    // different queries each pass), and the median discards the one
    // contaminated sample — min-of-2 from a single pass could freeze a
    // noise spike into the artifact (it did, twice: rounds 7 and 8).
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    // dev-loop filter: comma-separated query names; unset = full suite
    // (the driver never sets it, so the contract output is unchanged)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (k, _) => names(k) }
      case None        => SparkEntry.queries
    }
    val ordered = selected.toSeq.sortBy(_._1)
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // per-query counter sums over the passes. The bus is drained after
    // each timed run, outside the timed region: listener events are
    // async, so without the drain a run's late events would land on the
    // next query
    val work = scala.collection.mutable.Map.empty[String, Array[Double]]
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    ListenerBridge.waitUntilEmpty(spark.sparkContext)
    counters.take()
    var pass = 0
    while (pass < runs) {
      ordered.foreach { case (name, fn) =>
        if (!failed.contains(name)) {
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).count()
            val sec = (System.nanoTime() - t0) / 1e9
            samples(name) = sec :: samples.getOrElse(name, Nil)
          } catch { case e: Throwable =>
            failed(name) = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"
            samples.remove(name)
          }
          ListenerBridge.waitUntilEmpty(spark.sparkContext)
          val c = counters.take()
          if (samples.contains(name))
            work(name) = work.get(name).fold(c)(_.zip(c).map { case (a, b) => a + b })
        }
      }
      pass += 1
    }
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    val ok = ordered.collect { case (name, _) if samples.contains(name) =>
      (name, median(samples(name)))
    }
    // the MIN is also reported (metric stays the median): min-of-N is what
    // earlier rounds froze, so carrying both keeps cross-round comparisons
    // one subtraction instead of a re-run under the old protocol
    val okMin = ordered.collect { case (name, _) if samples.contains(name) =>
      (name, samples(name).min)
    }
    val qs = ok.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")
    val qsMin = okMin.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")
    // stdout-sized per-query map: medians rounded to 3 decimals (~7 KB for
    // 255 queries — half the size of the two full-precision maps whose
    // inline form round 9's driver log capture truncated to parsed:null).
    // Restores the driver's per-query PERF comparison and scaling block
    // (r20 verdict: PERF_r20.per_query was empty because the stdout line
    // carried only totals); full-precision maps still go to the file below.
    val qsRounded = ok.map { case (k, v) =>
      s""""${esc(k)}":${math.rint(v * 1000) / 1000}""" }
      .mkString("{", ",", "}")
    val perPass = ok.map { case (name, _) =>
      val n = samples(name).size
      counterNames.zip(work(name)).map { case (k, v) => s""""$k":${v / n}""" }
        .mkString(s""""${esc(name)}":{""", ",", "}")
    }.mkString("{", ",", "}")
    val errs = failed.map { case (k, m) => s""""${esc(k)}":"${esc(m)}"""" }
      .mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    val totalMin = okMin.map(_._2).sum
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_last.json")
    val summary = s"""{"metric":"total","value":$total,"unit":"sec","n_ok":${ok.size},"n_failed":${failed.size},"runs_per_query":$runs,"agg":"median","protocol":"interleaved-median-of-$runs","value_min":$totalMin,"sf":"${esc(sfDir)}","errors":$errs,"queries":$qsRounded,"detail_file":"${esc(outPath)}"}"""
    println(summary)
    // the loss-proof full artifact: summary fields, both per-query maps
    // and the per-query counters
    val line = s"""{"metric":"total","value":$total,"unit":"sec","n_ok":${ok.size},"n_failed":${failed.size},"runs_per_query":$runs,"agg":"median","protocol":"interleaved-median-of-$runs","value_min":$totalMin,"sf":"${esc(sfDir)}","errors":$errs,"queries":$qs,"queries_min":$qsMin,"counters_per_pass":$perPass}"""
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"bench: could not write $outPath: $e")
    }
    spark.stop()
  }
}
