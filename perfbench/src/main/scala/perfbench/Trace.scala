package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** One timed interval around a call into the program. Spans of one
  * operation share `op`; `parent` is the enclosing span's id (0 = none). */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Off, `span` only runs its body. On, spans are kept in
  * memory and written out when the run ends. Spans nest on the driver
  * thread only, so a plain stack tracks the parent. */
final class Tracer(var enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1
  var op: Int = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Median over operations of the summed duration of spans named `name`. */
  def medianSeconds(name: String): Double = {
    val perOp = spans.filter(_.name == name).groupBy(_.op)
      .values.map(_.map(_.seconds).sum).toSeq
    Stats.median(perOp)
  }

  /** A span's duration minus the part its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs,
    "self_s" -> selfSeconds(s)))
}

/** Counters from a SparkListener and a QueryExecutionListener. Registered
  * only in traced runs; read as deltas between snapshots. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  val jobs, stages, tasks, taskRunMs, shuffleBytes, spillBytes, resultBytes,
    planNs = new AtomicLong()
  /** Every counted task's run time, in the order the tasks ended; `tasks`
    * indexes it, so the longest task between two snapshots can be found. */
  private val taskMs = ArrayBuffer.empty[Long]

  override def onJobStart(j: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    taskMs.synchronized(taskMs += (if (m != null) m.executorRunTime else 0L))
    tasks.incrementAndGet()
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      resultBytes.addAndGet(m.resultSize)
    }
  }

  private def planTime(qe: QueryExecution): Long =
    Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs).sum * 1000000L

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    planNs.addAndGet(planTime(qe))
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    planNs.addAndGet(planTime(qe))

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Snapshot after draining the listener bus, so every event of the work
    * before this call is counted. Its `maxTaskMs` is 0: only an interval
    * ([[since]]) has one. Snapshots reset nothing, so they may nest. */
  def snapshot(spark: SparkSession): SparkCounters.Snap = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    SparkCounters.Snap(jobs.get, stages.get, tasks.get, taskRunMs.get, 0L,
      shuffleBytes.get, spillBytes.get, resultBytes.get, planNs.get)
  }

  /** Counts since `before`, with the longest task that ended since then. */
  def since(spark: SparkSession, before: SparkCounters.Snap): SparkCounters.Snap = {
    val now = snapshot(spark)
    now.minus(before).copy(maxTaskMs = maxTaskMs(before.tasks, now.tasks))
  }

  private def maxTaskMs(from: Long, until: Long): Long = taskMs.synchronized {
    taskMs.slice(from.toInt, until.toInt).maxOption.getOrElse(0L)
  }
}

object SparkCounters {
  final case class Snap(jobs: Long, stages: Long, tasks: Long, taskRunMs: Long,
                        maxTaskMs: Long, shuffleBytes: Long, spillBytes: Long,
                        resultBytes: Long, planNs: Long) {
    /** Counts since `before`; `maxTaskMs` is left as it is here, see
      * [[SparkCounters.since]]. */
    def minus(before: Snap): Snap = Snap(jobs - before.jobs,
      stages - before.stages, tasks - before.tasks,
      taskRunMs - before.taskRunMs, maxTaskMs, shuffleBytes - before.shuffleBytes,
      spillBytes - before.spillBytes, resultBytes - before.resultBytes,
      planNs - before.planNs)
  }

  /** Per-operation medians of each counter, as per-layer metrics. */
  def medians(perOp: Seq[Snap], wallS: Double): Map[String, Metric] = {
    def med(f: Snap => Double) = Stats.median(perOp.map(f))
    val taskRunS = med(_.taskRunMs / 1000.0)
    Map(
      "spark.jobs" -> Metric(med(_.jobs.toDouble), "count"),
      "spark.stages" -> Metric(med(_.stages.toDouble), "count"),
      "spark.tasks" -> Metric(med(_.tasks.toDouble), "count"),
      "spark.task_run_s" -> Metric(taskRunS, "s"),
      "spark.max_task_s" -> Metric(med(_.maxTaskMs / 1000.0), "s"),
      "spark.shuffle_bytes" -> Metric(med(_.shuffleBytes.toDouble), "B"),
      "spark.spill_bytes" -> Metric(med(_.spillBytes.toDouble), "B"),
      "spark.result_bytes" -> Metric(med(_.resultBytes.toDouble), "B"),
      "spark.plan_s" -> Metric(med(_.planNs / 1e9), "s"),
      "spark.busy_share" -> Metric(
        if (wallS > 0) taskRunS / (wallS * Host.nproc) else 0.0, "share"))
  }
}

final case class Metric(value: Double, unit: String)

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
