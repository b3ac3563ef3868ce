package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.Path

/** What one operation did: rows it moved, and whether its output check
  * passed. */
final case class OpResult(rows: Long, ok: Boolean, detail: String = "",
                          extra: Map[String, Double] = Map.empty)

/** Everything a workload needs from the runner. */
final case class Ctx(spark: SparkSession, work: Path, seed: Long,
                     tracer: Tracer, counters: Option[SparkCounters])

/** One closed-loop workload: one client, one operation at a time. */
trait Workload {
  /** Build the inputs (generate, load, start the stub). Called once. */
  def load(): Unit

  /** Untimed first operation(s), so lazy initialisation and JIT warm-up
    * are out of the timed loop. Returns false if an output check failed. */
  def warmUp(): Boolean

  /** The wall time of one operation: by default the median over the timed
    * operations. */
  def opSeconds(ops: Seq[OpTrace]): Double = Stats.median(ops.map(_.wallS))

  /** One timed operation, with its output check. */
  def op(i: Int): OpResult

  /** Traced runs: per-layer metrics from the traced operations and from a
    * decomposed pass over the program's layers (which may run up to
    * `untilNs`). */
  def layers(traced: Seq[OpTrace], untilNs: Long): Map[String, Metric]

  def close(): Unit
}

/** One traced operation: its wall time, result, and the Spark counters it
  * moved. */
final case class OpTrace(i: Int, wallS: Double, result: OpResult,
                         spark: SparkCounters.Snap)
