package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import scala.io.Source
import scala.util.Try

/** The host the benchmark runs on, and the one Spark session derived from
  * it: `local[nproc]`, shuffle partitions = nproc, and the SQL settings the
  * program's own mains use (UTC, non-ANSI, LAST_WIN map keys, the graft
  * extensions). The heap is set by the launcher from MemTotal. */
object Host {
  val nproc: Int = Runtime.getRuntime.availableProcessors

  private def procField(file: String, key: String): Option[Long] =
    Try {
      val src = Source.fromFile(file)
      try src.getLines().collectFirst {
        case l if l.startsWith(key + ":") =>
          l.drop(key.length + 1).trim.split("\\s+")(0).toLong
      } finally src.close()
    }.toOption.flatten

  def memTotalKb: Long = procField("/proc/meminfo", "MemTotal").getOrElse(-1L)

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb: Double =
    procField("/proc/self/status", "VmHWM").map(_ / 1024.0).getOrElse(-1.0)

  /** The machine-wide `cpu` line of /proc/stat: user, nice, system, idle,
    * iowait, irq, softirq, steal, ... in clock ticks. */
  def cpuTicks: Seq[Long] = Try {
    val src = Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong).toSeq
    finally src.close()
  }.getOrElse(Seq.empty)

  /** Steal ticks over all ticks between two [[cpuTicks]] readings. */
  def stealShare(before: Seq[Long], after: Seq[Long]): Double = {
    val d = after.zip(before).take(8).map { case (a, b) => a - b }
    if (d.length == 8 && d.sum > 0) d(7).toDouble / d.sum else 0.0
  }

  def info(seed: Long, workload: String, trace: Boolean): Map[String, Any] = Map(
    "workload" -> workload,
    "seed" -> seed,
    "trace" -> trace,
    "nproc" -> nproc,
    "mem_total_kb" -> memTotalKb,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "jdk" -> System.getProperty("java.runtime.version"),
    "spark" -> org.apache.spark.SPARK_VERSION,
    "git_head" -> sys.props.getOrElse("perfbench.gitHead", "unknown"))

  def removeTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally all.close()
    }

  def session(work: Path): SparkSession = {
    val local = work.resolve("spark-local")
    Files.createDirectories(local)
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
