package graft

import org.apache.spark.sql.SparkSession

/** The one session every entry point starts from: Bench, Verify, Backfill,
  * PlanAudit, ScaleGen and the test suites.
  *
  * `local[cores]` with `cores` shuffle partitions, where `cores` defaults
  * to SPARK_GRAFT_CPUS, else the JVM's processor count. A master given
  * through `spark-submit --master` (the `spark.master` property) wins over
  * the local default. */
object GraftSession {
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim)
    .filter(_.nonEmpty).map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cores: Int = defaultCores, logLevel: String = "WARN",
            warehouseDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // non-ANSI casts (cast failure → NULL) mirror the reference's
      // per-field try/except-skip semantics (quirk Q4/Q8)
      .config("spark.sql.ansi.enabled", "false")
      // last-writer-wins map concat = reference point.field() overwrite (Q7)
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    warehouseDir.foreach(b.config("spark.sql.warehouse.dir", _))
    if (!sys.props.contains("spark.master")) b.master(s"local[$cores]")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
