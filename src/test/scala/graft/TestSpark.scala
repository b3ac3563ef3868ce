package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites: [[GraftSession]] with a fixed
  * four cores, so the suites plan the same on every host. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(cores = 4, logLevel = "ERROR",
    warehouseDir = Some("/tmp/graft-test-warehouse"))

  /** A session with its OWN SQLConf (same SparkContext, shared state, and
    * extensions). Suites that mutate plan-affecting session confs — AQE
    * skew thresholds, broadcast-join disables, the state-store provider —
    * MUST run on one of these: the 115 suites execute in parallel against
    * [[spark]], and a conf flip on the shared session mid-flight is
    * visible to every concurrently-running query (the one-in-N flake the
    * r16 audit caught). Builder-time confs (shuffle partitions, UTC,
    * non-ANSI, LAST_WIN) live in the SparkContext conf, so the clone
    * inherits them. */
  def isolated(): SparkSession = spark.newSession()
}
