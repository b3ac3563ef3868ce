package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.jdbc.JDBCOptions
import org.apache.spark.sql.jdbc.JdbcDialects

/** Fixture table readers (TESTDATA.md). Parquet scans are the rebuild's
  * stand-in for the reference's SQLite scan (S1, sqllite2influxdb.py:33-42);
  * for a real HA database use [[Sources.sqliteJdbc]].
  *
  * Scale note: a parquet directory scan parallelizes by row-group /
  * `spark.sql.files.maxPartitionBytes`; column pruning + predicate pushdown
  * apply automatically when downstream selects/filters are declarative.
  */
object Tables {
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The `events` fixture's `ts` physical type has varied across driver
    * drops: TIMESTAMP(NANOS) — which Spark's vectorized reader rejects
    * outright — and plain TIMESTAMP(MICROS) with isAdjustedToUTC=false
    * (read as TIMESTAMP_NTZ). Normalize BY OBSERVED SCHEMA, not by
    * assumption: nanos are read as a raw long (legacy conf) and truncated
    * to microseconds (floor for the positive epochs here, matching
    * DuckDB's ns flooring); NTZ micros reinterpret as session-TZ
    * timestamps — an identity on the wall clock because every entrypoint
    * pins spark.sql.session.timeZone=UTC, which is also how DuckDB reads
    * the same file. Downstream code always sees a plain TimestampType. */
  private def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val raw = read(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Fan a coarse scan out to the session's parallelism before CPU-heavy
    * per-row work. A single-row-group parquet file is unsplittable, so a
    * small fixture scan otherwise pins all downstream compute to ONE core.
    * No-op when the source already has enough splits — at 100 TB a table has
    * thousands of row groups and this adds no shuffle.
    *
    * `keys`: optional hash-partitioning expressions for the fan-out
    * exchange (guide §2.4 — two operations keyed the same way share one
    * exchange). When the downstream pipeline groups or joins on `keys`,
    * hash-partitioning here lets EnsureRequirements reuse THIS exchange
    * (HashPartitioning(keys ⊆ groupKeys) satisfies ClusteredDistribution),
    * so the later groupBy/join inserts no second shuffle — and a keyed
    * repartition also skips round-robin's sort-before-repartition pass.
    * Callers pass a key only where the downstream keying matches AND the
    * result is partition-layout-independent (exact/integer/DECIMAL
    * aggregates, min/max, distinct) — never ahead of order-sensitive
    * double folds. When fanOut no-ops (any real multi-split source), keyed
    * and keyless behave identically, so nothing changes at scale.
    *
    * The split-count probe (`df.rdd.getNumPartitions`) constructs a whole
    * throwaway QueryExecution, and fanOut wraps nearly every ext query —
    * so the probe result is memoized per (session, canonicalized plan):
    * repeated calls on the same frame (e.g. one per Lloyd round) plan the
    * probe once. */
  private val fanOutProbes =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan), Integer]()

  def fanOut(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val key = (df.sparkSession, df.queryExecution.logical.canonicalized)
    val parts = fanOutProbes.computeIfAbsent(key, _ => df.rdd.getNumPartitions)
    if (parts < target) {
      if (keys.nonEmpty) df.repartition(target, keys: _*)
      else df.repartition(target)
    } else df
  }

  def lineitem(s: SparkSession, d: String): DataFrame = read(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = read(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = read(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = read(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = read(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame = eventsRaw(s, d)
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")
}

/** Real-source readers (S1): SQLite over JDBC for the actual HA recorder DB.
  * Kept separate from the fixture path so Verify/Bench never need a driver.
  */
object Sources {
  /** JDBC reader options as data, so the assembly is testable without any
    * driver on the classpath and every engine (SQLite, Derby, Postgres…)
    * shares ONE partitioned-read path. With all three range parameters
    * present the read fans out to `numPartitions` disjoint range queries;
    * otherwise it is a single-partition scan.
    */
  def jdbcOptions(url: String, table: String,
                  partitionColumn: Option[String] = None,
                  lowerBound: Option[Double] = None,
                  upperBound: Option[Double] = None,
                  numPartitions: Int = 8): Map[String, String] = {
    val base = Map("url" -> url, "dbtable" -> table)
    (partitionColumn, lowerBound, upperBound) match {
      case (Some(c), Some(lo), Some(hi)) => base ++ Map(
        "partitionColumn" -> c,
        // Spark parses numeric JDBC bounds as Long; the recorder's
        // last_updated_ts is a REAL, so widen to the enclosing integral
        // range (bounds only steer stride computation — the generated
        // range predicates still compare against the double column)
        "lowerBound" -> math.floor(lo).toLong.toString,
        "upperBound" -> math.ceil(hi).toLong.toString,
        "numPartitions" -> numPartitions.toString)
      case _ => base
    }
  }

  /** Generic partitioned JDBC read (exercised end-to-end against embedded
    * Derby in `JdbcSourceSpec` — the sandbox has no SQLite driver jar). */
  def jdbc(spark: SparkSession, url: String, table: String,
           partitionColumn: Option[String] = None,
           lowerBound: Option[Double] = None,
           upperBound: Option[Double] = None,
           numPartitions: Int = 8): DataFrame =
    spark.read.format("jdbc")
      .options(jdbcOptions(url, table, partitionColumn, lowerBound,
        upperBound, numPartitions))
      .load()

  /** The JDBC url of a recorder database file. */
  def sqliteUrl(dbPath: String): String = s"jdbc:sqlite:$dbPath"

  /** JDBC read of one recorder table: a single-partition scan unless the
    * caller passes a partition column and both bounds. The backfill reads
    * its two fact tables through [[rangedJdbc]] instead, which finds the
    * bounds itself.
    */
  def sqliteJdbc(spark: SparkSession, dbPath: String, table: String,
                 partitionColumn: Option[String] = None,
                 lowerBound: Option[Double] = None,
                 upperBound: Option[Double] = None,
                 numPartitions: Int = 8): DataFrame =
    jdbc(spark, sqliteUrl(dbPath), table, partitionColumn, lowerBound,
      upperBound, numPartitions)

  /** A recorder fact table read range-partitioned on its time column into
    * the session's `defaultParallelism` partitions, so executors issue
    * disjoint range queries instead of one full scan (a single SQLite file
    * is otherwise an inherently serial source, SURVEY.md §7.4.5). The
    * bounds come from one pushed `SELECT MIN, MAX` ([[timeBounds]]); an
    * empty table or a NULL bound keeps the single-partition scan.
    *
    * With a watermark (epoch ms; `timeCol` then holds epoch seconds) both
    * the bounds query and the scan keep only `timeCol < (w + 1) / 1000.0`:
    * a superset of the exact `round(ts * 1000) < w` filter, which the
    * pipeline still applies in Spark, so the recorder returns only the rows
    * near or below the watermark.
    */
  def rangedJdbc(spark: SparkSession, url: String, table: String,
                 timeCol: String, watermarkMs: Option[Long]): DataFrame = {
    val below = watermarkMs.map(w => (w + 1) / 1000.0)
    val bounds = timeBounds(url, table, timeCol, below)
    val df = jdbc(spark, url, table, Some(timeCol), bounds.map(_._1),
      bounds.map(_._2), spark.sparkContext.defaultParallelism)
    below.fold(df)(b =>
      df.filter(org.apache.spark.sql.functions.col(timeCol) < b))
  }

  /** `SELECT MIN(c), MAX(c) FROM table [WHERE c < below]`, run on one
    * driver-side connection opened the way Spark's own JDBC scan opens
    * them. None when the table (or the part below the watermark) is empty.
    */
  def timeBounds(url: String, table: String, timeCol: String,
                 below: Option[Double]): Option[(Double, Double)] = {
    val dialect = JdbcDialects.get(url)
    val c = dialect.quoteIdentifier(timeCol)
    val sql = s"SELECT MIN($c), MAX($c) FROM $table" +
      below.fold("")(_ => s" WHERE $c < ?")
    val conn = dialect.createConnectionFactory(
      new JDBCOptions(url, table, Map.empty[String, String]))(-1)
    try {
      val ps = conn.prepareStatement(sql)
      below.foreach(ps.setDouble(1, _))
      val rs = ps.executeQuery()
      if (!rs.next()) None
      else {
        val lo = rs.getDouble(1)
        val loNull = rs.wasNull()
        val hi = rs.getDouble(2)
        Option.when(!loNull && !rs.wasNull())((lo, hi))
      }
    } finally conn.close()
  }

  // --- embedded-Derby recorder stand-in (core_pipeline_jdbc) -------------

  private val derbySeeded =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Seed a GENERATED on-disk recorder database from the trio frames and
    * return its jdbc url — the
    * sandbox ships no SQLite driver jar (documented, JdbcSourceSpec), so
    * the real-database roundtrip runs against embedded Derby from Spark's
    * own classpath: write the trio through Spark's JDBC writer, read it
    * back range-partitioned, and the pipeline output must hash-match the
    * parquet path bit-for-bit (every trio column is an exact type —
    * strings and integrals, no floats to drift). Identifiers are written
    * UPPERCASE so both quoted and unquoted references resolve in Derby
    * regardless of how Spark renders the partition predicate. Seeding is
    * once per (JVM × fixture dir). */
  def derbyRecorder(spark: SparkSession, dir: String,
                    states: DataFrame, meta: DataFrame,
                    attrs: DataFrame): String =
    derbySeeded.computeIfAbsent(dir, { _ =>
      // keep Derby's home (derby.log, db directories) out of the repo CWD
      val home = java.nio.file.Files
        .createTempDirectory("graft_derby").toAbsolutePath.toString
      if (System.getProperty("derby.system.home") == null)
        System.setProperty("derby.system.home", home)
      val db = s"graft_recorder_${Integer.toHexString(dir.hashCode)}"
      val url = s"jdbc:derby:$home/$db;create=true"
      def up(df: DataFrame) =
        df.select(df.columns.toSeq.map(c =>
          org.apache.spark.sql.functions.col(c).as(
            c.toUpperCase(java.util.Locale.ROOT))): _*)
      val props = new java.util.Properties()
      // Derby's dialect maps StringType to CLOB, which cannot be compared
      // with CHAR literals — so a pushed-down state/entity predicate would
      // fail server-side. VARCHAR keeps the columns comparable (and the
      // pushdown real).
      val colTypes = Map(
        "states" -> "STATE VARCHAR(64)",
        "states_meta" -> "ENTITY_ID VARCHAR(128)",
        "state_attributes" -> "SHARED_ATTRS VARCHAR(4096)")
      Seq("states" -> states, "states_meta" -> meta,
        "state_attributes" -> attrs).foreach { case (t, df) =>
        up(df).write.mode("overwrite")
          .option("createTableColumnTypes", colTypes(t)).jdbc(url, t, props)
      }
      url
    })
}
