package graft

import java.sql.DriverManager

import graft.etl.Sources
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** S1 (real-source path): the reference reads the HA recorder database over
  * a DB connection (sqllite2influxdb.py:33-42,180). The sandbox ships no
  * SQLite JDBC driver, so the shared partitioned-read plumbing is proven
  * end-to-end against embedded Derby (on Spark's own classpath) with a
  * recorder-shaped `states` table, and the SQLite-specific piece — option
  * assembly — is checked as data.
  */
class JdbcSourceSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private val url = "jdbc:derby:memory:graft_recorder;create=true"

  private lazy val seeded: Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        """CREATE TABLE states (
          |  state_id INT PRIMARY KEY,
          |  entity_id VARCHAR(64),
          |  state VARCHAR(64),
          |  last_updated_ts DOUBLE
          |)""".stripMargin)
      val ins = conn.prepareStatement(
        "INSERT INTO states VALUES (?, ?, ?, ?)")
      (0 until 120).foreach { i =>
        ins.setInt(1, i)
        ins.setString(2, s"sensor.temp_${i % 7}")
        ins.setString(3, (15.0 + i % 10).toString)
        ins.setDouble(4, 1.7e9 + i * 60.0)
        ins.executeUpdate()
      }
      ins.close(); st.close()
    } finally conn.close()
  }

  test("option assembly: range-partitioned when all three bounds present") {
    val opts = Sources.jdbcOptions("jdbc:sqlite:/tmp/ha.db", "states",
      partitionColumn = Some("last_updated_ts"),
      lowerBound = Some(1.7e9), upperBound = Some(1.7e9 + 7200),
      numPartitions = 8)
    opts("url") shouldBe "jdbc:sqlite:/tmp/ha.db"
    opts("dbtable") shouldBe "states"
    opts("partitionColumn") shouldBe "last_updated_ts"
    opts("lowerBound") shouldBe "1700000000"
    opts("numPartitions") shouldBe "8"
  }

  test("option assembly: single-partition scan when bounds are absent") {
    val opts = Sources.jdbcOptions("jdbc:sqlite:/tmp/ha.db", "states")
    opts.keySet shouldBe Set("url", "dbtable")
  }

  test("partitioned JDBC read: disjoint range queries cover every row once") {
    seeded
    val df = Sources.jdbc(spark, url, "states",
      partitionColumn = Some("LAST_UPDATED_TS"),
      lowerBound = Some(1.7e9),
      upperBound = Some(1.7e9 + 120 * 60.0),
      numPartitions = 4)
    df.rdd.getNumPartitions shouldBe 4
    // no row lost or duplicated across the partition range predicates
    df.count() shouldBe 120
    df.select("STATE_ID").distinct().count() shouldBe 120
    // every partition got real work (bounds split the ts range evenly)
    val perPart = df.rdd.mapPartitions(it => Iterator(it.size)).collect()
    all(perPart) should be > 0
  }

  test("unpartitioned JDBC read returns the same rows serially") {
    seeded
    val df = Sources.jdbc(spark, url, "states")
    df.rdd.getNumPartitions shouldBe 1
    df.count() shouldBe 120
  }

  // --- rangedJdbc: bounds from one pushed MIN/MAX, watermark cut -------

  private val boundsUrl = "jdbc:derby:memory:graft_bounds;create=true"
  private val t0 = 1.7e9

  /** id → epoch-seconds per table; columns quoted lowercase, as SQLite
    * reports the recorder's. */
  private val boundsTables: Map[String, Seq[(Int, Double)]] = Map(
    "empty_t" -> Nil,
    "one_t" -> Seq(1 -> (t0 + 0.25)),
    "same_t" -> (1 to 50).map(_ -> (t0 + 0.5)),
    "spread_t" -> (1 to 40).map(i => i -> (t0 + i * 37.5)))

  private lazy val boundsSeeded: Unit = {
    val conn = DriverManager.getConnection(boundsUrl)
    try boundsTables.foreach { case (t, rows) =>
      val st = conn.createStatement()
      st.executeUpdate(s"""CREATE TABLE $t ("id" INT, "ts" DOUBLE)""")
      st.close()
      val ins = conn.prepareStatement(s"INSERT INTO $t VALUES (?, ?)")
      rows.foreach { case (id, ts) => ins.setInt(1, id); ins.setDouble(2, ts); ins.executeUpdate() }
      ins.close()
    } finally conn.close()
  }

  /** rangedJdbc reads exactly the rows below the watermark's superset
    * bound, each once; returns its partition count. */
  private def rangedReadsOnce(table: String, wmMs: Option[Long]): Int = {
    boundsSeeded
    val df = Sources.rangedJdbc(spark, boundsUrl, table, "ts", wmMs)
    val want = boundsTables(table).collect {
      case (id, ts) if wmMs.forall(w => ts < (w + 1) / 1000.0) => id
    }
    df.select("id").collect().map(_.getInt(0)).sorted.toSeq shouldBe want.sorted
    df.rdd.getNumPartitions
  }

  test("rangedJdbc on an empty table: no bounds, one unpartitioned scan") {
    boundsSeeded
    Sources.timeBounds(boundsUrl, "empty_t", "ts", None) shouldBe None
    rangedReadsOnce("empty_t", None) shouldBe 1
  }

  test("rangedJdbc on a single row and on equal timestamps reads each row once") {
    boundsSeeded
    Sources.timeBounds(boundsUrl, "one_t", "ts", None) shouldBe Some((t0 + 0.25, t0 + 0.25))
    rangedReadsOnce("one_t", None)
    rangedReadsOnce("same_t", None)
    rangedReadsOnce("same_t", Some(((t0 + 0.5) * 1000).toLong + 1))
  }

  test("rangedJdbc: a watermark below every row gives zero rows; a " +
    "mid-range one splits the rest over defaultParallelism partitions") {
    boundsSeeded
    val below = ((t0 - 10) * 1000).toLong
    Sources.timeBounds(boundsUrl, "spread_t", "ts", Some((below + 1) / 1000.0)) shouldBe None
    rangedReadsOnce("spread_t", Some(below)) shouldBe 1
    rangedReadsOnce("spread_t", Some(((t0 + 20 * 37.5) * 1000).toLong)) shouldBe
      spark.sparkContext.defaultParallelism
    rangedReadsOnce("spread_t", None) shouldBe spark.sparkContext.defaultParallelism
  }

  test("recorder trio Derby roundtrip: core_pipeline_jdbc ≡ the parquet " +
    "pipeline row-for-row (the query the oracle hash-gates per round)") {
    val d = "/root/testdata/sf0.001"
    val viaJdbc = SparkEntry.queries("core_pipeline_jdbc")(spark, d)
    val viaParquet = SparkEntry.queries("core_pipeline")(spark, d)
    // the JDBC read decorates fields with driver metadata — compare shape
    viaJdbc.schema.map(f => (f.name, f.dataType, f.nullable)) shouldBe
      viaParquet.schema.map(f => (f.name, f.dataType, f.nullable))
    viaJdbc.collect().map(_.toSeq).sortBy(_.mkString("|")) shouldBe
      viaParquet.collect().map(_.toSeq).sortBy(_.mkString("|"))
  }
}
