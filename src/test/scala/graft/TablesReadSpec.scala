package graft

import graft.etl.Tables
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** `Tables.read` remembers each file version's inferred schema: a cached
  * read must equal a plain `spark.read.parquet` read, start no inference
  * job on a repeat, and never serve a schema across a file rewrite or a
  * flip of an inference conf. */
class TablesReadSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"
  private val fixtures = Seq("lineitem", "orders", "customer", "supplier",
    "part", "nation", "region", "events", "documents", "embeddings")

  private def hash(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(count(lit(1)),
      sum(xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*)
        .cast(DecimalType(38, 0)))).head()
    (r.getLong(0), BigDecimal(Option(r.getDecimal(1)).getOrElse(
      java.math.BigDecimal.ZERO)))
  }

  /** Jobs started on this thread while `f` runs, counted by job group so
    * suites running in parallel on the shared context do not count. */
  private def jobsDuring[T](s: SparkSession, group: String)(f: => T): (T, Int) = {
    val sc = s.sparkContext
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try {
      val r = f
      ListenerBridge.waitUntilEmpty(sc)
      (r, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Write `df` as ONE parquet file at `target`, replacing what is there. */
  private def writeFile(df: DataFrame, target: java.nio.file.Path): Unit = {
    val tmp = Files.createTempDirectory("tables-read-w").resolve("out")
    df.coalesce(1).write.parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.createDirectories(target.getParent)
    Files.copy(part, target, StandardCopyOption.REPLACE_EXISTING)
  }

  test("every sf0.01 fixture: a cached read equals a plain read in schema " +
    "(nullability included) and content") {
    val s = TestSpark.isolated()
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    fixtures.foreach { t =>
      Tables.read(s, sf, t) // first read of this version in the session
      val cached = Tables.read(s, sf, t)
      val plain = s.read.parquet(s"$sf/$t.parquet")
      withClue(t) {
        cached.schema shouldBe plain.schema
        hash(cached) shouldBe hash(plain)
      }
    }
  }

  test("a repeat read of an unchanged file starts no Spark job") {
    val s = TestSpark.isolated()
    val dir = Files.createTempDirectory("tables-read-jobs")
    writeFile(s.range(10).toDF("x"), dir.resolve("t.parquet"))
    val (_, first) = jobsDuring(s, "tables-read-first") {
      Tables.read(s, dir.toString, "t")
    }
    first should be >= 1 // the inference job a plain read runs
    val (df, again) = jobsDuring(s, "tables-read-again") {
      Tables.read(s, dir.toString, "t")
    }
    again shouldBe 0
    df.schema shouldBe s.read.parquet(dir.resolve("t.parquet").toString).schema
  }

  test("a file rewritten at the same path with another column type reads " +
    "with the new schema") {
    val s = TestSpark.isolated()
    val dir = Files.createTempDirectory("tables-read-file")
    val f = dir.resolve("t.parquet")
    writeFile(s.range(5).select(col("id").cast(IntegerType).as("x")), f)
    Tables.read(s, dir.toString, "t").schema("x").dataType shouldBe IntegerType
    writeFile(s.range(5).select(col("id").cast(StringType).as("x")), f)
    val df = Tables.read(s, dir.toString, "t")
    df.schema("x").dataType shouldBe StringType
    df.orderBy("x").collect().map(_.getString(0)).toSeq shouldBe
      Seq("0", "1", "2", "3", "4")
  }

  test("a file rewritten inside a directory with another column type reads " +
    "with the new schema") {
    val s = TestSpark.isolated()
    val d = Files.createTempDirectory("tables-read-dir").resolve("t.parquet")
    val part = d.resolve("part-0.parquet")
    writeFile(s.range(5).select(col("id").as("x")), part)
    Tables.parquet(s, d.toString).schema("x").dataType shouldBe LongType
    writeFile(s.range(5).select(col("id").cast(DoubleType).as("x")), part)
    val df = Tables.parquet(s, d.toString)
    df.schema("x").dataType shouldBe DoubleType
    df.agg(sum("x")).head().getDouble(0) shouldBe 10.0
  }

  test("flipping spark.sql.parquet.binaryAsString between reads gives the " +
    "type a plain read gives") {
    // written without Spark's schema metadata, which inference would
    // otherwise prefer over the Parquet types (as in the fixtures)
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val s = TestSpark.isolated()
    val path = Files.createTempDirectory("tables-read-bin").resolve("t.parquet")
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path.toString))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "x"))
    finally w.close()
    s.conf.set("spark.sql.parquet.binaryAsString", "false")
    val dir = path.getParent.toString
    Tables.read(s, dir, "t").schema("b").dataType shouldBe BinaryType
    s.conf.set("spark.sql.parquet.binaryAsString", "true")
    val flipped = Tables.read(s, dir, "t")
    s.read.parquet(path.toString).schema("b").dataType shouldBe StringType
    flipped.schema shouldBe s.read.parquet(path.toString).schema
  }
}
