package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.nio.file.Files

/** T1/T2 streaming load: micro-batched points → Influx line protocol via
  * the DSv2 streaming sink (`writeStream.format("influx")`), with
  * checkpointed offsets. */
class StreamingSinkSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  test("streaming points drain to the sink per micro-batch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val source = MemoryStream[(String, Map[String, String], Map[String, Double],
      Map[String, String], Long)]
    val points = source.toDF()
      .toDF("measurement", "tags", "fields_num", "fields_str", "time_ms")
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    FakeInflux.writes = Some(RecordingWriter)
    RecordingWriter.drain() // reset shared recorder
    val q = points.writeStream.format("influx")
      .option("url", "http://unused").option("token", "t")
      .option("batchSize", "100")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      source.addData(("C", Map("source" -> "HA"), Map("value" -> 1.5), Map.empty[String, String], 1000L))
      q.processAllAvailable()
      source.addData(
        ("pct", Map("source" -> "HA"), Map("value" -> 2.5), Map.empty[String, String], 2000L),
        ("pct", Map("source" -> "HA"), Map.empty[String, Double], Map("state" -> "on"), 3000L))
      q.processAllAvailable()
      val lines = RecordingWriter.drain().flatten
      lines.length shouldBe 3
      lines.count(_.startsWith("C,")) shouldBe 1
      lines.count(_.startsWith("pct,")) shouldBe 2
    } finally {
      q.stop()
      FakeInflux.writes = None
    }
  }
}
