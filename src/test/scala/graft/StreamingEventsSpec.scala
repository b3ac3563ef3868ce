package graft

import graft.ext.EventsExt
import graft.streaming.StreamingEvents
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, unix_millis}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.sql.Timestamp

/** T1/T2/X6 streaming twins driven through a MemoryStream micro-batch
  * source — the real Structured Streaming runtime, not a batch stand-in. */
class StreamingEventsSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private def ts(minute: Int) = new Timestamp(1704067200000L + minute * 60000L)

  test("hourlyCounts: windowed counts over micro-batches with watermark") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val source = MemoryStream[(Long, String, Double, Timestamp)]
    val df = source.toDF().toDF("event_id", "event_type", "value", "ts")
    val query = StreamingEvents.hourlyCounts(df).writeStream
      .format("memory").queryName("hc").outputMode("complete").start()
    try {
      source.addData((1L, "click", 1.0, ts(1)), (2L, "click", 2.0, ts(50)),
        (3L, "view", 1.5, ts(70)))
      query.processAllAvailable()
      val rows = spark.table("hc").collect()
      rows.length shouldBe 2
      val click = rows.find(_.getAs[String]("event_type") == "click").get
      click.getAs[Long]("n") shouldBe 2L
      click.getAs[Double]("sum_value") shouldBe 3.0
    } finally query.stop()
  }

  test("hourlyCounts in append mode: the windows flushed across three " +
    "triggers ≡ batch hourlyWindows for every window the watermark passed") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val source = MemoryStream[(Long, String, Double, Timestamp)]
    val df = source.toDF().toDF("event_id", "event_type", "value", "ts")
    val query = StreamingEvents.hourlyCounts(df)
      .select(unix_millis(col("window.start")).as("hour_ms"),
        col("event_type"), col("n"), col("sum_value"))
      .writeStream.format("memory").queryName("hc_append")
      .outputMode("append").start()
    // hour 0 spans triggers 1 and 2; the last row moves the 2-hour
    // watermark to minute 190, past hours 0-2 but not its own hour 5
    val batches = Seq(
      Seq((1L, "click", 1.25, ts(5)), (2L, "view", 2.0, ts(50))),
      Seq((3L, "click", 0.75, ts(55)), (4L, "click", 3.0, ts(70))),
      Seq((5L, "view", 1.5, ts(150)), (6L, "click", 4.0, ts(310))))
    try {
      batches.foreach { b => source.addData(b: _*); query.processAllAvailable() }
      val got = spark.table("hc_append")
        .as[(Long, String, Long, Double)].collect().toSet
      val want = EventsExt.hourlyWindows(
          batches.flatten.toDF("event_id", "event_type", "value", "ts"))
        .as[(Long, String, Long, Double)].collect()
        .filter(_._1 < ts(130).getTime).toSet
      got shouldBe want
      want should have size 4
    } finally query.stop()
  }

  test("dedupedStream: duplicate event_ids are dropped across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val source = MemoryStream[(Long, String, Double, Timestamp)]
    val df = source.toDF().toDF("event_id", "event_type", "value", "ts")
    val query = StreamingEvents.dedupedStream(df).writeStream
      .format("memory").queryName("dd").outputMode("append").start()
    try {
      source.addData((1L, "click", 1.0, ts(1)), (1L, "click", 1.0, ts(1)))
      query.processAllAvailable()
      source.addData((1L, "click", 1.0, ts(2)), (2L, "view", 2.0, ts(3)))
      query.processAllAvailable()
      spark.table("dd").select("event_id").as[Long].collect().sorted shouldBe
        Array(1L, 2L)
    } finally query.stop()
  }

  test("rateStream: the carried predecessor crosses two trigger " +
    "boundaries; rows are bit-equal to batch counterRate") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val source = MemoryStream[(Long, Long, Double, Timestamp)]
    val df = source.toDF().toDF("event_id", "user_id", "value", "ts")
    val query = StreamingEvents.rateStream(df).writeStream
      .format("memory").queryName("rate").outputMode("append").start()
    // user 1 resets in batch 2 against its batch-1 predecessor; user 2's
    // equal-timestamp pair emits nothing but advances the predecessor that
    // batch 3 rates against
    val batches = Seq(
      Seq((1L, 1L, 10.0, ts(0)), (2L, 2L, 5.0, ts(1)), (3L, 1L, 13.5, ts(3))),
      Seq((4L, 1L, 2.0, ts(6)), (5L, 2L, 7.0, ts(6)), (6L, 2L, 9.0, ts(6))),
      Seq((7L, 1L, 4.5, ts(10)), (8L, 2L, 9.5, ts(13))))
    try {
      batches.foreach { b => source.addData(b: _*); query.processAllAvailable() }
      val cols = Seq("event_id", "user_id", "ms", "increase", "rate_per_sec")
      val got = spark.table("rate").select(cols.map(col): _*)
        .as[(Long, Long, Long, Double, Double)].collect().toSet
      val want = EventsExt.counterRate(
          batches.flatten.toDF("event_id", "user_id", "value", "ts"))
        .select(cols.map(col): _*)
        .as[(Long, Long, Long, Double, Double)].collect().toSet
      got shouldBe want
      want.map(_._1) shouldBe Set(3L, 4L, 5L, 7L, 8L)
    } finally query.stop()
  }

  test("topkStream: the last board per type after a replayed row ≡ batch " +
    "typeRank over the distinct rows") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val source = MemoryStream[(Long, String, Double)]
    val df = source.toDF().toDF("event_id", "event_type", "value")
    val query = StreamingEvents.topkStream(df, k = 2).writeStream
      .format("memory").queryName("topk").outputMode("append").start()
    // batch 2 re-delivers event 2, already on type a's board; batch 3 ties
    // event 4's value, and the lower event_id keeps the slot
    val batches = Seq(
      Seq((1L, "a", 5.0), (2L, "a", 9.0), (3L, "b", 1.0)),
      Seq((4L, "a", 7.0), (2L, "a", 9.0), (5L, "b", 3.0)),
      Seq((6L, "a", 7.0), (7L, "b", 2.0)))
    try {
      batches.foreach { b => source.addData(b: _*); query.processAllAvailable() }
      val emitted = spark.table("topk")
        .as[(String, Long, Double, Long, Long)].collect()
      val lastN = emitted.groupBy(_._1).view.mapValues(_.map(_._5).max).toMap
      val got = emitted.filter(r => r._5 == lastN(r._1))
        .map(r => (r._1, r._2, r._3, r._4)).toSet
      val want = EventsExt.typeRank(batches.flatten.distinct
          .toDF("event_id", "event_type", "value"), k = 2)
        .as[(String, Long, Double, Long)].collect().toSet
      got shouldBe want
      want shouldBe Set(("a", 2L, 9.0, 1L), ("a", 4L, 7.0, 2L),
        ("b", 5L, 3.0, 1L), ("b", 7L, 2.0, 2L))
    } finally query.stop()
  }
}
