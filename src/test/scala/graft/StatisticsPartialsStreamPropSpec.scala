package graft

import graft.ext.EventsExt
import graft.streaming.StreamingEvents
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property: the LIVE statistics-partials maintenance
  * (statisticsPartialsStream) ≡ batch statisticsPartialsHourly for random
  * event streams under random trigger splits — the hold that a trigger
  * boundary cuts must land bit-identically when its closing sample
  * arrives in a later batch, equal-timestamp duplicates must dedup by
  * max value wherever the boundary falls, and min/max must fold every
  * raw (pre-dedup) arrival. Every slot is a BIGINT sum or an exact
  * extreme, so equality is EXACT — and the compacted coarse rows off the
  * maintained table must equal statisticsHourly at the coarse step. */
class StatisticsPartialsStreamPropSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L
  private val hour = 3600000L

  private val genCase
      : Gen[(List[(Long, String, Long, Option[Double])], Int, Int, Long)] =
    for {
      n <- Gen.chooseNum(0, 40)
      rows <- Gen.listOfN(n, for {
        et <- Gen.oneOf("a", "b")
        // a coarse minute grid over 7 hours: same-ms collisions, empty
        // gap buckets and multi-bucket holds all occur
        ms <- Gen.chooseNum(0L, 83L).map(t0 + _ * 300000L)
        // ~1 in 9 samples is NULL-valued: both twins must share ONE null
        // posture (value-not-null) — a null sample must neither close a
        // hold nor enter min/max in EITHER engine
        v <- Gen.frequency(
          8 -> Gen.chooseNum(-200, 400).map(x => Option(x / 4.0)),
          1 -> Gen.const(Option.empty[Double]))
      } yield (et, ms, v))
      cut1 <- Gen.chooseNum(0, n)
      cut2 <- Gen.chooseNum(0, n)
      // hourly, and the 30- and 15-minute grids the half- and
      // quarter-hour zones' calendar tiers read
      stepMs <- Gen.oneOf(3600000L, 1800000L, 900000L)
    } yield (rows.zipWithIndex.map { case ((et, ms, v), i) =>
      (i.toLong + 1, et, ms, v)
    }, math.min(cut1, cut2), math.max(cut1, cut2), stepMs)

  private type Key = (String, Long)
  private type Slot = (Long, Long, Option[Double], Option[Double])

  private def batchPartials(
      rows: Seq[(Long, String, Long, Option[Double])],
      stepMs: Long): Map[Key, Slot] = {
    import spark.implicits._
    if (rows.isEmpty) return Map.empty
    EventsExt.statisticsPartialsHourly(
        rows.toDF("event_id", "event_type", "ms", "value")
          .selectExpr("event_id", "event_type", "value",
            "timestamp_millis(ms) AS ts"), stepMs)
      .collect().map { r =>
        (r.getString(0), r.getLong(1)) ->
          ((if (r.isNullAt(2)) 0L else r.getLong(2),
            if (r.isNullAt(3)) 0L else r.getLong(3),
            if (r.isNullAt(4)) None else Some(r.getDouble(4)),
            if (r.isNullAt(5)) None else Some(r.getDouble(5))))
      }.toMap
  }

  test("statisticsPartialsStream ≡ batch statisticsPartialsHourly under " +
    "random streams and trigger splits, EXACT (property); compacting the " +
    "maintained table ≡ statisticsHourly at the coarse step") {
    val prop = Prop.forAllNoShrink(genCase) { case (rows0, c1, c2, stepMs) =>
      import spark.implicits._
      implicit val ctx = spark.sqlContext
      // in-order arrival (the family contract): global (ms, event_id) sort
      val rows = rows0.sortBy(r => (r._3, r._1))
      val source = MemoryStream[(Long, String, Long, Option[Double])]
      val df = source.toDF().toDF("event_id", "event_type", "ms", "value")
        .selectExpr("event_id", "event_type", "value",
          "timestamp_millis(ms) AS ts")
      val name = s"statp_${System.nanoTime()}"
      val q = StreamingEvents.statisticsPartialsStream(df, stepMs).toDF()
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      val got: Map[Key, Slot] = try {
        Seq(rows.slice(0, c1), rows.slice(c1, c2), rows.slice(c2, rows.length))
          .foreach { b =>
            if (b.nonEmpty) source.addData(b: _*)
            q.processAllAvailable()
          }
        spark.table(name)
          .collect().map { r =>
            (r.getString(0), r.getLong(1)) ->
              ((r.getLong(2), r.getLong(3),
                if (r.isNullAt(4)) None else Some(r.getDouble(4)),
                if (r.isNullAt(5)) None else Some(r.getDouble(5)),
                r.getLong(6)))
          }.groupBy(_._1).map { case (k, rs) =>
            val w = rs.maxBy(_._2._5)._2
            k -> ((w._1, w._2, w._3, w._4))
          }
      } finally q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $name")
      val want = batchPartials(rows, stepMs)
      val msg = s"stat partials mismatch\n  got= ${got.toSeq.sortBy(_._1)}\n" +
        s"  want=${want.toSeq.sortBy(_._1)}"
      Prop.propBoolean(got == want) :| msg
    }
    PropCheck.check(prop, minSuccessful = 15, tag = "StatisticsPartialsStreamPropSpec#1")
  }

  test("compaction off the MAINTAINED table: stream partials → " +
    "statisticsCompact ≡ statisticsHourly at the coarse step (fixed case)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rows = Seq(
      (1L, "a", t0, 10.0), (2L, "a", t0 + 30 * 60000L, 20.0),
      (3L, "a", t0 + 90 * 60000L, 30.0), (4L, "a", t0 + 250 * 60000L, 7.5),
      (5L, "b", t0 + 15 * 60000L, 5.0))
    val source = MemoryStream[(Long, String, Long, Double)]
    val df = source.toDF().toDF("event_id", "event_type", "ms", "value")
      .selectExpr("event_id", "event_type", "value",
        "timestamp_millis(ms) AS ts")
    val name = s"statc_${System.nanoTime()}"
    val q = StreamingEvents.statisticsPartialsStream(df).toDF()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      rows.grouped(2).foreach { b =>
        source.addData(b: _*); q.processAllAvailable()
      }
    } finally q.stop()
    // final maintained table = max-n_seen row per key, 0-slots → NULL to
    // match the batch partials schema the compactor consumes
    val maintained = spark.table(name)
      .groupBy("event_type", "bucket_ms")
      .agg(org.apache.spark.sql.functions.expr("max_by(num, n_seen)").as("num0"),
        org.apache.spark.sql.functions.expr("max_by(cov, n_seen)").as("cov"),
        org.apache.spark.sql.functions.expr("max_by(mn, n_seen)").as("min_value"),
        org.apache.spark.sql.functions.expr("max_by(mx, n_seen)").as("max_value"))
      .selectExpr("event_type", "bucket_ms",
        "CASE WHEN cov > 0 THEN num0 END AS num",
        "CASE WHEN cov > 0 THEN cov END AS cov",
        "min_value", "max_value")
    val compacted = EventsExt.statisticsCompact(maintained, factor = 4)
    val events = rows.toDF("event_id", "event_type", "ms", "value")
      .selectExpr("event_id", "event_type", "value",
        "timestamp_millis(ms) AS ts")
    val direct = EventsExt.statisticsHourly(events, 4 * hour)
    def canon(df2: org.apache.spark.sql.DataFrame) =
      df2.collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((Option(r.get(2)), Option(r.get(3)), Option(r.get(4))))).toMap
    assert(canon(compacted) == canon(direct))
    spark.sql(s"DROP TABLE IF EXISTS $name")
  }
}
