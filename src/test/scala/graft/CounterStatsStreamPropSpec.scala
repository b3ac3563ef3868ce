package graft

import graft.ext.EventsExt
import graft.streaming.StreamingEvents
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property: the LIVE counter-statistics fold from raw events
  * (counterStatsStream) ≡ batch counterStatsHourly for random
  * reset-bearing streams under random trigger splits — EXACT equality:
  * the stream's integer-cents algebra mirrors the batch DECIMAL(18,2)
  * sums, the cross-trigger carried sample replays the lag chain, and
  * the evicted-bucket cumBase fold replays the cumulative window.
  * Equal-timestamp duplicates (max-value dedup, possibly split across
  * triggers) and resets inside and across buckets are all generated. */
class CounterStatsStreamPropSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L

  private val genCase
      : Gen[(List[(Long, Long, Long, Option[Double])], Int, Int, Long)] =
    for {
      n <- Gen.chooseNum(0, 40)
      rows <- Gen.listOfN(n, for {
        user <- Gen.chooseNum(1L, 3L)
        ms <- Gen.chooseNum(0L, 83L).map(t0 + _ * 300000L)
        // ~1 in 9 samples is NULL-valued: both twins share ONE null
        // posture (value-not-null) — a null reading must not null out a
        // bucket's max_by state or poison the DECIMAL delta chain
        v <- Gen.frequency(
          8 -> Gen.chooseNum(0, 400).map(x => Option(x / 4.0)),
          1 -> Gen.const(Option.empty[Double]))
      } yield (user, ms, v))
      cut1 <- Gen.chooseNum(0, n)
      cut2 <- Gen.chooseNum(0, n)
      // hourly, and the 30- and 15-minute grids the half- and
      // quarter-hour zones' calendar tiers read
      everyMs <- Gen.oneOf(3600000L, 1800000L, 900000L)
    } yield (rows.zipWithIndex.map { case ((u, ms, v), i) =>
      (i.toLong + 1, u, ms, v)
    }, math.min(cut1, cut2), math.max(cut1, cut2), everyMs)

  private type Key = (Long, Long)
  private type Row3 = (Double, Double, Double)

  test("counterStatsStream ≡ batch counterStatsHourly under random " +
    "streams and trigger splits, EXACT (property)") {
    val prop = Prop.forAllNoShrink(genCase) { case (rows0, c1, c2, everyMs) =>
      import spark.implicits._
      implicit val ctx = spark.sqlContext
      val rows = rows0.sortBy(r => (r._3, r._1))
      val source = MemoryStream[(Long, Long, Long, Option[Double])]
      val df = source.toDF().toDF("event_id", "user_id", "ms", "value")
        .selectExpr("event_id", "user_id", "value",
          "timestamp_millis(ms) AS ts")
      val name = s"cstats_${System.nanoTime()}"
      val q = StreamingEvents.counterStatsStream(df, everyMs).toDF()
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      val got: Map[Key, Row3] = try {
        Seq(rows.slice(0, c1), rows.slice(c1, c2), rows.slice(c2, rows.length))
          .foreach { b =>
            if (b.nonEmpty) source.addData(b: _*)
            q.processAllAvailable()
          }
        spark.table(name)
          .as[(Long, Long, Double, Double, Double, Long)].collect()
          .groupBy(r => (r._1, r._2)).map { case (k, rs) =>
            val w = rs.maxBy(_._6); k -> ((w._3, w._4, w._5))
          }
      } finally q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $name")
      val want: Map[Key, Row3] =
        if (rows.isEmpty) Map.empty
        else EventsExt.counterStatsHourly(
            rows.toDF("event_id", "user_id", "ms", "value")
              .selectExpr("event_id", "user_id", "value",
                "timestamp_millis(ms) AS ts"), everyMs)
          .as[(Long, Long, Double, Double, Double)].collect()
          .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
      val msg = s"counter stream mismatch\n  got= ${got.toSeq.sortBy(_._1)}\n" +
        s"  want=${want.toSeq.sortBy(_._1)}"
      Prop.propBoolean(got == want) :| msg
    }
    PropCheck.check(prop, minSuccessful = 15, tag = "CounterStatsStreamPropSpec#1")
  }
}
