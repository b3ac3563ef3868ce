package graft

import graft.ext.EventsExt
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** ScalaCheck property for the linear-interpolation resample: the
  * bucketed lerp ([[EventsExt.lerpPanel]], first/last-of-bucket samples
  * and a lead window) must equal a sequential model of the direct as-of
  * bracket — each hourly tick between the newest sample at-or-before it
  * and the oldest sample strictly after it — compared EXACTLY. The model
  * runs the query's own arithmetic (floor(v·1000) BIGINT samples, per-ms
  * max dedup, one terminal division), so an exact hit goes through the
  * lerp formula here and through the hit branch in the fill: the two are
  * the same double only because every product is an exact integer. */
class LerpPanelPropSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L
  private val hour = 3600000L

  private def model(clicks: Seq[(Long, Long, Option[Double])])
    : Map[(Long, Long), Double] =
    clicks.collect { case (u, ms, Some(v)) =>
        (u, ms, math.floor(v * 1000).toLong) }
      .groupBy(_._1).flatMap { case (u, cs) =>
        val samples = cs.groupBy(_._2).map { case (ms, xs) =>
          ms -> xs.map(_._3).max }.toSeq.sortBy(_._1)
        def tick(ms: Long) = Math.floorDiv(ms, hour) * hour
        (tick(samples.head._1) to tick(samples.last._1) by hour).map { t =>
          val prev = samples.filter(_._1 <= t).lastOption
          val next = samples.find(_._1 > t)
          val v = (prev, next) match {
            case (None, Some((_, nvm))) => nvm.toDouble / 1000.0
            case (Some((_, pvm)), None) => pvm.toDouble / 1000.0
            case (Some((pt, pvm)), Some((nt, nvm))) =>
              (pvm * (nt - t) + nvm * (t - pt)).toDouble /
                ((nt - pt) * 1000L).toDouble
            case (None, None) => sys.error("a tick with no sample")
          }
          (u, t) -> v
        }
      }

  /** The input shapes the generator must reach, named per case. */
  private def shapes(clicks: Seq[(Long, Long, Option[Double])]): Set[String] = {
    val numeric = clicks.collect { case (u, ms, Some(v)) => (u, ms, v) }
    val perUser = numeric.groupBy(_._1).values.map(_.map(_._2).distinct.sorted)
    Set(
      "on-tick" -> numeric.exists(_._2 % hour == 0),
      "equal-ms" -> numeric.groupBy(c => (c._1, c._2)).exists(_._2.size > 1),
      "3h-gap" -> perUser.exists(ms => ms.zip(ms.drop(1))
        .exists { case (a, b) => b / hour - a / hour >= 4 }),
      "single-sample" -> perUser.exists(_.size == 1),
      "negative" -> numeric.exists(_._3 < 0),
      "null" -> clicks.exists(_._3.isEmpty)
    ).collect { case (name, true) => name }
  }

  test("lerpPanel ≡ the sequential as-of bracket model exactly, over " +
    "on-tick samples, equal-ms duplicates, empty hours, single-sample " +
    "users, negative and NULL values (property)") {
    import spark.implicits._
    val value = Gen.frequency(
      3 -> Gen.chooseNum(-4000, 4000).map(x => Some(x / 8.0)),
      3 -> Gen.chooseNum(-50.0, 50.0).map(Some(_)),
      1 -> Gen.const(Option.empty[Double]))
    val click = for {
      u <- Gen.chooseNum(1L, 4L)
      ms <- Gen.frequency(
        1 -> Gen.chooseNum(0L, 11L).map(_ * hour),
        3 -> Gen.chooseNum(0L, 12 * hour - 1))
      v <- value
    } yield (u, t0 + ms, v)
    // re-emit some clicks at the same (user, ms) with a new value
    val corpus = for {
      n <- Gen.chooseNum(1, 20)
      cs <- Gen.listOfN(n, click)
      dups <- Gen.someOf(cs)
      dv <- Gen.listOfN(dups.size, value)
    } yield cs ++ dups.zip(dv).map { case ((u, ms, _), v) => (u, ms, v) }
    val seen = scala.collection.mutable.Set.empty[String]
    val prop = Prop.forAllNoShrink(corpus) { clicks =>
      seen ++= shapes(clicks)
      val events = clicks.zipWithIndex.map { case ((u, ms, v), i) =>
        (i.toLong, u, "click", v, new java.sql.Timestamp(ms))
      }.toDF("event_id", "user_id", "event_type", "value", "ts")
      val rows = EventsExt.lerpPanel(events).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      val want = model(clicks)
      Prop.propBoolean(rows.length == rows.toMap.size &&
        rows.toMap == want) :| s"got=${rows.sorted.toList} want=$want"
    }
    PropCheck.check(prop, minSuccessful = 40, tag = "LerpPanelPropSpec#1")
    seen shouldBe Set("on-tick", "equal-ms", "3h-gap", "single-sample",
      "negative", "null")
  }
}
