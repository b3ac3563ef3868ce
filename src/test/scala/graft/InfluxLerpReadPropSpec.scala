package graft

import graft.sources.InfluxRollupRead
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property for the pushed linear-interpolation panel: over
  * random sample walks (numeric + string), shard counts, shifted bucket
  * grids and stop extensions, lerpRead must equal the sequential bracket
  * model BIT-EXACTLY — model and fill run the identical IEEE op sequence
  * `pv + (nv-pv)·((t-pt)/(nt-pt))`, and the boundary-slot merge moves no
  * doubles through order-sensitive sums, so no tolerance is needed (the
  * values are dyadic k/4 besides). The shard count is the property's
  * point: range shards cut buckets mid-flight and min_by/max_by must
  * reassemble the exact boundary slots. */
class InfluxLerpReadPropSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L
  private val hour = 3600000L
  private val span = 4 * hour

  import InfluxCsvFixture.{S, csvOf}

  // random walks: unique (entity, ms) so first/last-of-bucket are a
  // total order; ~1/6 string samples the interpolation must not see
  private val samplesGen: Gen[List[S]] = for {
    n <- Gen.chooseNum(0, 28)
    raw <- Gen.listOfN(n, for {
      ent <- Gen.oneOf("a", "b")
      slot <- Gen.chooseNum(0L, 47L)
      v <- Gen.frequency(
        5 -> Gen.chooseNum(-200, 400).map(x => Some(x / 4.0)),
        1 -> Gen.const(None))
    } yield S(Some(ent), t0 + slot * 300000L, v))
  } yield raw.groupBy(s => (s.entity, s.ms)).map(_._2.head).toList

  /** The sequential reference (the InfluxLerpReadSpec model, generalized):
    * ticks from the first numeric-occupied bucket's start through the
    * last's, extended to the stop tick when given; back-fill before the
    * first sample, carry after the last, exact hit on a sample, bracket
    * interpolation elsewhere — numeric samples only. */
  private def model(ss: Seq[S], everyMs: Long, offsetMs: Long,
                    stopMs: Option[Long]): Map[(String, Long), Double] = {
    def bucket(ms: Long) =
      Math.floorDiv(ms - offsetMs, everyMs) * everyMs + offsetMs
    ss.collect { case S(Some(e), ms, Some(v)) => (e, ms, v) }
      .groupBy(_._1).flatMap { case (e, es0) =>
        val es = es0.sortBy(_._2)
        val first = bucket(es.head._2)
        val selfLast = bucket(es.last._2)
        val last = stopMs.fold(selfLast)(s =>
          math.max(selfLast, s - Math.floorMod(s - first, everyMs)))
        (first to last by everyMs).map { tick =>
          val v =
            if (tick <= es.head._2) es.head._3
            else if (tick >= es.last._2) es.last._3
            else {
              val (_, pt, pv) = es.filter(_._2 <= tick).last
              val (_, nt, nv) = es.find(_._2 > tick).get
              pv + (nv - pv) * ((tick - pt).toDouble / (nt - pt).toDouble)
            }
          (e, tick) -> v
        }
      }
  }

  private def run(samples: Seq[S], parts: Int, offsetMs: Long,
                  stopMs: Option[Long]): Boolean = {
    FakeInflux.reads = Some(_ => csvOf(samples))
    try {
      val opts = InfluxRollupRead.lerpOptions(hour, Map(
        "bucket" -> "bkt", "readPartitions" -> parts.toString,
        "rollup.group" -> "tag:entity_id",
        "rollup.measurement" -> "ha_states",
        "rollup.startMs" -> t0.toString,
        "rollup.stopMs" -> (t0 + span).toString), offsetMs)
      val got = InfluxRollupRead.lerpRead(spark, opts, stopMs)
        .collect().map(r =>
          (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      got == model(samples, hour, offsetMs, stopMs)
    } finally {
      FakeInflux.reads = None
    }
  }

  test("pushed lerp panel ≡ the sequential bracket model bit-exactly " +
    "for random walks, shards, shifted grids and stop extensions " +
    "(property)") {
    val gen = for {
      ss <- samplesGen
      parts <- Gen.chooseNum(1, 4)
      off <- Gen.oneOf(0L, 300000L, 1800000L, 2700000L)
      stop <- Gen.oneOf(Gen.const(Option.empty[Long]),
        Gen.chooseNum(0L, span).map(d => Some(t0 + d)))
    } yield (ss, parts, off, stop)
    val prop = Prop.forAllNoShrink(gen) { case (ss, parts, off, stop) =>
      run(ss, parts, off, stop)
    }
    PropCheck.check(prop, minSuccessful = 40, tag = "InfluxLerpReadPropSpec#1")
  }
}
