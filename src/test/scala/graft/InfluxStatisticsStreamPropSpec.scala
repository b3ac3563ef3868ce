package graft

import graft.sources.{InfluxReadTransports, InfluxRollupRead}
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property for the STREAMING HA long-term-statistics read:
  * over random sample walks, shard counts and RANDOM trigger splits, the
  * maintained per-(series, bucket) (covered_ms, twa, min, max) must
  * equal the batch statisticsRead over the same samples — covered_ms
  * and min/max exact (integer coverage; double min/max is exactly
  * associative), twa at 1e-9 relative (the hold fold adds the same
  * value·ms rectangles in a different association). The trigger split
  * exercises the carried-sample hold open across batches AND the min/max
  * fold across partial segments of one bucket. */
class InfluxStatisticsStreamPropSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L
  private val hour = 3600000L
  private val span = 3 * hour

  import InfluxCsvFixture.{S, csvOf}

  private val samplesGen: Gen[List[S]] = for {
    n <- Gen.chooseNum(0, 24)
    raw <- Gen.listOfN(n, for {
      ent <- Gen.oneOf("a", "b")
      slot <- Gen.chooseNum(0L, 35L)
      v <- Gen.frequency(
        5 -> Gen.chooseNum(0, 400).map(x => Some(x / 4.0)),
        1 -> Gen.const(None))
    } yield S(Some(ent), t0 + slot * 300000L, v))
  } yield raw.groupBy(s => (s.entity, s.ms)).map(_._2.head).toList

  private val cutsGen: Gen[List[Long]] = for {
    k <- Gen.chooseNum(1, 3)
    cs <- Gen.listOfN(k, Gen.chooseNum(1L, span - 1))
  } yield (cs.map(t0 + _) :+ (t0 + span)).distinct.sorted

  private type Stat = (Long, Option[Double], Option[Double], Option[Double])

  private def close(a: Map[(String, Long), Stat],
                    b: Map[(String, Long), Stat]): Boolean =
    a.keySet == b.keySet && a.forall { case (k, (c, t, mn, mx)) =>
      val (bc, bt, bmn, bmx) = b(k)
      val twaOk = (t, bt) match {
        case (Some(x), Some(y)) =>
          math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
        case (None, None) => true
        case _ => false
      }
      c == bc && twaOk && mn == bmn && mx == bmx
    }

  private def run(samples: Seq[S], cuts: Seq[Long], parts: Int,
                  offsetMs: Long = 0L): Boolean = {
    FakeInflux.reads = Some(_ => csvOf(samples))
    @volatile var now = cuts.head
    InfluxReadTransports.clockOverride = Some(() => now)
    try {
      val opts = InfluxRollupRead.statisticsOptions(hour, Map(
        "bucket" -> "bkt", "readPartitions" -> parts.toString,
        "rollup.group" -> "tag:entity_id",
        "rollup.measurement" -> "ha_states",
        "rollup.startMs" -> t0.toString,
        "rollup.stopMs" -> (t0 + span).toString), offsetMs)
      val spec = InfluxRollupRead.fromOptions(
        scala.jdk.CollectionConverters.MapHasAsJava(opts).asJava).get
      val partials = opts.foldLeft(spark.readStream.format("influx")) {
        case (r, (k, v)) => r.option(k, v)
      }.load()
      val name = s"sv_stat_prop_${System.nanoTime()}"
      val q = graft.streaming.StreamingEvents
        .influxStatisticsStream(partials, spec)
        .toDF().writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        cuts.foreach { c => now = c; q.processAllAvailable() }
      } finally q.stop()
      def opt(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
        if (r.isNullAt(i)) None else Some(r.getDouble(i))
      val streamed = spark.table(name)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          opt(r, 3), opt(r, 4), opt(r, 5), r.getLong(6)))
        .groupBy(r => (r._1, r._2)).map { case (k, rs) =>
          val last = rs.maxBy(_._7)
          k -> ((last._3, last._4, last._5, last._6))
        }
      val batch = InfluxRollupRead.statisticsRead(spark, opts)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), opt(r, 3), opt(r, 4), opt(r, 5))))
        .toMap
      spark.sql(s"DROP TABLE IF EXISTS $name")
      close(streamed.toMap, batch)
    } finally {
      FakeInflux.reads = None
      InfluxReadTransports.clockOverride = None
    }
  }

  test("maintained (covered_ms, twa, min, max) ≡ batch statisticsRead " +
    "for random walks, shards and trigger splits (property)") {
    val gen = for {
      ss <- samplesGen
      cuts <- cutsGen
      parts <- Gen.chooseNum(1, 2)
    } yield (ss, cuts, parts)
    val prop = Prop.forAllNoShrink(gen) { case (ss, cuts, parts) =>
      run(ss, cuts, parts)
    }
    PropCheck.check(prop, minSuccessful = 12, tag = "InfluxStatisticsStreamPropSpec#1")
  }

  test("shifted bucket grids (rollup.offsetMs): the statistics fold runs " +
    "on the SPEC's grid — maintained ≡ batch statisticsRead (property)") {
    val gen = for {
      ss <- samplesGen
      cuts <- cutsGen
      parts <- Gen.chooseNum(1, 2)
      off <- Gen.oneOf(300000L, 1800000L, 2700000L)
    } yield (ss, cuts, parts, off)
    val prop = Prop.forAllNoShrink(gen) { case (ss, cuts, parts, off) =>
      run(ss, cuts, parts, off)
    }
    PropCheck.check(prop, minSuccessful = 12, tag = "InfluxStatisticsStreamPropSpec#2")
  }
}
