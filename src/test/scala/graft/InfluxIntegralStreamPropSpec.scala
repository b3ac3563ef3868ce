package graft

import graft.sources.{InfluxReadTransports, InfluxRollupRead}
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property for the STREAMING trapezoid-integral read: over
  * random sample walks, shard counts and RANDOM trigger splits, the
  * maintained per-(series, bucket) area must equal the batch
  * integralRead over the same samples at 1e-9 relative (the segment
  * fold adds the same trapezoids in a different association). The
  * trigger split is the property's point: the cross-trigger carried
  * sample must pair with a SAME-bucket successor and refuse a
  * cross-bucket one, no matter where the boundaries fall. */
class InfluxIntegralStreamPropSpec extends AnyFunSuite {
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

  private def close(a: Map[(String, Long), Double],
                    b: Map[(String, Long), Double]): Boolean =
    a.keySet == b.keySet && a.forall { case (k, v) =>
      math.abs(v - b(k)) <= 1e-9 * math.max(1.0, math.abs(b(k)))
    }

  private def run(samples: Seq[S], cuts: Seq[Long], parts: Int,
                  offsetMs: Long = 0L): Boolean = {
    FakeInflux.reads = Some(_ => csvOf(samples))
    @volatile var now = cuts.head
    InfluxReadTransports.clockOverride = Some(() => now)
    try {
      val opts = InfluxRollupRead.integralOptions(hour, Map(
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
      val name = s"sv_integral_prop_${System.nanoTime()}"
      val q = graft.streaming.StreamingEvents
        .influxIntegralStream(partials, spec)
        .toDF().writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        cuts.foreach { c => now = c; q.processAllAvailable() }
      } finally q.stop()
      val streamed = spark.table(name)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getLong(3)))
        .groupBy(r => (r._1, r._2)).map { case (k, rs) =>
          k -> rs.maxBy(_._4)._3
        }
      val batch = InfluxRollupRead.integralRead(spark, opts)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      spark.sql(s"DROP TABLE IF EXISTS $name")
      close(streamed.toMap, batch)
    } finally {
      FakeInflux.reads = None
      InfluxReadTransports.clockOverride = None
    }
  }

  test("maintained stitched integral ≡ batch integralRead for random " +
    "walks, shards and trigger splits (property)") {
    val gen = for {
      ss <- samplesGen
      cuts <- cutsGen
      parts <- Gen.chooseNum(1, 2)
    } yield (ss, cuts, parts)
    val prop = Prop.forAllNoShrink(gen) { case (ss, cuts, parts) =>
      run(ss, cuts, parts)
    }
    PropCheck.check(prop, minSuccessful = 12, tag = "InfluxIntegralStreamPropSpec#1")
  }

  test("shifted bucket grids (rollup.offsetMs): the carried sample's " +
    "bucket, the stitch gate and eviction all run on the SPEC's grid — " +
    "maintained integral ≡ batch integralRead (property)") {
    val gen = for {
      ss <- samplesGen
      cuts <- cutsGen
      parts <- Gen.chooseNum(1, 2)
      off <- Gen.oneOf(300000L, 1800000L, 2700000L)
    } yield (ss, cuts, parts, off)
    val prop = Prop.forAllNoShrink(gen) { case (ss, cuts, parts, off) =>
      run(ss, cuts, parts, off)
    }
    PropCheck.check(prop, minSuccessful = 12, tag = "InfluxIntegralStreamPropSpec#2")
  }

  test("a mismatched boundary pair (partial/lying server) folds as a " +
    "boundaryless segment: area kept, stitch skipped, no task crash") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val opts = InfluxRollupRead.integralOptions(hour,
      Map("rollup.startMs" -> t0.toString))
    val spec = InfluxRollupRead.fromOptions(
      scala.jdk.CollectionConverters.MapHasAsJava(opts).asJava).get
    val source = MemoryStream[(Long, Option[Double], Option[Long],
      Option[Double], Option[Long], Option[Double])]
    val partials = source.toDF().toDF("bucket_start_ms", "integral",
      "first_num_time", "first_num_value", "last_num_time", "last_num_value")
    val name = s"sv_integral_mixed_${System.nanoTime()}"
    val q = graft.streaming.StreamingEvents
      .influxIntegralStream(partials, spec)
      .toDF().writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // trigger 1: a full numeric segment in bucket t0 ending (15 @ +2min)
      source.addData((t0, Some(5.0e6), Some(t0 + 60000L), Some(10.0),
        Some(t0 + 120000L), Some(15.0)))
      q.processAllAvailable()
      // trigger 2: a half-filled boundary pair (boundaryless by the
      // four-slot contract) plus a later SAME-bucket full segment whose
      // stitch must pair with trigger 1's carried sample: trapezoid
      // (15 + 20)/2 · 60000 = 1.05e6
      source.addData(
        (t0, Some(2.0e6), Some(t0 + 150000L), None, None, Some(99.0)),
        (t0, Some(1.0e6), Some(t0 + 180000L), Some(20.0),
          Some(t0 + 240000L), Some(21.0)))
      q.processAllAvailable()
      val rows = spark.table(name)
        .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
      val finalPerBucket = rows.groupBy(_._1).map { case (b, rs) =>
        b -> rs.maxBy(_._3)._2
      }
      assert(finalPerBucket ==
        Map(t0 -> (5.0e6 + 2.0e6 + 1.0e6 + 1.05e6)))
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $name")
    }
  }
}
