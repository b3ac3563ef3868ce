package graft

import graft.sources.{InfluxReadTransports, InfluxRollupRead}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property for the STREAMING counter-rate read: over random
  * reset-bearing counter walks, shard counts and RANDOM trigger splits,
  * the maintained per-(series, bucket) increase must equal the batch
  * rateRead over the same samples at 1e-9 relative (the segment fold
  * adds the same deltas in a different association). The trigger split
  * is the property's point: cross-trigger stitch state must replay the
  * batch lag chain no matter where the boundaries fall. */
class InfluxRateStreamPropSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L
  private val hour = 3600000L
  private val span = 3 * hour

  import InfluxCsvFixture.{S, csvOf}

  // counter walks: per entity, strictly increasing times on a coarse
  // grid (unique (entity, ms) so the lag chain is a total order), values
  // mixing increments and resets; occasional string samples (None) that
  // the rate must skip
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

  // 1–3 interior trigger boundaries inside the span (plus the final one)
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
      val opts = InfluxRollupRead.rateOptions(hour, Map(
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
      val name = s"sv_rate_prop_${System.nanoTime()}"
      val q = graft.streaming.StreamingEvents.influxRateStream(partials, spec)
        .toDF().writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        cuts.foreach { c => now = c; q.processAllAvailable() }
      } finally q.stop()
      val streamed = spark.table(name)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getLong(4)))
        .groupBy(r => (r._1, r._2)).map { case (k, rs) =>
          k -> rs.maxBy(_._4)._3
        }
      val batch = InfluxRollupRead.rateRead(spark, opts)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      spark.sql(s"DROP TABLE IF EXISTS $name")
      close(streamed.toMap, batch)
    } finally {
      FakeInflux.reads = None
      InfluxReadTransports.clockOverride = None
    }
  }

  test("maintained stitched rate ≡ batch rateRead for random walks, " +
    "shards and trigger splits (property)") {
    val gen = for {
      ss <- samplesGen
      cuts <- cutsGen
      parts <- Gen.chooseNum(1, 2)
    } yield (ss, cuts, parts)
    val prop = Prop.forAllNoShrink(gen) { case (ss, cuts, parts) =>
      run(ss, cuts, parts)
    }
    PropCheck.check(prop, minSuccessful = 12, tag = "InfluxRateStreamPropSpec#1")
  }

  test("a mismatched boundary pair (partial/lying server) folds as a " +
    "boundaryless segment: increase kept, stitch skipped, no task crash") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val opts = InfluxRollupRead.rateOptions(hour,
      Map("rollup.startMs" -> t0.toString))
    val spec = InfluxRollupRead.fromOptions(
      scala.jdk.CollectionConverters.MapHasAsJava(opts).asJava).get
    val source = MemoryStream[(Long, Option[Double], Option[Long],
      Option[Double], Option[Long], Option[Double])]
    val partials = source.toDF().toDF("bucket_start_ms", "increase",
      "first_num_time", "first_num_value", "last_num_time", "last_num_value")
    val name = s"sv_rate_mixed_${System.nanoTime()}"
    val q = graft.streaming.StreamingEvents.influxRateStream(partials, spec)
      .toDF().writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // trigger 1: a full numeric segment in bucket t0
      source.addData((t0, Some(5.0), Some(t0 + 60000L), Some(10.0),
        Some(t0 + 120000L), Some(15.0)))
      q.processAllAvailable()
      // trigger 2: a HALF-filled boundary pair (one slot of each pair
      // null — batch rateMerge's numericSeg treats this as boundaryless)
      // plus a later full segment whose stitch must pair with trigger
      // 1's last sample, NOT the broken row
      source.addData(
        (t0, Some(2.0), Some(t0 + 180000L), None, None, Some(99.0)),
        (t0 + hour, Some(1.0), Some(t0 + hour + 60000L), Some(20.0),
          Some(t0 + hour + 120000L), Some(21.0)))
      q.processAllAvailable()
      val rows = spark.table(name)
        .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(4)))
      val finalPerBucket = rows.groupBy(_._1).map { case (b, rs) =>
        b -> rs.maxBy(_._3)._2
      }
      // t0: 5.0 + broken row's coalesced 2.0; t0+hour: 1.0 + stitch
      // (20.0 - 15.0) — the broken row neither crashed .get nor
      // advanced the stitch chain
      assert(finalPerBucket == Map(t0 -> 7.0, (t0 + hour) -> 6.0))
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $name")
    }
  }

  test("shifted eviction horizon (fixed case): a still-open shifted " +
    "bucket survives a trigger whose last sample's EPOCH bucket starts " +
    "above the shifted bucket's start") {
    // off=30min → bucket [00:30, 01:30). Trigger 1 ends mid-bucket with
    // lastT=01:10, whose epoch-grid bucket start (01:00) is ABOVE the
    // shifted start (00:30): an epoch-grid horizon evicts the open
    // bucket, trigger 2's sample re-accumulates it from zero, and the
    // understated total (15 = stitch only) outranks the true 25 under
    // max-n_seen. The spec-grid horizon keeps it: 10 + 15 = 25 ≡ batch.
    val m = 60000L
    val samples = List(
      S(Some("a"), t0 + 40 * m, Some(10.0)),
      S(Some("a"), t0 + 70 * m, Some(20.0)),
      S(Some("a"), t0 + 80 * m, Some(35.0)))
    assert(run(samples, List(t0 + 75 * m, t0 + span), parts = 1,
      offsetMs = 1800000L))
  }

  test("shifted bucket grids (rollup.offsetMs): the stream's eviction " +
    "horizon and stitch run on the SPEC's grid — maintained rate ≡ batch " +
    "rateRead across trigger splits (property)") {
    // offsets off the trigger/bucket lattice on purpose: the epoch-grid
    // eviction bug evicted a still-open shifted bucket whenever the last
    // sample's epoch bucket start exceeded its shifted one, and the
    // re-accumulated (understated) total then won the max-n_seen
    // convention — multiple cuts make that reachable
    val gen = for {
      ss <- samplesGen
      cuts <- cutsGen
      parts <- Gen.chooseNum(1, 2)
      off <- Gen.oneOf(300000L, 1800000L, 2700000L)
    } yield (ss, cuts, parts, off)
    val prop = Prop.forAllNoShrink(gen) { case (ss, cuts, parts, off) =>
      run(ss, cuts, parts, off)
    }
    PropCheck.check(prop, minSuccessful = 12, tag = "InfluxRateStreamPropSpec#2")
  }
}
