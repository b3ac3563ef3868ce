package graft

import graft.sources.{InfluxReadTransports, InfluxRollupRead}
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property for the STREAMING time-weighted-average read: over
  * random sample walks, shard counts and RANDOM trigger splits, the
  * maintained per-(series, bucket) (covered_ms, twa) must equal the batch
  * twaRead over the same samples — covered_ms integer-exact, twa at 1e-9
  * relative (the hold fold adds the same value·ms rectangles in a
  * different association). The trigger split is the property's point:
  * the cross-trigger carried sample must open the hold the batch
  * Window's lead() sees, split it across exactly the buckets it spans
  * (whole EMPTY buckets included), and never double-count with the
  * pushed within-window areas, no matter where the boundaries fall. */
class InfluxTwaStreamPropSpec extends AnyFunSuite {
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

  private def close(a: Map[(String, Long), (Long, Double)],
                    b: Map[(String, Long), (Long, Double)]): Boolean =
    a.keySet == b.keySet && a.forall { case (k, (c, v)) =>
      c == b(k)._1 &&
        math.abs(v - b(k)._2) <= 1e-9 * math.max(1.0, math.abs(b(k)._2))
    }

  private def run(samples: Seq[S], cuts: Seq[Long], parts: Int,
                  offsetMs: Long = 0L): Boolean = {
    FakeInflux.reads = Some(_ => csvOf(samples))
    @volatile var now = cuts.head
    InfluxReadTransports.clockOverride = Some(() => now)
    try {
      val opts = InfluxRollupRead.twaOptions(hour, Map(
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
      val name = s"sv_twa_prop_${System.nanoTime()}"
      val q = graft.streaming.StreamingEvents
        .influxTwaStream(partials, spec)
        .toDF().writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        cuts.foreach { c => now = c; q.processAllAvailable() }
      } finally q.stop()
      val streamed = spark.table(name)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getLong(4)))
        .groupBy(r => (r._1, r._2)).map { case (k, rs) =>
          val last = rs.maxBy(_._5)
          k -> ((last._3, last._4))
        }
      val batch = InfluxRollupRead.twaRead(spark, opts)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getDouble(3))))
        .toMap
      spark.sql(s"DROP TABLE IF EXISTS $name")
      close(streamed.toMap, batch)
    } finally {
      FakeInflux.reads = None
      InfluxReadTransports.clockOverride = None
    }
  }

  test("maintained hold-split TWA ≡ batch twaRead for random walks, " +
    "shards and trigger splits (property)") {
    val gen = for {
      ss <- samplesGen
      cuts <- cutsGen
      parts <- Gen.chooseNum(1, 2)
    } yield (ss, cuts, parts)
    val prop = Prop.forAllNoShrink(gen) { case (ss, cuts, parts) =>
      run(ss, cuts, parts)
    }
    PropCheck.check(prop, minSuccessful = 12, tag = "InfluxTwaStreamPropSpec#1")
  }

  test("shifted bucket grids (rollup.offsetMs): the carried sample's " +
    "bucket, the hold split and eviction all run on the SPEC's grid — " +
    "maintained TWA ≡ batch twaRead (property)") {
    val gen = for {
      ss <- samplesGen
      cuts <- cutsGen
      parts <- Gen.chooseNum(1, 2)
      off <- Gen.oneOf(300000L, 1800000L, 2700000L)
    } yield (ss, cuts, parts, off)
    val prop = Prop.forAllNoShrink(gen) { case (ss, cuts, parts, off) =>
      run(ss, cuts, parts, off)
    }
    PropCheck.check(prop, minSuccessful = 12, tag = "InfluxTwaStreamPropSpec#2")
  }

  test("a cross-trigger hold spanning a whole EMPTY bucket fills it; a " +
    "mismatched boundary pair (lying server) folds boundaryless — area " +
    "kept with zero coverage, chain untouched; closed buckets emit their " +
    "final row in the trigger that closes them") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val opts = InfluxRollupRead.twaOptions(hour,
      Map("rollup.startMs" -> t0.toString))
    val spec = InfluxRollupRead.fromOptions(
      scala.jdk.CollectionConverters.MapHasAsJava(opts).asJava).get
    val source = MemoryStream[(Long, Option[Double], Option[Long],
      Option[Double], Option[Long], Option[Double])]
    val partials = source.toDF().toDF("bucket_start_ms", "locf_area",
      "first_num_time", "first_num_value", "last_num_time", "last_num_value")
    val name = s"sv_twa_mixed_${System.nanoTime()}"
    val q = graft.streaming.StreamingEvents
      .influxTwaStream(partials, spec)
      .toDF().writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // trigger 1: numeric segment in bucket t0 — samples 10 @ +1min,
      // 15 @ +2min: locf_area = 10·60000, coverage [t0+1min, t0+2min)
      source.addData((t0, Some(6.0e5), Some(t0 + 60000L), Some(10.0),
        Some(t0 + 120000L), Some(15.0)))
      q.processAllAvailable()
      // trigger 2: a half-filled boundary pair (boundaryless by the
      // four-slot contract — area kept, NO coverage) plus a later
      // same-bucket numeric segment (20 @ +3min, 21 @ +4min) whose
      // arrival opens the carried hold 15·[+2min,+3min)
      source.addData(
        (t0, Some(2.0e5), Some(t0 + 150000L), None, None, Some(99.0)),
        (t0, Some(1.2e6), Some(t0 + 180000L), Some(20.0),
          Some(t0 + 240000L), Some(21.0)))
      q.processAllAvailable()
      // trigger 3: a segment two buckets later (30 @ 2h+10min,
      // 31 @ 2h+20min) — the carried hold 21·[+4min, 2h+10min) spans the
      // rest of bucket t0 (3360000 ms), ALL of empty bucket t0+1h
      // (3600000 ms) and the head of bucket t0+2h (600000 ms)
      source.addData((t0 + 2 * hour, Some(1.8e7),
        Some(t0 + 2 * hour + 600000L), Some(30.0),
        Some(t0 + 2 * hour + 1200000L), Some(31.0)))
      q.processAllAvailable()
      val rows = spark.table(name)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getLong(4)))
      val finalPerBucket = rows.groupBy(_._1).map { case (b, rs) =>
        val last = rs.maxBy(_._4)
        b -> ((last._2, last._3))
      }
      val num0 = 6.0e5 + 2.0e5 + 1.2e6 + 15.0 * 60000 + 21.0 * 3360000
      val cov0 = 60000L + 60000L + 60000L + 3360000L
      val num2 = 1.8e7 + 21.0 * 600000
      val cov2 = 600000L + 600000L
      assert(finalPerBucket == Map(
        t0 -> ((cov0, num0 / cov0)),
        (t0 + hour) -> ((3600000L, 21.0)),
        (t0 + 2 * hour) -> ((cov2, num2 / cov2))))
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $name")
    }
  }
}
