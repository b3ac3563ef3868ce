package graft

import graft.sources.{InfluxReadTransports, InfluxRollupRead}
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property for the STREAMING counter-statistics read: over
  * random reset-bearing counter walks, shard counts, offset grids and
  * RANDOM trigger splits, the maintained per-(series, bucket)
  * (state, increase, sum_total) must equal the batch
  * counterStatisticsRead over the same samples at 1e-9 relative. The
  * trigger split is the property's point: the cross-trigger stitch, the
  * per-bucket last-reading slot, AND the evicted-bucket cumBase fold must
  * together replay the batch cumulative window no matter where the
  * boundaries fall — an eviction that dropped an open bucket's increase
  * (or double-counted one) would shift every later sum_total. */
class InfluxCounterStatStreamPropSpec extends AnyFunSuite {
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

  private type Row3 = (Option[Double], Double, Double)

  private def close(a: Map[(String, Long), Row3],
                    b: Map[(String, Long), Row3]): Boolean = {
    def eq(x: Double, y: Double): Boolean =
      math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
    a.keySet == b.keySet && a.forall { case (k, (st, inc, sum)) =>
      val (bst, binc, bsum) = b(k)
      ((st, bst) match {
        case (Some(x), Some(y)) => eq(x, y)
        case (None, None) => true
        case _ => false
      }) && eq(inc, binc) && eq(sum, bsum)
    }
  }

  private def run(samples: Seq[S], cuts: Seq[Long], parts: Int,
                  offsetMs: Long = 0L): Boolean = {
    FakeInflux.reads = Some(_ => csvOf(samples))
    @volatile var now = cuts.head
    InfluxReadTransports.clockOverride = Some(() => now)
    try {
      val opts = InfluxRollupRead.counterStatisticsOptions(hour, Map(
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
      val name = s"sv_cstat_prop_${System.nanoTime()}"
      val q = graft.streaming.StreamingEvents
        .influxCounterStatStream(partials, spec)
        .toDF().writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        cuts.foreach { c => now = c; q.processAllAvailable() }
      } finally q.stop()
      val streamed = spark.table(name)
        .collect().map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          r.getDouble(3), r.getDouble(4), r.getLong(5)))
        .groupBy(r => (r._1, r._2)).map { case (k, rs) =>
          val w = rs.maxBy(_._6); k -> ((w._3, w._4, w._5))
        }
      val batch = InfluxRollupRead.counterStatisticsRead(spark, opts)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((if (r.isNullAt(2)) None else Some(r.getDouble(2)),
            r.getDouble(3), r.getDouble(4))))
        .toMap
      spark.sql(s"DROP TABLE IF EXISTS $name")
      close(streamed.toMap, batch)
    } finally {
      FakeInflux.reads = None
      InfluxReadTransports.clockOverride = None
    }
  }

  test("maintained counter statistics ≡ batch counterStatisticsRead for " +
    "random walks, shards and trigger splits (property)") {
    val gen = for {
      ss <- samplesGen
      cuts <- cutsGen
      parts <- Gen.chooseNum(1, 2)
    } yield (ss, cuts, parts)
    val prop = Prop.forAllNoShrink(gen) { case (ss, cuts, parts) =>
      run(ss, cuts, parts)
    }
    PropCheck.check(prop, minSuccessful = 12, tag = "InfluxCounterStatStreamPropSpec#1")
  }

  test("shifted bucket grids (rollup.offsetMs): eviction horizon, stitch, " +
    "state slot and cumBase all run on the SPEC's grid (property)") {
    val gen = for {
      ss <- samplesGen
      cuts <- cutsGen
      parts <- Gen.chooseNum(1, 2)
      off <- Gen.oneOf(300000L, 1800000L, 2700000L)
    } yield (ss, cuts, parts, off)
    val prop = Prop.forAllNoShrink(gen) { case (ss, cuts, parts, off) =>
      run(ss, cuts, parts, off)
    }
    PropCheck.check(prop, minSuccessful = 12, tag = "InfluxCounterStatStreamPropSpec#2")
  }

  test("a mismatched boundary pair (partial/lying server) folds as a " +
    "boundaryless segment: increase kept in the running total, state " +
    "left NULL, stitch skipped, no task crash") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val opts = InfluxRollupRead.counterStatisticsOptions(hour,
      Map("rollup.startMs" -> t0.toString))
    val spec = InfluxRollupRead.fromOptions(
      scala.jdk.CollectionConverters.MapHasAsJava(opts).asJava).get
    val source = MemoryStream[(Long, Option[Double], Option[Long],
      Option[Double], Option[Long], Option[Double])]
    val partials = source.toDF().toDF("bucket_start_ms", "increase",
      "first_num_time", "first_num_value", "last_num_time", "last_num_value")
    val name = s"sv_cstat_mixed_${System.nanoTime()}"
    val q = graft.streaming.StreamingEvents
      .influxCounterStatStream(partials, spec)
      .toDF().writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // trigger 1: a full numeric segment in bucket t0
      source.addData((t0, Some(5.0), Some(t0 + 60000L), Some(10.0),
        Some(t0 + 120000L), Some(15.0)))
      q.processAllAvailable()
      // trigger 2: a HALF-filled boundary pair (boundaryless by the
      // numericSeg contract) plus a later full segment whose stitch must
      // pair with trigger 1's carried sample, NOT the broken row
      source.addData(
        (t0, Some(2.0), Some(t0 + 180000L), None, None, Some(99.0)),
        (t0 + hour, Some(1.0), Some(t0 + hour + 60000L), Some(20.0),
          Some(t0 + hour + 120000L), Some(21.0)))
      q.processAllAvailable()
      val rows = spark.table(name)
        .collect().map(r => (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          r.getDouble(3), r.getDouble(4), r.getLong(5)))
      val finalPerBucket = rows.groupBy(_._1).map { case (b, rs) =>
        val w = rs.maxBy(_._5); b -> ((w._2, w._3, w._4))
      }
      // t0: inc 5 + broken 2 = 7, state = trigger 1's 15 (the broken row
      // carries no usable reading), cum 7; t0+hour: inc 1 + stitch
      // (20 - 15) = 6, state 21, cum 13
      assert(finalPerBucket == Map(
        t0 -> ((Some(15.0), 7.0, 7.0)),
        (t0 + hour) -> ((Some(21.0), 6.0, 13.0))))
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $name")
    }
  }
}
