package graft

import graft.sources.InfluxReadTransports
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property for the streaming leaderboard: over random sample
  * populations (coarse group = measurement, many series, same-timestamp
  * collisions across series) and RANDOM trigger splits, the final
  * maintained top-k must equal the batch row_number filter under the
  * deterministic (value DESC, time ASC, series ASC) total order — the
  * bounded-top-k monoid must fold identically wherever the trigger
  * boundaries fall, and the (series, time) dedup must never collapse
  * distinct same-timestamp samples. */
class InfluxTopkStreamPropSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L
  private val span = 3 * 3600000L

  import InfluxCsvFixture.{S, csvOf}

  private val samplesGen: Gen[List[S]] = for {
    n <- Gen.chooseNum(0, 25)
    raw <- Gen.listOfN(n, for {
      ent <- Gen.oneOf("a", "b", "c")
      // coarse slot grid so same-timestamp collisions ACROSS series occur
      slot <- Gen.chooseNum(0L, 11L)
      v <- Gen.frequency(
        5 -> Gen.chooseNum(0, 40).map(x => Some(x / 2.0)),
        1 -> Gen.const(None))
    } yield S(Some(ent), t0 + slot * 900000L, v))
  } yield raw.groupBy(s => (s.entity, s.ms)).map(_._2.head).toList

  private val cutsGen: Gen[List[Long]] = for {
    k <- Gen.chooseNum(1, 3)
    cs <- Gen.listOfN(k, Gen.chooseNum(1L, span - 1))
  } yield (cs.map(t0 + _) :+ (t0 + span)).distinct.sorted

  private def run(samples: Seq[S], cuts: Seq[Long], k: Int): Boolean = {
    FakeInflux.reads = Some(_ => csvOf(samples))
    @volatile var now = cuts.head
    InfluxReadTransports.clockOverride = Some(() => now)
    try {
      val src = spark.readStream.format("influx")
        .option("bucket", "bkt").option("readPartitions", "2").load()
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + span)
      val name = s"sv_topk_prop_${System.nanoTime()}"
      val q = graft.streaming.StreamingEvents
        .influxTopkStream(src, col("measurement"), k = k)
        .toDF().writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        cuts.foreach { c => now = c; q.processAllAvailable() }
      } finally q.stop()
      val rows = spark.table(name).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getLong(3), r.getLong(4)))
      val streamed = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
        val last = rs.map(_._5).max
        rs.filter(_._5 == last)
      }.map(r => (r._1, r._2, r._3, r._4)).toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("measurement"))
        .orderBy(col("value").desc, col("time_ms").asc,
          col("tags").getItem("entity_id").asc)
      val batch = spark.read.format("influx").option("bucket", "bkt").load()
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + span &&
          col("value").isNotNull)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= k)
        .select(col("measurement"), col("time_ms"), col("value"), col("rn"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSet
      spark.sql(s"DROP TABLE IF EXISTS $name")
      streamed == batch
    } finally {
      FakeInflux.reads = None
      InfluxReadTransports.clockOverride = None
    }
  }

  test("final maintained board ≡ batch row_number under the (value, time, " +
    "series) order for random populations, k and trigger splits (property)") {
    val gen = for {
      ss <- samplesGen
      cuts <- cutsGen
      k <- Gen.chooseNum(1, 6)
    } yield (ss, cuts, k)
    val prop = Prop.forAllNoShrink(gen) { case (ss, cuts, k) => run(ss, cuts, k) }
    PropCheck.check(prop, minSuccessful = 12, tag = "InfluxTopkStreamPropSpec#1")
  }

  // === regex-narrowed populations (r13): the grouped-TopN pull composes
  // with the LIKE-family tag narrowing — the TopN gate and the regex gate
  // share ONE recognizer, property-pinned end-to-end here ===

  private val entPool =
    Seq("sensor.temp", "sensor.hum", "sensor2", "switch.door", "sw.x", "a_b")
  private val patPool =
    Seq("sensor.%", "%o%", "s_nsor.%", "%r", "sw%", "%.%", "a_%")

  private val regexSamplesGen: Gen[List[S]] = for {
    n <- Gen.chooseNum(0, 25)
    raw <- Gen.listOfN(n, for {
      ent <- Gen.oneOf(entPool)
      slot <- Gen.chooseNum(0L, 11L)
      v <- Gen.frequency(
        5 -> Gen.chooseNum(0, 40).map(x => Some(x / 2.0)),
        1 -> Gen.const(None))
    } yield S(Some(ent), t0 + slot * 900000L, v))
  } yield raw.groupBy(s => (s.entity, s.ms)).map(_._2.head).toList

  private def runRegex(samples: Seq[S], cuts: Seq[Long], k: Int,
                       pat: String): Boolean = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    FakeInflux.reads =
      Some { f => seen.add(f); csvOf(samples) }
    @volatile var now = cuts.head
    InfluxReadTransports.clockOverride = Some(() => now)
    try {
      val (gk, gv) = graft.sources.InfluxTable
        .groupTopN(k, desc = true, Seq("measurement"))
      val (rk, rv) = graft.sources.InfluxTable.tagLike("entity_id" -> pat)
      val like = col("tags").getItem("entity_id").like(pat)
      val src = spark.readStream.format("influx")
        .option("bucket", "bkt").option("readPartitions", "2")
        .option(gk, gv).option(rk, rv).load()
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + span && like)
      val name = s"sv_topk_re_prop_${System.nanoTime()}"
      val q = graft.streaming.StreamingEvents
        .influxTopkStream(src, col("measurement"), k = k)
        .toDF().writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        cuts.foreach { c => now = c; q.processAllAvailable() }
      } finally q.stop()
      val rows = spark.table(name).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getLong(3), r.getLong(4)))
      val streamed = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
        val last = rs.map(_._5).max
        rs.filter(_._5 == last)
      }.map(r => (r._1, r._2, r._3, r._4)).toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("measurement"))
        .orderBy(col("value").desc, col("time_ms").asc,
          col("tags").getItem("entity_id").asc)
      val batch = spark.read.format("influx").option("bucket", "bkt").load()
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + span &&
          col("value").isNotNull && like)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= k)
        .select(col("measurement"), col("time_ms"), col("value"), col("rn"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSet
      spark.sql(s"DROP TABLE IF EXISTS $name")
      // every trigger's pull is narrowed AND top-k'd server-side: both the
      // numeric top() branch and the nonnum pad branch carry the =~ stage
      val fluxes =
        Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      val narrowed = fluxes.nonEmpty && fluxes.forall(_.contains("=~ /")) &&
        fluxes.exists(_.contains("top(n:"))
      streamed == batch && narrowed
    } finally {
      FakeInflux.reads = None
      InfluxReadTransports.clockOverride = None
    }
  }

  test("regex-narrowed grouped-TopN stream ≡ batch row_number over the " +
    "LIKE-filtered population, every pull carrying =~ AND top(n:) — for " +
    "random populations, patterns, k and trigger splits (property)") {
    val gen = for {
      ss <- regexSamplesGen
      cuts <- cutsGen
      k <- Gen.chooseNum(1, 6)
      pat <- Gen.oneOf(patPool)
    } yield (ss, cuts, k, pat)
    val prop = Prop.forAllNoShrink(gen) { case (ss, cuts, k, pat) =>
      runRegex(ss, cuts, k, pat)
    }
    PropCheck.check(prop, minSuccessful = 10, tag = "InfluxTopkStreamPropSpec#2")
  }
}
