package graft

import graft.sources.{InfluxMicroBatchStream, InfluxOffset, InfluxReadTransports}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

/** S2 streaming read: `readStream.format("influx")` as a MicroBatchStream —
  * the reference's poll loop with checkpointed epoch-ms offsets. Transport
  * and clock are both stubbed, so each trigger's range is deterministic. */
class InfluxStreamReadSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L // 2024-01-01T00:00:00Z
  private val hour = 3600000L

  // two samples, one hour apart (00:00:07 and 01:00:07)
  private val cannedCsv =
    """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,double,string,string,string
      |#group,false,false,true,true,false,false,true,true,true
      |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:00:07Z,21.5,value,ha_states,sensor.temp
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T01:00:07Z,22.5,value,ha_states,sensor.temp
      |""".stripMargin

  private def withStubs[T](clockMs: () => Long)(body: ConcurrentLinkedQueue[String] => T): T = {
    val seen = new ConcurrentLinkedQueue[String]()
    FakeInflux.reads = Some { flux => seen.add(flux); cannedCsv }
    InfluxReadTransports.clockOverride = Some(clockMs)
    try body(seen)
    finally {
      FakeInflux.reads = None
      InfluxReadTransports.clockOverride = None
    }
  }

  test("poll loop: each trigger reads [lastOffset, now) — every sample " +
    "arrives exactly once as the clock advances") {
    @volatile var now = t0 + hour // batch 1 can only see sample 1
    withStubs(() => now) { _ =>
      val q = spark.readStream.format("influx")
        .option("bucket", "bkt").option("readPartitions", "1").load()
        .select("time_ms", "value")
        .writeStream.format("memory").queryName("influx_stream")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val batch1 = spark.table("influx_stream").collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
        batch1 shouldBe Array((t0 + 7000L, 21.5))

        now = t0 + 2 * hour // sample 2 becomes visible
        q.processAllAvailable()
        val all = spark.table("influx_stream").collect()
          .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
        all shouldBe Array((t0 + 7000L, 21.5), (t0 + hour + 7000L, 22.5))
      } finally q.stop()
    }
  }

  test("a wide catch-up range splits into disjoint per-task POSTs with no " +
    "duplicate rows") {
    val now = t0 + 2 * hour
    withStubs(() => now) { seen =>
      val q = spark.readStream.format("influx")
        .option("bucket", "bkt").option("readPartitions", "3").load()
        .select("time_ms")
        .writeStream.format("memory").queryName("influx_catchup")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        // every partition gets the full canned response; the readers'
        // disjoint [start, stop) re-enforcement must keep each sample once
        spark.table("influx_catchup").collect().map(_.getLong(0)).sorted shouldBe
          Array(t0 + 7000L, t0 + hour + 7000L)
        seen.size should be >= 3 // the catch-up ran partitioned
      } finally q.stop()
    }
  }

  test("restart from checkpoint resumes at the committed offset — no " +
    "replay, no loss") {
    @volatile var now = t0 + hour
    val ckpt = Files.createTempDirectory("influx_stream_ckpt").toString
    val got = new ConcurrentLinkedQueue[(Long, Double)]()
    def start() = spark.readStream.format("influx")
      .option("bucket", "bkt").option("readPartitions", "1").load()
      .select("time_ms", "value")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => got.add((r.getLong(0), r.getDouble(1))))
      }.start()

    withStubs(() => now) { _ =>
      val q1 = start()
      try { q1.processAllAvailable() } finally q1.stop()
      got.size shouldBe 1 // only sample 1 existed before the "crash"

      now = t0 + 2 * hour
      val q2 = start() // same checkpoint: resumes from committed offset
      try { q2.processAllAvailable() } finally q2.stop()
      val all = got.toArray(Array.empty[(Long, Double)]).sortBy(_._1)
      all shouldBe Array((t0 + 7000L, 21.5), (t0 + hour + 7000L, 22.5))
    }
  }

  test("streaming LIKE narrowing (InfluxTable.tagLike): every trigger's " +
    "POST carries the =~ stage, and the streamed rows ≡ the batch read " +
    "under the same residual LIKE") {
    // mixed population: two sensor.* rows an hour apart + a switch row
    val mixedCsv =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,double,string,string,string
        |#group,false,false,true,true,false,false,true,true,true
        |#default,_result,,,,,,,,
        |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
        |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:00:07Z,21.5,value,ha_states,sensor.temp
        |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:20:00Z,80.0,value,ha_states,switch.door
        |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T01:00:07Z,55.0,value,ha_states,sensor.hum
        |""".stripMargin
    @volatile var now = t0 + hour
    val seen = new ConcurrentLinkedQueue[String]()
    FakeInflux.reads = Some { f => seen.add(f); mixedCsv }
    InfluxReadTransports.clockOverride = Some(() => now)
    try {
      val (ok, ov) = graft.sources.InfluxTable.tagLike(
        "entity_id" -> "sensor.%")
      val like = col("tags").getItem("entity_id").like("sensor.%")
      val streamed = spark.readStream.format("influx")
        .option("bucket", "bkt").option("readPartitions", "1")
        .option(ok, ov).load()
        .filter(col("measurement") === "ha_states" && like)
        .select("time_ms", "value")
      val q = streamed.writeStream.format("memory")
        .queryName("influx_like_stream").outputMode("append").start()
      try {
        q.processAllAvailable()
        now = t0 + 2 * hour
        q.processAllAvailable()
        // every trigger's pull was regex-narrowed server-side
        val fluxes =
          Iterator.continually(seen.poll()).takeWhile(_ != null).toList
        fluxes should have size 2
        all(fluxes) should include(
          """filter(fn: (r) => r["entity_id"] =~ /(?s)^sensor\..*\z/)""")
        // and the lying server's full dump is corrected by the residual:
        // streamed ≡ the batch read over the same range + LIKE
        val got = spark.table("influx_like_stream").collect()
          .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
        val batch = spark.read.format("influx").option("bucket", "bkt")
          .load()
          .filter(col("time_ms") >= t0 && col("time_ms") < t0 + 2 * hour &&
            col("measurement") === "ha_states" && like)
          .select("time_ms", "value").collect()
          .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
        got shouldBe batch
        got shouldBe Array((t0 + 7000L, 21.5), (t0 + hour + 7000L, 55.0))
      } finally q.stop()
    } finally {
      FakeInflux.reads = None
      InfluxReadTransports.clockOverride = None
    }
  }

  test("tagLike refuses unclaimable patterns loudly") {
    an[IllegalArgumentException] should be thrownBy
      graft.sources.InfluxTable.tagLike("entity_id" -> "a\\bc")
    an[IllegalArgumentException] should be thrownBy
      graft.sources.InfluxTable.tagLike("entity_id" -> "a\nb%")
    // the claimed spelling round-trips through the option encoding to
    // the exact regex the batch rule synthesizes
    val (_, v) = graft.sources.InfluxTable.tagLike(
      "entity_id" -> "sensor_t%p")
    graft.sources.InfluxTable.decodeTagRegex(v) shouldBe
      Seq("entity_id" -> "(?s)^sensor.t.*p\\z")
  }

  // === pushed ROLLUP streaming (rollup.* options) ===

  // four samples across two hours — the rollup population
  private val rollupCsv =
    """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,double,string,string,string
      |#group,false,false,true,true,false,false,true,true,true
      |#default,_result,,,,,,,,
      |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:00:07Z,21.5,value,ha_states,sensor.temp
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:30:00Z,10.0,value,ha_states,sensor.temp
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T01:00:07Z,22.5,value,ha_states,sensor.temp
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T01:45:00Z,30.0,value,ha_states,sensor.temp
      |""".stripMargin

  private val rollupOpts = Map(
    "bucket" -> "bkt", "readPartitions" -> "1",
    "rollup.everyMs" -> "3600000",
    "rollup.aggs" -> "count,sum,min_value,max_time",
    "rollup.measurement" -> "ha_states",
    "rollup.startMs" -> t0.toString)

  private def rollupSpec(opts: Map[String, String]) =
    graft.sources.InfluxRollupRead.fromOptions(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        scala.jdk.CollectionConverters.MapHasAsJava(opts).asJava)).get

  test("pushed-rollup stream: each trigger POSTs window(every:) partials " +
    "— never raw-sample pulls — and the maintained merge ≡ the batch " +
    "rollup, lying-server (raw dump) case included") {
    @volatile var now = t0 + hour // trigger 1 sees hour 1 only
    withStubs(() => now) { seen =>
      val spec = rollupSpec(rollupOpts)
      // the stub answers EVERY program with the full raw dump (a server
      // that ignored window() and the range): the partials engine falls
      // back to local re-bucketing of re-enforced samples, clamped to
      // each trigger's offset range — so nothing is double-counted
      FakeInflux.reads = Some { flux =>
        seen.add(flux); rollupCsv
      }
      val partials = rollupOpts.foldLeft(
        spark.readStream.format("influx")) { case (r, (k, v)) => r.option(k, v) }
        .load()
      val merged = graft.sources.InfluxRollupRead.finalMerge(partials, spec)
      val q = merged.writeStream.format("memory").queryName("rollup_stream")
        .outputMode("complete").start()
      try {
        q.processAllAvailable()
        now = t0 + 2 * hour // trigger 2: hour 2 becomes visible
        q.processAllAvailable()
        val got = spark.table("rollup_stream").collect().map(r =>
          r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
            r.getLong(4)))).toMap
        got shouldBe Map(
          t0 -> ((2L, 31.5, 10.0, t0 + 1800000L)),
          (t0 + hour) -> ((2L, 52.5, 22.5, t0 + hour + 2700000L)))
        // every trigger POST is windowed — raw samples were never ASKED for
        val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
        fluxes should not be empty
        all(fluxes) should include("window(every: 3600000ms)")
        all(fluxes) should include("""r["_measurement"] == "ha_states"""")
        // the batch twin: the SAME rollup options read as a batch scan,
        // merged the same way — stream ≡ batch
        val batchOpts = rollupOpts + ("rollup.stopMs" -> (t0 + 2 * hour).toString)
        val batch = graft.sources.InfluxRollupRead.finalMerge(
          batchOpts.foldLeft(spark.read.format("influx")) {
            case (r, (k, v)) => r.option(k, v)
          }.load(), rollupSpec(batchOpts))
        val expect = batch.collect().map(r =>
          r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
            r.getLong(4)))).toMap
        got shouldBe expect
      } finally q.stop()
    }
  }

  test("pushed-rollup stream trusts honored windowed count responses and " +
    "clamps each to its trigger's offset range — no double counting when " +
    "a server replays both buckets to both triggers") {
    val windowedCount =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,long
        |#group,false,false,true,true,false
        |#default,_result,,,,
        |,result,table,_start,_stop,_value
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z,7
        |,_result,1,2024-01-01T01:00:00Z,2024-01-01T02:00:00Z,5
        |""".stripMargin
    @volatile var now = t0 + hour
    withStubs(() => now) { seen =>
      FakeInflux.reads = Some { flux =>
        seen.add(flux); windowedCount
      }
      val opts = Map("bucket" -> "bkt", "readPartitions" -> "1",
        "rollup.everyMs" -> "3600000", "rollup.aggs" -> "count",
        "rollup.startMs" -> t0.toString)
      val merged = graft.sources.InfluxRollupRead.finalMerge(
        opts.foldLeft(spark.readStream.format("influx")) {
          case (r, (k, v)) => r.option(k, v)
        }.load(), rollupSpec(opts))
      val q = merged.writeStream.format("memory").queryName("rollup_trusted")
        .outputMode("complete").start()
      try {
        q.processAllAvailable()
        now = t0 + 2 * hour
        q.processAllAvailable()
        // both triggers received BOTH bucket rows; the per-trigger clamp
        // keeps only the bucket inside each trigger's [start, stop)
        spark.table("rollup_trusted").collect().map(r =>
          r.getLong(0) -> r.getLong(1)).toMap shouldBe
          Map(t0 -> 7L, (t0 + hour) -> 5L)
      } finally q.stop()
    }
  }

  test("the reference loop end-to-end as ONE streaming query: readStream " +
    "influx → transform → writeStream influx (DSv2 streaming sink), " +
    "exactly-once across two triggers") {
    @volatile var now = t0 + hour // trigger 1 sees sample 1 only
    withStubs(() => now) { _ =>
      FakeInflux.writes = Some(RecordingWriter)
      RecordingWriter.drain() // isolate from other suites
      try {
        val pts = spark.readStream.format("influx")
          .option("bucket", "src").option("readPartitions", "1").load()
          .select(lit("ha_states").as("measurement"),
            map(lit("entity_id"),
              coalesce(element_at(col("tags"), "entity_id"), lit("unknown")))
              .as("tags"),
            map(lit("value"), col("value")).as("fields_num"),
            typedLit(Map.empty[String, String]).as("fields_str"),
            col("time_ms"))
        val ckpt = Files.createTempDirectory("influx_roundtrip").toString
        val q = pts.writeStream.format("influx").option("bucket", "dst")
          .option("checkpointLocation", ckpt).outputMode("append").start()
        try {
          q.processAllAvailable()
          val afterOne = RecordingWriter.drain().flatten
          afterOne.size shouldBe 1 // only sample 1 visible yet
          now = t0 + 2 * hour
          q.processAllAvailable()
          val afterTwo = RecordingWriter.drain().flatten
          afterTwo.size shouldBe 1 // sample 2 exactly once, no replay
          (afterOne ++ afterTwo).foreach { l =>
            l should startWith("ha_states,entity_id=sensor.temp value=")
          }
        } finally q.stop()
      } finally FakeInflux.writes = None
    }
  }

  test("rollup.alignTriggers snaps trigger boundaries to buckets — each " +
    "steady-state bucket is read whole by one trigger, and the declared " +
    "stop bound still flushes the final partial bucket") {
    @volatile var now = t0 + hour + 1800000L // mid-bucket 2
    withStubs(() => now) { seen =>
      FakeInflux.reads = Some { flux =>
        seen.add(flux); rollupCsv
      }
      val opts = Map("bucket" -> "bkt", "readPartitions" -> "1",
        "rollup.everyMs" -> "3600000", "rollup.aggs" -> "count",
        "rollup.startMs" -> t0.toString,
        "rollup.stopMs" -> (t0 + hour + 1800000L).toString,
        "rollup.alignTriggers" -> "true")
      val merged = graft.sources.InfluxRollupRead.finalMerge(
        opts.foldLeft(spark.readStream.format("influx")) {
          case (r, (k, v)) => r.option(k, v)
        }.load(), rollupSpec(opts))
      val q = merged.writeStream.format("memory").queryName("rollup_aligned")
        .outputMode("complete").start()
      try {
        // trigger 1: clock mid-bucket-2 BUT below stop? stop==clock, so the
        // clamp hits the stop bound and the final partial bucket flushes;
        // first verify the aligned intermediate state via a pre-stop clock
        q.processAllAvailable()
        spark.table("rollup_aligned").collect().map(r =>
          r.getLong(0) -> r.getLong(1)).toMap shouldBe
          Map(t0 -> 2L, (t0 + hour) -> 1L) // incl. [t0+1h, t0+1.5h) partial
      } finally q.stop()
      // aligned case WITHOUT the stop bound: the trigger snaps down to the
      // bucket boundary, covering bucket 1 whole and leaving bucket 2 for
      // a later trigger
      val seen2 = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      FakeInflux.reads = Some { flux =>
        seen2.add(flux); rollupCsv
      }
      val opts2 = opts - "rollup.stopMs"
      val merged2 = graft.sources.InfluxRollupRead.finalMerge(
        opts2.foldLeft(spark.readStream.format("influx")) {
          case (r, (k, v)) => r.option(k, v)
        }.load(), rollupSpec(opts2))
      val q2 = merged2.writeStream.format("memory").queryName("rollup_aligned2")
        .outputMode("complete").start()
      try {
        q2.processAllAvailable()
        // only bucket 1 (whole) — the snap held back [t0+1h, now)
        spark.table("rollup_aligned2").collect().map(r =>
          r.getLong(0) -> r.getLong(1)).toMap shouldBe Map(t0 -> 2L)
        // every POSTed range stop is bucket-aligned
        val fluxes = Iterator.continually(seen2.poll()).takeWhile(_ != null).toList
        val stops = fluxes.flatMap(f =>
          """stop: ([^)]+)\)""".r.findFirstMatchIn(f).map(m =>
            java.time.Instant.parse(m.group(1)).toEpochMilli))
        stops should not be empty
        all(stops.map(_ % hour)) shouldBe 0L
        now = t0 + 3 * hour + 600000L // advance: bucket 2 and 3 close
        q2.processAllAvailable()
        spark.table("rollup_aligned2").collect().map(r =>
          r.getLong(0) -> r.getLong(1)).toMap shouldBe
          Map(t0 -> 2L, (t0 + hour) -> 2L) // buckets 1 and 2, whole
      } finally q2.stop()
    }
  }

  test("rollup.alignTriggers on a SHIFTED grid (rollup.offsetMs): the " +
    "snap lands on shifted bucket boundaries, keeping the " +
    "one-partial-per-bucket guarantee") {
    val off = 1800000L // :30 boundaries
    @volatile var now = t0 + 2 * hour // mid shifted-bucket [01:30, 02:30)
    withStubs(() => now) { _ =>
      val seen = new ConcurrentLinkedQueue[String]()
      FakeInflux.reads = Some { flux =>
        seen.add(flux); rollupCsv
      }
      val opts = Map("bucket" -> "bkt", "readPartitions" -> "1",
        "rollup.everyMs" -> hour.toString, "rollup.aggs" -> "count",
        "rollup.startMs" -> t0.toString,
        "rollup.offsetMs" -> off.toString,
        "rollup.alignTriggers" -> "true")
      val merged = graft.sources.InfluxRollupRead.finalMerge(
        opts.foldLeft(spark.readStream.format("influx")) {
          case (r, (k, v)) => r.option(k, v)
        }.load(), rollupSpec(opts))
      val q = merged.writeStream.format("memory")
        .queryName("rollup_aligned_shifted").outputMode("complete").start()
      try {
        q.processAllAvailable()
        // snap held back [01:30, now): buckets [00:00(clamped start),
        // 00:30) and [00:30, 01:30) are covered whole; samples 00:00:07
        // → first, 00:30 + 01:00:07 → second
        spark.table("rollup_aligned_shifted").collect().map(r =>
          r.getLong(0) -> r.getLong(1)).toMap shouldBe
          Map((t0 - off) -> 1L, (t0 + off) -> 2L)
        // every POSTed range stop sits on the SHIFTED grid — an
        // epoch-grid snap would land mid-bucket and split every bucket
        // across two triggers
        val fluxes =
          Iterator.continually(seen.poll()).takeWhile(_ != null).toList
        val stops = fluxes.flatMap(f =>
          """stop: ([^)]+)\)""".r.findFirstMatchIn(f).map(m =>
            java.time.Instant.parse(m.group(1)).toEpochMilli))
        stops should not be empty
        all(stops.map(s => Math.floorMod(s - off, hour))) shouldBe 0L
        now = t0 + 3 * hour // shifted bucket [01:30, 02:30) closes
        q.processAllAvailable()
        spark.table("rollup_aligned_shifted").collect().map(r =>
          r.getLong(0) -> r.getLong(1)).toMap shouldBe
          Map((t0 - off) -> 1L, (t0 + off) -> 2L, (t0 + hour + off) -> 1L)
      } finally q.stop()
    }
  }

  test("rollup option validation fails loudly at analysis time") {
    an[IllegalArgumentException] should be thrownBy rollupSpec(Map(
      "rollup.everyMs" -> "0"))
    an[IllegalArgumentException] should be thrownBy rollupSpec(Map(
      "rollup.everyMs" -> "1000", "rollup.aggs" -> "bogus"))
    an[IllegalArgumentException] should be thrownBy rollupSpec(Map(
      "rollup.everyMs" -> "1000", "rollup.aggs" -> "last_value"))
    an[IllegalArgumentException] should be thrownBy rollupSpec(Map(
      "rollup.everyMs" -> "1000", "rollup.group" -> "tags"))
    // bin tokens: bad op, non-numeric width, non-positive, two bins
    an[IllegalArgumentException] should be thrownBy rollupSpec(Map(
      "rollup.everyMs" -> "1000", "rollup.group" -> "bin:^10.0"))
    an[IllegalArgumentException] should be thrownBy rollupSpec(Map(
      "rollup.everyMs" -> "1000", "rollup.group" -> "bin:/ten"))
    an[IllegalArgumentException] should be thrownBy rollupSpec(Map(
      "rollup.everyMs" -> "1000", "rollup.group" -> "bin:/-1.0"))
    an[IllegalArgumentException] should be thrownBy rollupSpec(Map(
      "rollup.everyMs" -> "1000", "rollup.group" -> "bin:/10.0,bin:*2.0"))
  }

  test("streaming value histogram: rollup.group bin:/w maintains per-bin " +
    "counts across triggers ≡ the batch histogram, bin surfaces as LONG") {
    @volatile var now = t0 + hour
    withStubs(() => now) { seen =>
      val opts = Map("bucket" -> "bkt", "readPartitions" -> "1",
        "rollup.everyMs" -> "3600000", "rollup.aggs" -> "count",
        "rollup.group" -> "bin:/10.0", "rollup.startMs" -> t0.toString)
      FakeInflux.reads = Some { flux =>
        seen.add(flux); rollupCsv
      }
      val partials = opts.foldLeft(
        spark.readStream.format("influx")) { case (r, (k, v)) => r.option(k, v) }
        .load()
      partials.schema("bin").dataType shouldBe
        org.apache.spark.sql.types.LongType
      val merged = graft.sources.InfluxRollupRead
        .finalMerge(partials, rollupSpec(opts))
      val q = merged.writeStream.format("memory").queryName("rollup_bins")
        .outputMode("complete").start()
      try {
        q.processAllAvailable()
        now = t0 + 2 * hour
        q.processAllAvailable()
        // values 21.5, 10.0 | 22.5, 30.0 → /10 bins 2,1 | 2,3 per hour
        spark.table("rollup_bins").collect().map(r =>
          (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap shouldBe
          Map((2L, t0) -> 1L, (1L, t0) -> 1L,
            (2L, t0 + hour) -> 1L, (3L, t0 + hour) -> 1L)
        val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
        fluxes should not be empty
        all(fluxes) should include("""group(columns: ["bin"])""")
        all(fluxes) should include("math.floor(x: float(v: r._value) / 10.0)")
        // the batch twin over the full range agrees
        val batchOpts = opts + ("rollup.stopMs" -> (t0 + 2 * hour).toString)
        graft.sources.InfluxRollupRead.finalMerge(
          batchOpts.foldLeft(spark.read.format("influx")) {
            case (r, (k, v)) => r.option(k, v)
          }.load(), rollupSpec(batchOpts))
          .groupBy("bin").agg(sum("count_star").as("n"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
          Map(2L -> 2L, 1L -> 1L, 3L -> 1L)
      } finally q.stop()
    }
  }

  test("a user .schema() on the rollup read mode fails LOUDLY at analysis " +
    "time unless it matches the partial-rollup row") {
    withStubs(() => t0 + hour) { _ =>
      // newScanBuilder runs at plan time, so the loud failure surfaces
      // on the first action over the mis-schemed frame
      val bad = intercept[Throwable] {
        spark.read.format("influx")
          .schema("wrong STRING, shape LONG")
          .option("bucket", "bkt")
          .option("rollup.everyMs", "3600000")
          .option("rollup.stopMs", (t0 + hour).toString)
          .load()
          .count()
      }
      (Option(bad.getMessage).getOrElse("") +
        Option(bad.getCause).flatMap(c => Option(c.getMessage))
          .getOrElse("")) should include("partial-rollup row")
      // the exact partial schema is accepted
      val opts = Map("bucket" -> "bkt", "rollup.everyMs" -> "3600000",
        "rollup.aggs" -> "count", "rollup.startMs" -> t0.toString,
        "rollup.stopMs" -> (t0 + hour).toString)
      val spec = rollupSpec(opts)
      val ok = opts.foldLeft(spark.read.format("influx")
        .schema(graft.sources.InfluxRollupRead.schemaOf(spec))) {
        case (r, (k, v)) => r.option(k, v)
      }.load()
      ok.count() shouldBe 1 // the canned csv's single in-range bucket
    }
  }

  test("histogramQuantiles reads p50/p90 off the pushed bin partials — " +
    "only bucket×bin counts move, and the estimate is the deterministic " +
    "upper bin boundary") {
    withStubs(() => t0 + 2 * hour) { _ =>
      val opts = Map("bucket" -> "bkt", "readPartitions" -> "1",
        "rollup.everyMs" -> "3600000", "rollup.aggs" -> "count",
        "rollup.group" -> "bin:/10.0", "rollup.startMs" -> t0.toString,
        "rollup.stopMs" -> (t0 + 2 * hour).toString)
      FakeInflux.reads = Some { _ => rollupCsv }
      val partials = opts.foldLeft(spark.read.format("influx")) {
        case (r, (k, v)) => r.option(k, v)
      }.load()
      val got = graft.sources.InfluxRollupRead
        .histogramQuantiles(partials, rollupSpec(opts), Seq(0.5, 0.9))
        .collect().map(r =>
          r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
        .toMap
      // hour 1 values {21.5, 10.0}: p50 rank 1 → bin 1 → upper 20.0;
      // p90 rank 2 → bin 2 → 30.0. hour 2 {22.5, 30.0}: bins 2, 3 →
      // p50 30.0, p90 40.0. Exactly EventsExt.histQuantiles' convention.
      got shouldBe Map(
        t0 -> ((2L, 20.0, 30.0)),
        (t0 + hour) -> ((2L, 30.0, 40.0)))
    }
  }

  // === streaming grouped TopN (InfluxTable.groupTopN option) ===

  test("streaming grouped TopN: every trigger's POST carries the per-group " +
    "top(n:) pull, and the maintained leaderboard ≡ the batch grouped-TopN") {
    // two entities across two hours; values chosen so the hour-2 samples
    // reshuffle both boards (30.0 displaces 10.0; 60.0 tops 55.0)
    val topnCsv =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,double,string,string,string
        |#group,false,false,true,true,false,false,true,true,true
        |#default,_result,,,,,,,,
        |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T00:05:00Z,21.5,value,ha_states,sensor.temp
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T00:20:00Z,10.0,value,ha_states,sensor.temp
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T01:10:00Z,30.0,value,ha_states,sensor.temp
        |,_result,1,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T00:10:00Z,55.0,value,ha_states,sensor.hum
        |,_result,1,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T01:20:00Z,60.0,value,ha_states,sensor.hum
        |,_result,1,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T01:40:00Z,5.0,value,ha_states,sensor.hum
        |""".stripMargin
    @volatile var now = t0 + hour
    val seen = new ConcurrentLinkedQueue[String]()
    FakeInflux.reads = Some { f => seen.add(f); topnCsv }
    InfluxReadTransports.clockOverride = Some(() => now)
    try {
      val opt = graft.sources.InfluxTable.groupTopN(
        2, desc = true, Seq("tag:entity_id"))
      val samples = spark.readStream.format("influx")
        .option("bucket", "bkt").option("readPartitions", "1")
        .option(opt._1, opt._2).load()
        .filter(col("measurement") === "ha_states")
      val board = graft.streaming.StreamingEvents.influxTopkStream(
        samples, col("tags").getItem("entity_id"), k = 2)
      val q = board.writeStream.format("memory").queryName("influx_topn")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        def topFluxes = Iterator.continually(seen.poll())
          .takeWhile(_ != null).toList.filter(_.contains("top(n: 2"))
        // trigger 1 pulled the per-group top-k, never raw samples
        topFluxes.size shouldBe 1
        now = t0 + 2 * hour
        q.processAllAvailable()
        topFluxes.size shouldBe 1 // one more on trigger 2
        // the FINAL board per group = its last emission (max n_seen)
        val rows = spark.table("influx_topn").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
            r.getLong(3), r.getLong(4)))
        val finalBoard = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
          val last = rs.map(_._5).max
          rs.filter(_._5 == last).toSeq
        }.map(r => (r._1, r._2, r._3, r._4)).toSet
        // batch twin: row_number()<=2 per entity over the same samples
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("tags").getItem("entity_id"))
          .orderBy(col("value").desc, col("time_ms").asc)
        val batch = spark.read.format("influx").option("bucket", "bkt").load()
          .filter(col("time_ms") >= t0 && col("time_ms") < t0 + 2 * hour &&
            col("measurement") === "ha_states" && col("value").isNotNull)
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 2)
          .select(col("tags").getItem("entity_id"), col("time_ms"),
            col("value"), col("rn"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
            r.getLong(3))).toSet
        finalBoard shouldBe batch
        finalBoard shouldBe Set(
          ("sensor.temp", t0 + 70 * 60000L, 30.0, 1L),
          ("sensor.temp", t0 + 5 * 60000L, 21.5, 2L),
          ("sensor.hum", t0 + 80 * 60000L, 60.0, 1L),
          ("sensor.hum", t0 + 10 * 60000L, 55.0, 2L))
      } finally q.stop()
    } finally {
      FakeInflux.reads = None
      InfluxReadTransports.clockOverride = None
    }
  }

  test("leaderboard group coarser than the series key: two DISTINCT " +
    "same-timestamp samples both rank — dedup is (series, time), not time") {
    // a per-MEASUREMENT board over two entities; sensor.x and sensor.y
    // collide on the 00:10 timestamp with different values. Deduping
    // board entries by time alone would collapse them to one slot.
    val csv =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,double,string,string,string
        |#group,false,false,true,true,false,false,true,true,true
        |#default,_result,,,,,,,,
        |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T00:10:00Z,50.0,value,ha_states,sensor.x
        |,_result,1,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T00:10:00Z,40.0,value,ha_states,sensor.y
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T01:20:00Z,10.0,value,ha_states,sensor.x
        |,_result,1,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T01:30:00Z,60.0,value,ha_states,sensor.y
        |""".stripMargin
    @volatile var now = t0 + hour
    FakeInflux.reads = Some(_ => csv)
    InfluxReadTransports.clockOverride = Some(() => now)
    try {
      val samples = spark.readStream.format("influx")
        .option("bucket", "bkt").option("readPartitions", "1").load()
        .filter(col("measurement") === "ha_states")
      val board = graft.streaming.StreamingEvents.influxTopkStream(
        samples, col("measurement"), k = 3)
      val q = board.writeStream.format("memory").queryName("influx_topn_coarse")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        now = t0 + 2 * hour
        q.processAllAvailable()
        val rows = spark.table("influx_topn_coarse").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
            r.getLong(3), r.getLong(4)))
        val finalBoard = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
          val last = rs.map(_._5).max
          rs.filter(_._5 == last).toSeq
        }.map(r => (r._1, r._2, r._3, r._4)).toSet
        // batch row_number twin over the same samples, same coarse group
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("measurement"))
          .orderBy(col("value").desc, col("time_ms").asc)
        val batch = spark.read.format("influx").option("bucket", "bkt").load()
          .filter(col("time_ms") >= t0 && col("time_ms") < t0 + 2 * hour &&
            col("measurement") === "ha_states" && col("value").isNotNull)
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select(col("measurement"), col("time_ms"), col("value"), col("rn"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
            r.getLong(3))).toSet
        finalBoard shouldBe batch
        finalBoard shouldBe Set(
          ("ha_states", t0 + 90 * 60000L, 60.0, 1L),
          ("ha_states", t0 + 10 * 60000L, 50.0, 2L),
          ("ha_states", t0 + 10 * 60000L, 40.0, 3L))
      } finally q.stop()
    } finally {
      FakeInflux.reads = None
      InfluxReadTransports.clockOverride = None
    }
  }

  test("streaming counter-rate: per-trigger increase() partials with " +
    "cross-trigger stitch state maintain the exact per-bucket increase " +
    "across 3 triggers ≡ batch rateRead ≡ the client lag() twin") {
    // reset-bearing counters over two series; trigger 2's boundary cuts
    // bucket h1 mid-flight (01:30), so h1 receives contributions from two
    // triggers and sensor.b's h2 stitch must pair across an empty bucket
    //   sensor.a: 10@00:05, 15@00:20 | 15@01:10, 3@01:40 (reset)
    //             | 9@02:15, 4@02:40 (reset)
    //   sensor.b: 100@00:10 | — | 120@02:30
    val csv =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,double,string,string,string
        |#group,false,false,true,true,false,false,true,true,true
        |#default,_result,,,,,,,,
        |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T03:00:00Z,2024-01-01T00:05:00Z,10.0,value,ha_states,sensor.a
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T03:00:00Z,2024-01-01T00:20:00Z,15.0,value,ha_states,sensor.a
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T03:00:00Z,2024-01-01T01:10:00Z,15.0,value,ha_states,sensor.a
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T03:00:00Z,2024-01-01T01:40:00Z,3.0,value,ha_states,sensor.a
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T03:00:00Z,2024-01-01T02:15:00Z,9.0,value,ha_states,sensor.a
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T03:00:00Z,2024-01-01T02:40:00Z,4.0,value,ha_states,sensor.a
        |,_result,1,2024-01-01T00:00:00Z,2024-01-01T03:00:00Z,2024-01-01T00:10:00Z,100.0,value,ha_states,sensor.b
        |,_result,1,2024-01-01T00:00:00Z,2024-01-01T03:00:00Z,2024-01-01T02:30:00Z,120.0,value,ha_states,sensor.b
        |""".stripMargin
    val expected = Map(
      ("sensor.a", t0) -> 5.0, ("sensor.a", t0 + hour) -> 3.0,
      ("sensor.a", t0 + 2 * hour) -> 10.0,
      ("sensor.b", t0) -> 0.0, ("sensor.b", t0 + 2 * hour) -> 20.0)
    val opts = graft.sources.InfluxRollupRead.rateOptions(hour, Map(
      "bucket" -> "bkt", "readPartitions" -> "1",
      "rollup.group" -> "tag:entity_id",
      "rollup.measurement" -> "ha_states",
      "rollup.startMs" -> t0.toString,
      "rollup.stopMs" -> (t0 + 3 * hour).toString))
    val spec = graft.sources.InfluxRollupRead.fromOptions(
      scala.jdk.CollectionConverters.MapHasAsJava(opts).asJava).get
    @volatile var now = t0 + 90 * 60000L
    FakeInflux.reads = Some(_ => csv)
    InfluxReadTransports.clockOverride = Some(() => now)
    try {
      val partials = opts.foldLeft(spark.readStream.format("influx")) {
        case (r, (k, v)) => r.option(k, v)
      }.load()
      val rate = graft.streaming.StreamingEvents.influxRateStream(partials, spec)
      val q = rate.writeStream.format("memory").queryName("influx_rate_stream")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        now = t0 + 2 * hour
        q.processAllAvailable()
        now = t0 + 3 * hour
        q.processAllAvailable()
        val rows = spark.table("influx_rate_stream").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
            r.getDouble(3), r.getLong(4)))
        // the maintained result = last emission per (series, bucket)
        val fin = rows.groupBy(r => (r._1, r._2)).map { case (k, rs) =>
          val last = rs.maxBy(_._5)
          k -> last._3
        }
        fin shouldBe expected
        // rate_per_sec = increase / bucket seconds on every emission
        rows.foreach(r => r._4 shouldBe r._3 / 3600.0)
      } finally q.stop()
      // batch rateRead over the same options computes the identical map
      graft.sources.InfluxRollupRead.rateRead(spark, opts)
        .select(col("entity_id"), col("bucket_start_ms"), col("increase"))
        .collect().map(r =>
          (r.getString(0), r.getLong(1)) -> r.getDouble(2))
        .toMap shouldBe expected
      // and so does the raw client lag() twin
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("tags").getItem("entity_id"))
        .orderBy(col("time_ms").asc)
      val twin = spark.read.format("influx").option("bucket", "bkt").load()
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + 3 * hour &&
          col("measurement") === "ha_states" && col("value").isNotNull)
        .select(col("tags").getItem("entity_id").as("e"),
          col("time_ms"), col("value"),
          lag(col("value"), 1).over(w).as("pv"))
        .groupBy(col("e"),
          (expr("time_ms div 3600000") * hour).as("b"))
        .agg(sum(when(col("pv").isNull, lit(0.0))
          .otherwise(when(col("value") >= col("pv"),
            col("value") - col("pv")).otherwise(col("value"))))
          .as("inc"))
      twin.collect().map(r =>
        (r.getString(0), r.getLong(1)) -> r.getDouble(2))
        .toMap shouldBe expected
    } finally {
      FakeInflux.reads = None
      InfluxReadTransports.clockOverride = None
    }
  }

  test("streaming distinct-count: the maintained per-bucket distinct " +
    "entity set builds across triggers ≡ the batch COUNT(DISTINCT) push") {
    // h0: temp×2 + hum + an untagged row (never counts) → 2 distinct;
    // h1: temp + hum + door, split across two triggers → 3 distinct
    val csv =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,double,string,string,string
        |#group,false,false,true,true,false,false,true,true,true
        |#default,_result,,,,,,,,
        |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T00:05:00Z,1.0,value,ha_states,sensor.temp
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T00:20:00Z,2.0,value,ha_states,sensor.temp
        |,_result,1,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T00:10:00Z,3.0,value,ha_states,sensor.hum
        |,_result,2,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T00:40:00Z,4.0,value,ha_states,
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T01:05:00Z,5.0,value,ha_states,sensor.temp
        |,_result,1,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T01:20:00Z,6.0,value,ha_states,sensor.hum
        |,_result,3,2024-01-01T00:00:00Z,2024-01-01T02:00:00Z,2024-01-01T01:45:00Z,7.0,value,ha_states,switch.door
        |""".stripMargin
    val opts = Map("bucket" -> "bkt", "readPartitions" -> "2",
      "rollup.everyMs" -> hour.toString,
      "rollup.aggs" -> "count",
      "rollup.group" -> "tag:entity_id",
      "rollup.measurement" -> "ha_states",
      "rollup.startMs" -> t0.toString,
      "rollup.stopMs" -> (t0 + 2 * hour).toString)
    val spec = graft.sources.InfluxRollupRead.fromOptions(
      scala.jdk.CollectionConverters.MapHasAsJava(opts).asJava).get
    @volatile var now = t0 + 90 * 60000L
    FakeInflux.reads = Some(_ => csv)
    InfluxReadTransports.clockOverride = Some(() => now)
    try {
      val partials = opts.foldLeft(spark.readStream.format("influx")) {
        case (r, (k, v)) => r.option(k, v)
      }.load()
      val dist = graft.streaming.StreamingEvents.influxDistinctStream(
        partials, spec, "tag:entity_id")
      val q = dist.writeStream.format("memory").queryName("influx_distinct")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        now = t0 + 2 * hour
        q.processAllAvailable()
        val rows = spark.table("influx_distinct").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        val fin = rows.groupBy(r => (r._1, r._2)).map { case (k, rs) =>
          k._2 -> rs.maxBy(_._4)._3
        }
        fin shouldBe Map(t0 -> 2L, (t0 + hour) -> 3L)
      } finally q.stop()
      // the batch COUNT(DISTINCT) push over the same samples agrees
      val batch = spark.read.format("influx").option("bucket", "bkt")
        .option("readPartitions", "2").load()
        .filter(col("time_ms") >= t0 && col("time_ms") < t0 + 2 * hour &&
          col("measurement") === "ha_states")
        .groupBy((expr("time_ms div 3600000") * hour).as("b"))
        .agg(count_distinct(col("tags").getItem("entity_id")).as("nd"))
      batch.queryExecution.optimizedPlan.toString should
        include("InfluxBucketRollup")
      batch.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
        Map(t0 -> 2L, (t0 + hour) -> 3L)
    } finally {
      FakeInflux.reads = None
      InfluxReadTransports.clockOverride = None
    }
  }

  test("maintained panels: locf, lerp, moving-average, stddev and " +
    "Bollinger partials merged over three triggers that each cut a bucket " +
    "mid-fill, finished over the maintained table ≡ the one-shot batch " +
    "panel read") {
    // sensor.a leaves bucket 1 empty (the fills bridge it); sensor.b has a
    // singleton bucket (the n < 2 NULL guard)
    val panelCsv =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,double,string,string,string
        |#group,false,false,true,true,false,false,true,true,true
        |#default,_result,,,,,,,,
        |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
        |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:00:07Z,21.5,value,ha_states,sensor.a
        |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:30:00Z,10.0,value,ha_states,sensor.a
        |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T01:20:00Z,4.0,value,ha_states,sensor.b
        |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T02:10:00Z,22.5,value,ha_states,sensor.a
        |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T02:45:00Z,30.0,value,ha_states,sensor.a
        |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T02:50:00Z,8.0,value,ha_states,sensor.b
        |""".stripMargin
    val R = graft.sources.InfluxRollupRead
    type DF = org.apache.spark.sql.DataFrame
    val base = Map("bucket" -> "bkt", "readPartitions" -> "1",
      "rollup.group" -> "tag:entity_id", "rollup.startMs" -> t0.toString)
    // (options, finish over the maintained merge, one-shot batch panel)
    val panels = Seq[(Map[String, String], (DF, R.Spec) => DF,
        Map[String, String] => DF)](
      (R.locfOptions(hour, base),
        (m, _) => graft.ext.EventsExt.locfFill(m, Seq("entity_id"), hour),
        R.locfRead(spark, _)),
      (R.lerpOptions(hour, base), R.lerpFillMerged(_, _), R.lerpRead(spark, _)),
      (R.movingOptions(hour, base), R.movingAvgMerged(_, _, 3),
        R.movingAvgRead(spark, _, 3)),
      (R.stddevOptions(hour, base), R.stddevMerged, R.stddevRead(spark, _)),
      (R.stddevOptions(hour, base), R.bollingerMerged(_, _, 3),
        R.bollingerRead(spark, _, 3)))
    def rows(df: DF) = df.collect().map(_.toSeq).toSet
    panels.zipWithIndex.foreach { case ((opts, finish, read), i) =>
      @volatile var now = t0
      withStubs(() => now) { _ =>
        FakeInflux.reads = Some(_ => panelCsv)
        val spec = rollupSpec(opts)
        val q = R.finalMerge(opts.foldLeft(spark.readStream.format("influx")) {
            case (r, (k, v)) => r.option(k, v)
          }.load(), spec)
          .writeStream.format("memory").queryName(s"panel_stream_$i")
          .outputMode("complete").start()
        try {
          Seq(20L, 150L, 180L).foreach { m =>
            now = t0 + m * 60000L; q.processAllAvailable()
          }
        } finally q.stop()
        val maintained = spark.table(s"panel_stream_$i")
        rows(maintained) shouldBe rows(R.finalMerge(
          opts.foldLeft(spark.read.format("influx")) {
            case (r, (k, v)) => r.option(k, v)
          }.load(), spec))
        val panel = rows(finish(maintained, spec))
        panel should not be empty
        panel shouldBe rows(read(opts))
      }
    }
  }

  test("latestOffset clamps to [start, stop] and the offset JSON round-trips") {
    val cfg = graft.etl.InfluxSink.Config("u", "o", "b", "t", 1000, false)
    val s = new InfluxMicroBatchStream(cfg, 1, graft.sources.InfluxScan.schema,
      t0, Some(t0 + hour), None, None, lagMs = 0L)
    InfluxReadTransports.clockOverride = Some(() => t0 + 10 * hour)
    try {
      // clamped to the declared stop bound
      s.latestOffset().asInstanceOf[InfluxOffset].ms shouldBe t0 + hour
      InfluxReadTransports.clockOverride = Some(() => t0 - hour)
      // never regresses before the initial offset
      s.latestOffset().asInstanceOf[InfluxOffset].ms shouldBe t0
    } finally InfluxReadTransports.clockOverride = None
    s.deserializeOffset(InfluxOffset(12345L).json())
      .asInstanceOf[InfluxOffset].ms shouldBe 12345L
    // a lagging poll stays behind the wall clock
    val lagged = new InfluxMicroBatchStream(cfg, 1, graft.sources.InfluxScan.schema,
      t0, None, None, None, lagMs = hour)
    InfluxReadTransports.clockOverride = Some(() => t0 + 2 * hour)
    try {
      lagged.latestOffset().asInstanceOf[InfluxOffset].ms shouldBe t0 + hour
    } finally InfluxReadTransports.clockOverride = None
  }
}
