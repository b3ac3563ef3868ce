package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.util.concurrent.ConcurrentLinkedQueue

/** Time-bucket rollup pushdown (the injected preCBO rule closing the
  * documented DSv2 boundary): GROUP BY time_ms div W over an influx scan
  * must plan as a final merge over the windowed-Flux rollup leaf, never a
  * raw-sample pull. Transport stubbed as in InfluxReadSpec. */
class InfluxRollupSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L // 2024-01-01T00:00:00Z
  private val hour = 3600000L
  private val day = 86400000L

  // four samples across two hours
  private val cannedCsv =
    """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,double,string,string,string
      |#group,false,false,true,true,false,false,true,true,true
      |#default,_result,,,,,,,,
      |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:00:07Z,21.5,value,ha_states,sensor.temp
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:30:00Z,10.0,value,ha_states,sensor.temp
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T01:00:07Z,22.5,value,ha_states,sensor.temp
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T01:45:00Z,30.0,value,ha_states,sensor.temp
      |""".stripMargin

  private def withTransport[T](csv: String)(body: ConcurrentLinkedQueue[String] => T): T = {
    val seen = new ConcurrentLinkedQueue[String]()
    FakeInflux.reads = Some { flux => seen.add(flux); csv }
    try body(seen) finally FakeInflux.reads = None
  }

  private def influx(parts: Int = 1) = spark.read.format("influx")
    .option("bucket", "bkt").option("readPartitions", parts.toString).load()

  private def bounded(parts: Int = 1) = influx(parts)
    .filter(col("time_ms") >= t0 && col("time_ms") < t0 + day &&
      col("measurement") === "ha_states")

  test("GROUP BY time_ms div W rewrites to the rollup leaf and computes " +
    "exact buckets from a raw-sample response (local bucketing fallback)") {
    withTransport(cannedCsv) { seen =>
      val df = bounded()
        .groupBy(expr("time_ms div 3600000").as("h"))
        .agg(count(lit(1)).as("n"), min(col("value")).as("mn"),
          max(col("time_ms")).as("mxt"))
      df.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      df.queryExecution.executedPlan.toString should include("InfluxBucketRollup")
      val rows = df.collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
      rows shouldBe Map(
        (t0 / hour) -> ((2L, 10.0, t0 + 1800000L)),
        (t0 / hour + 1) -> ((2L, 22.5, t0 + hour + 2700000L)))
      // the POSTed Flux is windowed — raw samples were never requested —
      // and the three specs FUSE into one program over one source read
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.size shouldBe 1
      val p = fluxes.head
      p should include("window(every: 3600000ms)")
      p should include("data = from(bucket:")
      p should include("union(tables: [b0, b1, b2])")
      // each spec's branch pipeline, marker-stamped
      p should include("count(column:")
      p should include("""sort(columns: ["_value"], desc: false)""")
      p should include("""sort(columns: ["_time"], desc: true)""")
      (0 to 2).foreach(i =>
        p should include(s"""_graft_agg: "$i""""))
    }
  }

  test("the bucket-START spelling (time_ms div W) * W claims too and " +
    "labels groups with the aligned start, not the index") {
    withTransport(cannedCsv) { _ =>
      val df = bounded()
        .groupBy((expr("time_ms div 3600000") * 3600000L).as("bucket_start"))
        .agg(count(lit(1)).as("n"))
      df.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
        Map(t0 -> 2L, (t0 + hour) -> 2L)
    }
  }

  test("timezone-SHIFTED buckets ((time_ms + c) div W) claim the rollup " +
    "with a Flux window offset, and a raw dump re-buckets on the shifted " +
    "grid exactly") {
    withTransport(cannedCsv) { seen =>
      // +30min shift over hour buckets: 00:00:07 | 00:30, 01:00:07 | 01:45
      val df = bounded()
        .groupBy(expr("(time_ms + 1800000) div 3600000").as("h"))
        .agg(count(lit(1)).as("n"))
      df.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      val base = (t0 + 1800000L) / 3600000L
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
        Map(base -> 1L, (base + 1) -> 2L, (base + 2) -> 1L)
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes should have size 1
      fluxes.head should include("window(every: 3600000ms, offset: 1800000ms)")
      // the SUBTRACT spelling lands on the same shifted grid and still
      // reproduces ITS OWN indices
      val sub = bounded()
        .groupBy(expr("(time_ms - 1800000) div 3600000").as("h"))
        .agg(count(lit(1)).as("n"))
      sub.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      val sbase = (t0 - 1800000L) / 3600000L
      sub.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
        Map(sbase -> 1L, (sbase + 1) -> 2L, (sbase + 2) -> 1L)
      // unpushed twin agrees
      val unp = bounded()
        .filter(org.apache.spark.sql.functions.length(col("field")) >= 0)
        .groupBy(expr("(time_ms + 1800000) div 3600000").as("h"))
        .agg(count(lit(1)).as("n"))
      unp.queryExecution.optimizedPlan.toString should not include "InfluxBucketRollup"
      unp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
        Map(base -> 1L, (base + 1) -> 2L, (base + 2) -> 1L)
    }
  }

  test("shifted-grid trust: a windowed count on the SHIFTED boundaries " +
    "folds without samples; one on the epoch grid is NOT trusted") {
    // shifted grid (offset 30min): starts 23:30, 00:30, 01:30
    val shifted =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,long
        |#group,false,false,true,true,false
        |#default,_result,,,,
        |,result,table,_start,_stop,_value
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T00:30:00Z,1
        |,_result,1,2024-01-01T00:30:00Z,2024-01-01T01:30:00Z,2
        |,_result,2,2024-01-01T01:30:00Z,2024-01-01T02:30:00Z,1
        |""".stripMargin
    withTransport(shifted) { _ =>
      // the first window is the CLIPPED range start (00:00, allowed) —
      // its rows land in the 23:30 bucket, index base
      val df = bounded()
        .groupBy(expr("(time_ms + 1800000) div 3600000").as("h"))
        .agg(count(lit(1)).as("n"))
      val base = (t0 + 1800000L) / 3600000L
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
        Map(base -> 1L, (base + 1) -> 2L, (base + 2) -> 1L)
    }
    // the same response shapes on the EPOCH grid fail the shifted
    // alignment check → fall back to sample parsing (here: no samples →
    // empty, never wrong buckets)
    val epochGrid =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,long
        |#group,false,false,true,true,false
        |#default,_result,,,,
        |,result,table,_start,_stop,_value
        |,_result,0,2024-01-01T01:00:00Z,2024-01-01T02:00:00Z,7
        |""".stripMargin
    withTransport(epochGrid) { _ =>
      val df = bounded()
        .groupBy(expr("(time_ms + 1800000) div 3600000").as("h"))
        .agg(count(lit(1)).as("n"))
      df.collect() shouldBe empty
    }
  }

  test("the rollup READ MODE honors rollup.offsetMs: partial buckets land " +
    "on the shifted grid") {
    withTransport(cannedCsv) { seen =>
      val opts = Map("bucket" -> "bkt", "readPartitions" -> "1",
        "rollup.everyMs" -> hour.toString,
        "rollup.aggs" -> "count",
        "rollup.offsetMs" -> "1800000",
        "rollup.measurement" -> "ha_states",
        "rollup.startMs" -> t0.toString,
        "rollup.stopMs" -> (t0 + 2 * hour).toString)
      val spec = graft.sources.InfluxRollupRead.fromOptions(
        scala.jdk.CollectionConverters.MapHasAsJava(opts).asJava).get
      val partials = opts.foldLeft(spark.read.format("influx")) {
        case (r, (k, v)) => r.option(k, v)
      }.load()
      graft.sources.InfluxRollupRead.finalMerge(partials, spec)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe Map(
        (t0 - 1800000L) -> 1L, (t0 + 1800000L) -> 2L, (t0 + 5400000L) -> 1L)
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.head should include("window(every: 3600000ms, offset: 1800000ms)")
    }
  }

  test("floor(time_ms / W) matches too, through the coercion casts") {
    withTransport(cannedCsv) { _ =>
      val df = bounded()
        .groupBy(floor(col("time_ms") / 3600000).as("h"))
        .agg(count(lit(1)).as("n"))
      df.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      val rows = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      rows shouldBe Map((t0 / hour) -> 2L, (t0 / hour + 1) -> 2L)
    }
  }

  test("a server that honors the windowed count answers from " +
    "(_start, _value) rows — no samples parsed at all") {
    val windowedCount =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,long
        |#group,false,false,true,true,false
        |#default,_result,,,,
        |,result,table,_start,_stop,_value
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z,7
        |,_result,1,2024-01-01T01:00:00Z,2024-01-01T02:00:00Z,5
        |""".stripMargin
    withTransport(windowedCount) { _ =>
      val rows = bounded()
        .groupBy(expr("time_ms div 3600000").as("h"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      rows shouldBe Map((t0 / hour) -> 7L, (t0 / hour + 1) -> 5L)
    }
  }

  test("range shards merge: 2 partitions each emit bucket partials, the " +
    "final aggregate sums/mins across them") {
    withTransport(cannedCsv) { seen =>
      val rows = bounded(parts = 2)
        .groupBy(expr("time_ms div 3600000").as("h"))
        .agg(count(lit(1)).as("n"), min(col("value")).as("mn"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      // the stub returns ALL samples to every shard POST; re-enforcement
      // clips each shard to its sub-range, so the merged result is exact,
      // not doubled — the same belt-and-braces contract as the flat push
      rows shouldBe Map(
        (t0 / hour) -> ((2L, 10.0)),
        (t0 / hour + 1) -> ((2L, 22.5)))
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      // one FUSED POST per shard (both specs ride it); the raw-sample
      // answer needs no per-spec re-POSTs — even for the empty shard
      fluxes.size shouldBe 2
      all(fluxes) should include("union(tables: [b0, b1])")
    }
  }

  test("non-matching shapes stay untouched: count(distinct), sum(time_ms), " +
    "stddev, a residual value filter, and grouping by a non-time expression") {
    withTransport(cannedCsv) { _ =>
      val base = bounded()
      def noRewrite(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.optimizedPlan.toString should not include "InfluxBucketRollup"
      noRewrite(base.groupBy(expr("time_ms div 3600000"))
        .agg(countDistinct(col("value"))))
      noRewrite(base.groupBy(expr("time_ms div 3600000"))
        .agg(sum(col("time_ms"))))
      noRewrite(base.groupBy(expr("time_ms div 3600000"))
        .agg(stddev(col("value"))))
      noRewrite(base.filter(col("value") > 5)
        .groupBy(expr("time_ms div 3600000")).agg(count(lit(1))))
      noRewrite(base.groupBy(expr("cast(value as long) div 10"))
        .agg(count(lit(1))))
    }
  }

  test("sum/avg/count(value) rewrite to the rollup leaf and match the " +
    "unpushed twin bit-for-bit") {
    withTransport(cannedCsv) { seen =>
      def roll(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(expr("time_ms div 3600000").as("h"))
        .agg(sum(col("value")).as("s"), avg(col("value")).as("a"),
          count(col("value")).as("nv"))
      val pushed = roll(bounded())
      pushed.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      // the POSTed Flux runs the windowed numeric aggregates server-side —
      // count+sum+avg all ride ONE fused program per shard
      val rows = pushed.collect().map(r =>
        r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.size shouldBe 1
      fluxes.head should include("""sum(column: "_value")""")
      fluxes.head should include("""count(column: "_value")""")
      fluxes.head should include("window(every: 3600000ms)")
      // unpushed twin (untranslatable residual predicate declines the rule)
      val unpushed = roll(bounded().filter(col("value") > -1e9))
      unpushed.queryExecution.optimizedPlan.toString should not include "InfluxBucketRollup"
      val expect = unpushed.collect().map(r =>
        r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
      rows shouldBe expect
      rows shouldBe Map(
        (t0 / hour) -> ((31.5, 15.75, 2L)),
        (t0 / hour + 1) -> ((52.5, 26.25, 2L)))
    }
  }

  test("sum(value*value) — the variance panel's raw second moment — " +
    "rewrites to the rollup leaf, squares server-side, and matches the " +
    "unpushed twin bit-for-bit") {
    withTransport(cannedCsv) { seen =>
      def roll(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(expr("time_ms div 3600000").as("h"))
        .agg(sum(col("value") * col("value")).as("s2"),
          sum(col("value")).as("s"), count(col("value")).as("nv"))
      val pushed = roll(bounded())
      pushed.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      val rows = pushed.collect().map(r =>
        r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.size shouldBe 1
      fluxes.head should include(
        """map(fn: (r) => ({r with _value: r._value * r._value}))""")
      fluxes.head should include("""sum(column: "_value")""")
      val unpushed = roll(bounded().filter(col("value") > -1e9))
      unpushed.queryExecution.optimizedPlan.toString should not include "InfluxBucketRollup"
      rows shouldBe unpushed.collect().map(r =>
        r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
      // dyadic fixture: 21.5²+10² and 22.5²+30² are exact
      rows shouldBe Map(
        (t0 / hour) -> ((562.25, 31.5, 2L)),
        (t0 / hour + 1) -> ((1406.25, 52.5, 2L)))
    }
  }

  test("the Project-alias spelling SELECT value*value AS vv ... sum(vv) " +
    "claims the squared-sum push too (argument resolves through aliases)") {
    withTransport(cannedCsv) { seen =>
      val df = bounded()
        .select(expr("time_ms div 3600000").as("h"),
          (col("value") * col("value")).as("vv"))
        .groupBy("h")
        .agg(sum(col("vv")).as("s2"))
      df.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      val rows = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      rows shouldBe Map(
        (t0 / hour) -> 562.25,
        (t0 / hour + 1) -> 1406.25)
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      all(fluxes) should include(
        """map(fn: (r) => ({r with _value: r._value * r._value}))""")
    }
  }

  test("sum(value*value) composes with tags[] grouping: a TRUSTED grouped " +
    "windowed-sums response for the squared branch folds without samples") {
    // aggregate-shaped (no _time ⇒ trusted windowed-sums parse), keyed by
    // the grouped tag — a server that ran the pushed fused program. The
    // program carries TWO marked branches: the square-map sum (branch 0)
    // and the hidden occupancy count (branch 1, r15 — it materializes
    // string-only groups; its counts are never read by the final
    // aggregate, only its keys)
    val windowedSq =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,double,string,string
        |#group,false,false,true,true,false,true,false
        |#default,_result,,,,,,
        |,result,table,_start,_stop,_value,entity_id,_graft_agg
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z,562.25,sensor.temp,0
        |,_result,1,2024-01-01T01:00:00Z,2024-01-01T02:00:00Z,1406.25,sensor.temp,0
        |,_result,2,2024-01-01T01:00:00Z,2024-01-01T02:00:00Z,12.25,sensor.hum,0
        |
        |#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,long,string,string
        |#group,false,false,true,true,false,true,false
        |#default,_result,,,,,,
        |,result,table,_start,_stop,_value,entity_id,_graft_agg
        |,_result,3,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z,2,sensor.temp,1
        |,_result,4,2024-01-01T01:00:00Z,2024-01-01T02:00:00Z,3,sensor.temp,1
        |,_result,5,2024-01-01T01:00:00Z,2024-01-01T02:00:00Z,1,sensor.hum,1
        |""".stripMargin
    withTransport(windowedSq) { seen =>
      val df = bounded()
        .groupBy(col("tags").getItem("entity_id").as("entity"),
          expr("time_ms div 3600000").as("h"))
        .agg(sum(col("value") * col("value")).as("s2"))
      df.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      val rows = df.collect().map(r =>
        (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      rows shouldBe Map(
        ("sensor.temp", t0 / hour) -> 562.25,
        ("sensor.temp", t0 / hour + 1) -> 1406.25,
        ("sensor.hum", t0 / hour + 1) -> 12.25)
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.size shouldBe 1
      fluxes.head should include(
        """map(fn: (r) => ({r with _value: r._value * r._value}))""")
      fluxes.head should include("""group(columns: ["entity_id"])""")
    }
  }

  test("stddev_samp(value) DECLINES the rewrite: Spark's Welford fold is " +
    "not the raw-moment form and a push must never change a result") {
    withTransport(cannedCsv) { _ =>
      val df = bounded()
        .groupBy(expr("time_ms div 3600000").as("h"))
        .agg(stddev_samp(col("value")).as("sd"))
      df.queryExecution.optimizedPlan.toString should not include "InfluxBucketRollup"
      // the unpushed plan still answers (raw scan + client aggregate)
      val rows = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      rows.keySet shouldBe Set(t0 / hour, t0 / hour + 1)
    }
  }

  test("a bare attribute group key resolved through a lower Project alias " +
    "rewrites (regression: asInstanceOf[NamedExpression] CCE)") {
    withTransport(cannedCsv) { _ =>
      val df = bounded()
        .select(expr("time_ms div 3600000").as("h"), col("value"))
        .groupBy("h")
        .agg(count(lit(1)).as("n"), max(col("value")).as("mx"))
      df.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      val rows = df.collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      rows shouldBe Map(
        (t0 / hour) -> ((2L, 21.5)),
        (t0 / hour + 1) -> ((2L, 30.0)))
    }
  }

  test("GROUP BY measurement + time bucket pushes the composed " +
    "group(columns:) |> window() shape and matches the unpushed twin") {
    // two measurements interleaved across the two hours
    val twoMeas =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,double,string,string
        |#group,false,false,true,true,false,false,true,true
        |#default,_result,,,,,,,
        |,result,table,_start,_stop,_time,_value,_field,_measurement
        |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:00:07Z,1.0,value,ha_states
        |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:30:00Z,2.0,value,ha_states
        |,_result,1,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:10:00Z,10.0,value,units
        |,_result,1,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T01:20:00Z,20.0,value,units
        |""".stripMargin
    withTransport(twoMeas) { seen =>
      def roll(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("measurement"), expr("time_ms div 3600000").as("h"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
      val base = influx().filter(col("time_ms") >= t0 && col("time_ms") < t0 + day)
      val pushed = roll(base)
      pushed.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      val rows = pushed.collect().map(r =>
        (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      all(fluxes) should include("""group(columns: ["_measurement"])""")
      val unpushed = roll(base.filter(col("value") > -1e9))
      unpushed.queryExecution.optimizedPlan.toString should not include "InfluxBucketRollup"
      val expect = unpushed.collect().map(r =>
        (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
      rows shouldBe expect
      rows shouldBe Map(
        ("ha_states", t0 / hour) -> ((2L, 3.0)),
        ("units", t0 / hour) -> ((1L, 10.0)),
        ("units", t0 / hour + 1) -> ((1L, 20.0)))
    }
  }

  test("negative epochs: the truncating `div` shape declines the rewrite " +
    "(floorDiv mismatch) while floor(time_ms / W) still pushes exactly") {
    // samples straddling 1970: -1000ms and +1000ms fall in ONE truncating
    // div-1h bucket (0) but TWO floorDiv buckets (-1 and 0)
    val straddle =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,double,string,string
        |#group,false,false,true,true,false,false,true,true
        |#default,_result,,,,,,,
        |,result,table,_start,_stop,_time,_value,_field,_measurement
        |,_result,0,1969-12-31T00:00:00Z,1970-01-02T00:00:00Z,1969-12-31T23:59:59Z,1.0,value,ha_states
        |,_result,0,1969-12-31T00:00:00Z,1970-01-02T00:00:00Z,1970-01-01T00:00:01Z,2.0,value,ha_states
        |""".stripMargin
    withTransport(straddle) { _ =>
      // no lower time bound: bounds.startMs stays at the negative MinTimeMs
      val base = influx().filter(col("time_ms") < 86400000L)
      val div = base.groupBy(expr("time_ms div 3600000").as("h"))
        .agg(count(lit(1)).as("n"))
      div.queryExecution.optimizedPlan.toString should not include "InfluxBucketRollup"
      div.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
        Map(0L -> 2L) // truncating semantics preserved by NOT rewriting
      val flr = base.groupBy(floor(col("time_ms") / 3600000).as("h"))
        .agg(count(lit(1)).as("n"))
      flr.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      flr.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
        Map(-1L -> 1L, 0L -> 1L)
    }
  }

  test("a count response that ignored window() — one range-wide row — is " +
    "untrusted: never attributed to the first bucket") {
    val rangeWide =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,long
        |#group,false,false,true,true,false
        |#default,_result,,,,
        |,result,table,_start,_stop,_value
        |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,4
        |""".stripMargin
    withTransport(rangeWide) { _ =>
      val rows = bounded()
        .groupBy(expr("time_ms div 3600000").as("h"))
        .agg(count(lit(1)).as("n"))
        .collect()
      // untrusted → local fallback; the response has no raw samples, so
      // the honest answer from evidence on hand is zero buckets — NOT a
      // fabricated 4-count in the first hour
      rows shouldBe empty
    }
  }

  test("parseWindowedCounts validation: aligned trusted; clipped first " +
    "window normalized; unaligned or range-spanning rows untrusted") {
    val hourMs = 3600000L
    def csvOf(rows: (String, String, Long)*) = graft.sources.FluxCsv(
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,long
        |#group,false,false,true,true,false
        |#default,_result,,,,
        |,result,table,_start,_stop,_value
        |""".stripMargin + rows.zipWithIndex.map { case ((s, e, v), i) =>
        s",_result,$i,$s,$e,$v"
      }.mkString("", "\n", "\n"))
    // aligned
    graft.sources.InfluxScan.parseWindowedCounts(
      csvOf(("2024-01-01T00:00:00Z", "2024-01-01T01:00:00Z", 7L)),
      hourMs, t0) shouldBe Some(Map((Nil, t0) -> 7L))
    // clipped first window (range starts mid-bucket): trusted, key
    // normalized to the floorDiv bucket start
    graft.sources.InfluxScan.parseWindowedCounts(
      csvOf(("2024-01-01T00:30:00Z", "2024-01-01T01:00:00Z", 3L)),
      hourMs, t0 + 1800000L) shouldBe Some(Map((Nil, t0) -> 3L))
    // unaligned start that is NOT the range start: untrusted
    graft.sources.InfluxScan.parseWindowedCounts(
      csvOf(("2024-01-01T00:30:00Z", "2024-01-01T01:00:00Z", 3L)),
      hourMs, t0) shouldBe None
    // a row spanning past its bucket end: untrusted
    graft.sources.InfluxScan.parseWindowedCounts(
      csvOf(("2024-01-01T00:00:00Z", "2024-01-02T00:00:00Z", 4L)),
      hourMs, t0) shouldBe None
  }

  test("the rewritten result matches the unpushed aggregation bit-for-bit " +
    "(min/max/count over the same canned samples)") {
    withTransport(cannedCsv) { _ =>
      val pushed = bounded()
        .groupBy(expr("time_ms div 3600000").as("h"))
        .agg(count(lit(1)).as("n"), min(col("value")).as("mn"),
          max(col("value")).as("mx"), min(col("time_ms")).as("mnt"),
          max(col("time_ms")).as("mxt"))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4),
            r.getLong(5)))).toMap
      // unpushed twin: an extra value predicate (true for every canned
      // sample) is untranslatable, so the rule declines and the raw
      // samples aggregate in Spark
      val unpushed = bounded()
        .filter(col("value") > -1e9)
        .groupBy(expr("time_ms div 3600000").as("h"))
        .agg(count(lit(1)).as("n"), min(col("value")).as("mn"),
          max(col("value")).as("mx"), min(col("time_ms")).as("mnt"),
          max(col("time_ms")).as("mxt"))
      unpushed.queryExecution.optimizedPlan.toString should not include "InfluxBucketRollup"
      val expect = unpushed.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4),
          r.getLong(5)))).toMap
      pushed shouldBe expect
    }
  }

  test("max_by/min_by(value, time_ms) per hour pushes as the Flux last()/" +
    "first() decomposition and matches the unpushed aggregation") {
    withTransport(cannedCsv) { seen =>
      val df = bounded()
        .groupBy(expr("time_ms div 3600000").as("h"))
        .agg(max_by(col("value"), col("time_ms")).as("last_v"),
          min_by(col("value"), col("time_ms")).as("first_v"))
      df.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      val rows = df.collect().map(r =>
        r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      rows shouldBe Map(
        (t0 / hour) -> ((10.0, 21.5)),        // last 00:30, first 00:00:07
        (t0 / hour + 1) -> ((30.0, 22.5)))    // last 01:45, first 01:00:07
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      // ONE fused program: the last-VALUE branch sorts by _time keeping
      // string samples in play (value_str stringify); the ordering slot's
      // max-time branch rides its own time-pruned keep() — both desc
      fluxes.size shouldBe 1
      val p = fluxes.head
      p.sliding("""sort(columns: ["_time"], desc: true)""".length)
        .count(_ == """sort(columns: ["_time"], desc: true)""") should be >= 2
      p should include("string(v: r._value)")
      p should include("""keep(columns: ["_time", "_measurement", "_field"])""")
      p should include("window(every: 3600000ms)")
    }
  }

  test("bucket-free grouping: current value per measurement pushes with " +
    "max_by, while the same grouping without it stays on the V2 path") {
    withTransport(cannedCsv) { _ =>
      val df = bounded()
        .groupBy(col("measurement"))
        .agg(max_by(col("value"), col("time_ms")).as("last_v"),
          max(col("time_ms")).as("last_t"))
      df.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      val rows = df.collect().map(r =>
        r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
      rows shouldBe Map("ha_states" -> ((30.0, t0 + hour + 2700000L)))
      // control: no max_by → the rule declines (V2 aggregate pushdown
      // already owns that shape) — no rollup leaf in the plan
      val control = bounded().groupBy(col("measurement"))
        .agg(count(lit(1)).as("n"))
      control.queryExecution.optimizedPlan.toString should
        not include "InfluxBucketRollup"
    }
  }

  test("bucket-free GROUP BY tags['k'] with plain count/sum/min claims " +
    "the rollup (V2 can never see a map-extraction key) and merges the " +
    "default-hour partials ≡ the unpushed aggregation") {
    withTransport(twoEntityCsv) { seen =>
      def agg(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("tags").getItem("entity_id").as("entity"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("s"),
          min(col("time_ms")).as("mn"))
      val pushed = agg(bounded())
      pushed.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      val rows = pushed.collect().map(r => Option(r.getString(0)) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
      rows shouldBe Map(
        Some("sensor.temp") -> ((2L, 31.5, t0 + 7000L)),
        Some("sensor.hum") -> ((2L, 115.0, t0 + 600000L)),
        None -> ((1L, 7.0, t0 + hour + 2400000L)))
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      all(fluxes) should include("""group(columns: ["entity_id"])""")
      // the unpushed twin agrees (residual value predicate declines)
      val unpushed = agg(bounded().filter(col("value") > -1e9))
      unpushed.queryExecution.optimizedPlan.toString should
        not include "InfluxBucketRollup"
      unpushed.collect().map(r => Option(r.getString(0)) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap shouldBe rows
    }
  }

  test("global last (no grouping at all) merges bucket partials to one row") {
    withTransport(cannedCsv) { _ =>
      val df = bounded()
        .agg(max_by(col("value"), col("time_ms")).as("last_v"),
          min_by(col("value"), col("time_ms")).as("first_v"))
      df.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      val r = df.head()
      (r.getDouble(0), r.getDouble(1)) shouldBe ((30.0, 21.5))
    }
  }

  private val twoEntityCsv =
    """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,double,string,string,string
      |#group,false,false,true,true,false,false,true,true,true
      |#default,_result,,,,,,,,
      |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:00:07Z,21.5,value,ha_states,sensor.temp
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:30:00Z,10.0,value,ha_states,sensor.temp
      |,_result,1,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:10:00Z,55.0,value,ha_states,sensor.hum
      |,_result,1,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T01:20:00Z,60.0,value,ha_states,sensor.hum
      |,_result,2,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T01:40:00Z,7.0,value,ha_states,
      |""".stripMargin

  test("GROUP BY tags['entity_id'] + hour bucket pushes group(columns:) " +
    "over the tag column; the untagged sample groups under NULL") {
    withTransport(twoEntityCsv) { seen =>
      val df = bounded()
        .groupBy(col("tags").getItem("entity_id").as("entity"),
          expr("time_ms div 3600000").as("h"))
        .agg(count(lit(1)).as("n"), max(col("time_ms")).as("mxt"))
      df.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      val rows = df.collect().map(r =>
        (Option(r.getString(0)), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap
      rows shouldBe Map(
        (Some("sensor.temp"), t0 / hour) -> ((2L, t0 + 1800000L)),
        (Some("sensor.hum"), t0 / hour) -> ((1L, t0 + 600000L)),
        (Some("sensor.hum"), t0 / hour + 1) -> ((1L, t0 + hour + 1200000L)),
        (None, t0 / hour + 1) -> ((1L, t0 + hour + 2400000L)))
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      all(fluxes) should include("""group(columns: ["entity_id"])""")
      // the time-pruned queries must keep the tag column alive
      all(fluxes.filter(_.contains("keep(columns:"))) should
        include(""""entity_id"""")
    }
  }

  test("per-tag grouping ≡ the unpushed aggregation on the same samples") {
    withTransport(twoEntityCsv) { _ =>
      def agg(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("tags").getItem("entity_id").as("entity"),
          expr("time_ms div 3600000").as("h"))
        .agg(count(lit(1)).as("n"), min(col("value")).as("mn"))
        .collect().map(r => (Option(r.getString(0)), r.getLong(1)) ->
          ((r.getLong(2), r.getDouble(3)))).toMap
      val pushed = agg(bounded())
      val unpushedDf = bounded().filter(col("value") > -1e9)
      unpushedDf.queryExecution.optimizedPlan.toString should
        not include "InfluxBucketRollup"
      agg(unpushedDf) shouldBe pushed
    }
  }

  test("a trusted windowed grouped count response keyed by the tag " +
    "column folds without parsing samples; empty tag normalizes to NULL") {
    val windowedByEntity =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,long,string
        |#group,false,false,true,true,false,true
        |#default,_result,,,,,
        |,result,table,_start,_stop,_value,entity_id
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z,4,sensor.temp
        |,_result,1,2024-01-01T01:00:00Z,2024-01-01T02:00:00Z,2,sensor.hum
        |,_result,2,2024-01-01T01:00:00Z,2024-01-01T02:00:00Z,3,
        |""".stripMargin
    withTransport(windowedByEntity) { _ =>
      val rows = bounded()
        .groupBy(col("tags").getItem("entity_id").as("entity"),
          expr("time_ms div 3600000").as("h"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r =>
          (Option(r.getString(0)), r.getLong(1)) -> r.getLong(2)).toMap
      rows shouldBe Map(
        (Some("sensor.temp"), t0 / hour) -> 4L,
        (Some("sensor.hum"), t0 / hour + 1) -> 2L,
        (None, t0 / hour + 1) -> 3L)
    }
  }

  test("a tags['k'] equality filter pushes as a Flux tag filter, and the " +
    "executor re-checks it on fallback samples a lying server lets through") {
    withTransport(twoEntityCsv) { seen =>
      val df = bounded()
        .filter(col("tags").getItem("entity_id") === "sensor.temp")
        .groupBy(expr("time_ms div 3600000").as("h"))
        .agg(count(lit(1)).as("n"), min(col("value")).as("mn"))
      df.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      // the canned response contains BOTH entities and an untagged row —
      // a server that ignored the pushed filter — so the counts must come
      // from the re-enforced temp samples only
      val rows = df.collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      rows shouldBe Map((t0 / hour) -> ((2L, 10.0)))
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      all(fluxes) should include(
        """filter(fn: (r) => r["entity_id"] == "sensor.temp")""")
      // time-pruned queries keep the filtered tag for the re-check
      all(fluxes.filter(_.contains("keep(columns:"))) should
        include(""""entity_id"""")
    }
  }

  test("a TRUSTED windowed count that ignored the pushed tag filter is " +
    "caught: the tagEq key rides the group key and non-matching groups drop") {
    // aggregate-shaped response (no _time ⇒ trusted parse) carrying THREE
    // entity groups — a server that honored window()+group() but ignored
    // the pushed tags filter; only sensor.temp's counts may survive
    val windowedAllEntities =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,long,string
        |#group,false,false,true,true,false,true
        |#default,_result,,,,,
        |,result,table,_start,_stop,_value,entity_id
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z,4,sensor.temp
        |,_result,1,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z,9,sensor.hum
        |,_result,2,2024-01-01T01:00:00Z,2024-01-01T02:00:00Z,2,sensor.temp
        |,_result,3,2024-01-01T01:00:00Z,2024-01-01T02:00:00Z,7,
        |""".stripMargin
    withTransport(windowedAllEntities) { seen =>
      val df = bounded()
        .filter(col("tags").getItem("entity_id") === "sensor.temp")
        .groupBy(expr("time_ms div 3600000").as("h"))
        .agg(count(lit(1)).as("n"))
      df.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      val rows = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      rows shouldBe Map((t0 / hour) -> 4L, (t0 / hour + 1) -> 2L)
      // the POSTed count query asked for the tag in its group key (that is
      // what makes the per-group check possible)
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.count(f => f.contains("count(") &&
        f.contains("""group(columns: ["entity_id"])""")) shouldBe 1
    }
  }

  test("a tags['k'] IN (v1, v2) filter claims the rollup, pushes Flux " +
    "contains() and re-enforces the SET on fallback samples; OR-of-" +
    "equalities is the same push; results ≡ unpushed") {
    withTransport(twoEntityCsv) { seen =>
      def agg(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(expr("time_ms div 3600000").as("h"))
        .agg(count(lit(1)).as("n"), min(col("value")).as("mn"))
      val in = agg(bounded().filter(
        col("tags").getItem("entity_id").isin("sensor.temp", "sensor.hum")))
      in.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      // the canned response also carries an untagged row — a server that
      // ignored the pushed set; the executor re-checks membership
      val rows = in.collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      rows shouldBe Map(
        (t0 / hour) -> ((3L, 10.0)),       // temp×2 + hum×1
        (t0 / hour + 1) -> ((1L, 60.0)))   // hum×1 (untagged 7.0 dropped)
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      all(fluxes) should include("contains(value: r[\"entity_id\"], " +
        "set: [\"sensor.temp\", \"sensor.hum\"])")
      // OR-of-equalities claims the same rewrite with the same answer
      val or = agg(bounded().filter(
        col("tags").getItem("entity_id") === "sensor.temp" ||
          col("tags").getItem("entity_id") === "sensor.hum"))
      or.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      or.collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap shouldBe rows
      // unpushed twin (extra untranslatable conjunct declines the rule)
      val unpushed = agg(bounded().filter(col("value") > -1e9 &&
        col("tags").getItem("entity_id").isin("sensor.temp", "sensor.hum")))
      unpushed.queryExecution.optimizedPlan.toString should
        not include "InfluxBucketRollup"
      unpushed.collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap shouldBe rows
    }
  }

  test("a TRUSTED windowed count that ignored the pushed tag SET is " +
    "caught: groups outside the set drop before contaminating buckets") {
    // aggregate-shaped response carrying an out-of-set entity group — only
    // the temp/hum groups may fold
    val windowedAll =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,long,string
        |#group,false,false,true,true,false,true
        |#default,_result,,,,,
        |,result,table,_start,_stop,_value,entity_id
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z,4,sensor.temp
        |,_result,1,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z,2,sensor.hum
        |,_result,2,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z,9,sensor.co2
        |,_result,3,2024-01-01T01:00:00Z,2024-01-01T02:00:00Z,7,
        |""".stripMargin
    withTransport(windowedAll) { _ =>
      val rows = bounded()
        .filter(col("tags").getItem("entity_id")
          .isin("sensor.temp", "sensor.hum"))
        .groupBy(expr("time_ms div 3600000").as("h"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      rows shouldBe Map((t0 / hour) -> 6L) // 4 + 2; co2 and untagged drop
    }
  }

  test("conjuncts on one tag key INTERSECT: IN ∧ equality narrows to the " +
    "equality, and a contradictory pair declines the rewrite") {
    withTransport(twoEntityCsv) { seen =>
      val both = bounded().filter(
        col("tags").getItem("entity_id").isin("sensor.temp", "sensor.hum") &&
          col("tags").getItem("entity_id") === "sensor.temp")
        .groupBy(expr("time_ms div 3600000").as("h"))
        .agg(count(lit(1)).as("n"))
      both.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      both.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
        Map((t0 / hour) -> 2L)
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      all(fluxes) should include(
        """filter(fn: (r) => r["entity_id"] == "sensor.temp")""")
      // contradictory: k='a' AND k='b' → empty intersection → decline
      val contra = bounded().filter(
        col("tags").getItem("entity_id") === "sensor.temp" &&
          col("tags").getItem("entity_id") === "sensor.hum")
        .groupBy(expr("time_ms div 3600000").as("h"))
        .agg(count(lit(1)).as("n"))
      contra.queryExecution.optimizedPlan.toString should
        not include "InfluxBucketRollup"
      contra.collect() shouldBe empty
    }
  }

  test("isnotnull(tags['k']) without an equality on the same key declines " +
    "the rewrite (it would drop rows the push can't express)") {
    withTransport(twoEntityCsv) { _ =>
      val df = bounded()
        .filter(col("tags").getItem("entity_id").isNotNull)
        .groupBy(expr("time_ms div 3600000").as("h"))
        .agg(count(lit(1)).as("n"))
      df.queryExecution.optimizedPlan.toString should
        not include "InfluxBucketRollup"
      // and the unpushed plan still answers correctly: untagged row drops
      val rows = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      rows shouldBe Map((t0 / hour) -> 3L, (t0 / hour + 1) -> 1L)
    }
  }

  // --- value-histogram bins: GROUP BY floor(value ∘ lit) -----------------

  test("GROUP BY floor(value / w) claims the rollup as a pushed value " +
    "histogram; a raw-sample response bins locally, partials merge " +
    "across the default-hour windows") {
    withTransport(cannedCsv) { seen =>
      // values 21.5, 10.0 | 22.5, 30.0 → /10 bins 2, 1 | 2, 3; bin 2
      // spans BOTH hours — its two window partials must re-merge
      val df = bounded()
        .groupBy(floor(col("value") / 10.0).as("bin"))
        .agg(count(lit(1)).as("n"), min(col("value")).as("mn"))
      df.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      val rows = df.collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      rows shouldBe Map(2L -> ((2L, 21.5)), 1L -> ((1L, 10.0)),
        3L -> ((1L, 30.0)))
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes should not be empty
      all(fluxes) should include("import \"math\"")
      all(fluxes) should include(
        "math.floor(x: float(v: r._value) / 10.0)")
      all(fluxes) should include("""group(columns: ["bin"])""")
      // the count query's column prune keeps the computed bin alive
      all(fluxes.filter(_.contains("keep(columns:"))) should
        include(""""bin"""")
    }
  }

  test("floor(value * k) composes the bin with an hour bucket: " +
    "group(columns: [bin]) |> window(every:)") {
    withTransport(cannedCsv) { seen =>
      val df = bounded()
        .groupBy(floor(col("value") * 0.1).as("bin"),
          expr("time_ms div 3600000").as("h"))
        .agg(count(lit(1)).as("n"))
      df.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      val rows = df.collect().map(r =>
        (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      rows shouldBe Map(
        (2L, t0 / hour) -> 1L, (1L, t0 / hour) -> 1L,
        (2L, t0 / hour + 1) -> 1L, (3L, t0 / hour + 1) -> 1L)
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      // the Flux literal is the EXACT double 0.1 multiplies by (its
      // plain-decimal expansion), never a re-rounded "0.1"
      all(fluxes) should include("math.floor(x: float(v: r._value) * 0.1000000000000000055511151231257827021181583404541015625)")
      all(fluxes) should include("window(every: 3600000ms)")
    }
  }

  test("a trusted windowed binned count folds without samples: integral " +
    "Go-float cells canonicalize ('2' + '2.0' merge) and 'NULL' is the " +
    "non-numeric bin") {
    val windowedByBin =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,long,string
        |#group,false,false,true,true,false,true
        |#default,_result,,,,,
        |,result,table,_start,_stop,_value,bin
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z,4,2
        |,_result,1,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z,3,2.0
        |,_result,2,2024-01-01T01:00:00Z,2024-01-01T02:00:00Z,5,1
        |,_result,3,2024-01-01T01:00:00Z,2024-01-01T02:00:00Z,2,NULL
        |""".stripMargin
    withTransport(windowedByBin) { _ =>
      val rows = bounded()
        .groupBy(floor(col("value") / 10.0).as("bin"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r =>
          (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getLong(1))
        .toMap
      rows shouldBe Map(Some(2L) -> 7L, Some(1L) -> 5L, None -> 2L)
    }
  }

  test("an aggregate-shaped response whose bin cells do not canonicalize " +
    "is NOT trusted — mis-binned counts can never contaminate the result") {
    val garbageBins =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,long,string
        |#group,false,false,true,true,false,true
        |#default,_result,,,,,
        |,result,table,_start,_stop,_value,bin
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z,4,abc
        |""".stripMargin
    withTransport(garbageBins) { _ =>
      // untrusted → fall back to sample parsing; the response carries no
      // samples, so the shard contributes nothing (omission-equivalent,
      // like every undetectable lying-server case) — the point is the
      // 4-count never lands in any bin
      bounded()
        .groupBy(floor(col("value") / 10.0).as("bin"))
        .agg(count(lit(1)).as("n"))
        .collect() shouldBe empty
    }
  }

  private val binMixedCsv =
    """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,string,string,string,string
      |#group,false,false,true,true,false,false,true,true,true
      |#default,_result,,,,,,,,
      |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:00:07Z,21.5,value,ha_states,sensor.temp
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:30:00Z,on,value,ha_states,sensor.temp
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T01:45:00Z,30.0,value,ha_states,sensor.temp
      |""".stripMargin

  test("value-histogram pushed ≡ unpushed: a string sample bins to NULL " +
    "with a NULL sum, exactly like floor over the raw scan's NULL value") {
    withTransport(binMixedCsv) { _ =>
      def agg(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(floor(col("value") / 10.0).as("bin"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
        .collect().map(r =>
          (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
            ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
        .toMap
      val pushedDf = bounded()
      val pushed = agg(pushedDf)
      pushed shouldBe Map(
        Some(2L) -> ((1L, Some(21.5))), Some(3L) -> ((1L, Some(30.0))),
        None -> ((1L, None)))
      // untranslatable conjunct (keeps every row) declines the rewrite
      val unpushedDf = bounded().filter(
        org.apache.spark.sql.functions.length(col("field")) >= 0)
      unpushedDf.groupBy(floor(col("value") / 10.0)).agg(count(lit(1)))
        .queryExecution.optimizedPlan.toString should
        not include "InfluxBucketRollup"
      agg(unpushedDf) shouldBe pushed
    }
  }

  test("bins compose with the sample-pull specs: last value per bin " +
    "(max_by) folds locally with bins computed from each sample") {
    withTransport(binMixedCsv) { seen =>
      // values 21.5 (00:00), "on" (00:30), 30.0 (01:45) → bins 2, NULL, 3
      val df = bounded()
        .groupBy(floor(col("value") / 10.0).as("bin"))
        .agg(count(lit(1)).as("n"),
          max_by(col("value"), col("time_ms")).as("last_v"),
          max(col("time_ms")).as("last_t"))
      df.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      val rows = df.collect().map(r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
          ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)),
            r.getLong(3)))).toMap
      rows shouldBe Map(
        Some(2L) -> ((1L, Some(21.5), t0 + 7000L)),
        Some(3L) -> ((1L, Some(30.0), t0 + hour + 2700000L)),
        None -> ((1L, None, t0 + 1800000L)))
      // the last-value sample pull (the one with the value_str stringify;
      // the max_time pull sorts the same way but keeps only time columns)
      // must compute the bin BEFORE stringifying — the bin sees the raw
      // numeric
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      all(fluxes) should include("math.floor(x: float(v: r._value)")
      val lastPull = fluxes.filter(_.contains("_value: string(v: r._value)"))
      lastPull should not be empty
      lastPull.foreach { f =>
        f.indexOf("math.floor") should be <
          f.indexOf("_value: string(v: r._value)")
      }
    }
  }

  test("a user-written cast around value declines the bin rewrite: " +
    "floor(CAST(value AS INT)/10.0) truncates BEFORE binning and must " +
    "never be conflated with floor(value/10.0)") {
    withTransport(cannedCsv) { _ =>
      val df = bounded()
        .groupBy(floor(col("value").cast("int") / 10.0).as("bin"))
        .agg(count(lit(1)).as("n"))
      df.queryExecution.optimizedPlan.toString should
        not include "InfluxBucketRollup"
      // and the unpushed plan answers with the truncate-first semantics:
      // 21.5→21→2, 10.0→1, 22.5→22→2, 30.0→3
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
        Map(2L -> 2L, 1L -> 1L, 3L -> 1L)
    }
  }

  test("two bin keys decline the rewrite (both would alias the one Flux " +
    "bin column)") {
    withTransport(cannedCsv) { _ =>
      bounded()
        .groupBy(floor(col("value") / 10.0).as("b1"),
          floor(col("value") / 100.0).as("b2"))
        .agg(count(lit(1)).as("n"))
        .queryExecution.optimizedPlan.toString should
        not include "InfluxBucketRollup"
    }
  }

  // --- fused multi-aggregate programs: one POST per shard ----------------

  private def withTransportFn[T](f: String => String)(
      body: ConcurrentLinkedQueue[String] => T): T = {
    val seen = new ConcurrentLinkedQueue[String]()
    FakeInflux.reads = Some { flux => seen.add(flux); f(flux) }
    try body(seen) finally FakeInflux.reads = None
  }

  test("an honest fused response (marker-stamped branches) folds count " +
    "AND sum from ONE POST — trusted branches, no re-POSTs, no samples") {
    // branch 0 = count windows, branch 1 = sum windows, one header block
    val fusedResp =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,string,string
        |#group,false,false,true,true,false,false
        |#default,_result,,,,,
        |,result,table,_start,_stop,_value,_graft_agg
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z,7,0
        |,_result,1,2024-01-01T01:00:00Z,2024-01-01T02:00:00Z,5,0
        |,_result,2,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z,31.5,1
        |,_result,3,2024-01-01T01:00:00Z,2024-01-01T02:00:00Z,52.5,1
        |""".stripMargin
    withTransportFn(_ => fusedResp) { seen =>
      val rows = bounded()
        .groupBy(expr("time_ms div 3600000").as("h"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
        .collect().map(r =>
          r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      rows shouldBe Map(
        (t0 / hour) -> ((7L, 31.5)),
        (t0 / hour + 1) -> ((5L, 52.5)))
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.size shouldBe 1 // both specs answered by the one fused POST
      fluxes.head should include("union(tables: [b0, b1])")
    }
  }

  test("a fused response mixing a trusted agg branch with a marked " +
    "SAMPLE branch folds each under its own contract from one POST") {
    // branch 0 = trusted count windows; branch 1 = min-value sample pulls
    // (its own header block, sample-shaped, marker-stamped)
    val fusedResp =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,string,string
        |#group,false,false,true,true,false,false
        |#default,_result,,,,,
        |,result,table,_start,_stop,_value,_graft_agg
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z,7,0
        |,_result,1,2024-01-01T01:00:00Z,2024-01-01T02:00:00Z,5,0
        |
        |#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,double,string,string,string
        |#group,false,false,true,true,false,false,true,true,false
        |#default,_result,,,,,,,,
        |,result,table,_start,_stop,_time,_value,_field,_measurement,_graft_agg
        |,_result,2,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z,2024-01-01T00:30:00Z,10.0,value,ha_states,1
        |,_result,3,2024-01-01T01:00:00Z,2024-01-01T02:00:00Z,2024-01-01T01:00:07Z,22.5,value,ha_states,1
        |""".stripMargin
    withTransportFn(_ => fusedResp) { seen =>
      val rows = bounded()
        .groupBy(expr("time_ms div 3600000").as("h"))
        .agg(count(lit(1)).as("n"), min(col("value")).as("mn"))
        .collect().map(r =>
          r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      rows shouldBe Map(
        (t0 / hour) -> ((7L, 10.0)),
        (t0 / hour + 1) -> ((5L, 22.5)))
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.size shouldBe 1
      // the marker column never leaks into the sample's tag map (it is a
      // reserved column) — nothing to assert on rows beyond the values,
      // which already prove branch attribution
    }
  }

  test("a LYING fused response — one branch trusted, the other window-" +
    "spanning — re-POSTs only the failed branch's single-spec query") {
    val fusedBad =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,string,string
        |#group,false,false,true,true,false,false
        |#default,_result,,,,,
        |,result,table,_start,_stop,_value,_graft_agg
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z,7,0
        |,_result,1,2024-01-01T01:00:00Z,2024-01-01T02:00:00Z,5,0
        |,_result,2,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,999.9,1
        |""".stripMargin
    val honestSum =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,double
        |#group,false,false,true,true,false
        |#default,_result,,,,
        |,result,table,_start,_stop,_value
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z,31.5
        |,_result,1,2024-01-01T01:00:00Z,2024-01-01T02:00:00Z,52.5
        |""".stripMargin
    withTransportFn(f => if (f.contains("union(")) fusedBad else honestSum) { seen =>
      val rows = bounded()
        .groupBy(expr("time_ms div 3600000").as("h"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
        .collect().map(r =>
          r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      // count came from the trusted fused branch; the range-spanning sum
      // branch was REFUSED and re-asked singly — 999.9 never lands
      rows shouldBe Map(
        (t0 / hour) -> ((7L, 31.5)),
        (t0 / hour + 1) -> ((5L, 52.5)))
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.size shouldBe 2
      fluxes.head should include("union(")
      fluxes(1) should not include "union("
      fluxes(1) should include("""sum(column: "_value")""")
    }
  }

  test("a string-typed newest sample yields NULL last value while its " +
    "timestamp still wins the merge") {
    val mixedCsv =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,string,string,string,string
        |#group,false,false,true,true,false,false,true,true,true
        |#default,_result,,,,,,,,
        |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
        |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:00:07Z,21.5,value,ha_states,sensor.temp
        |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:30:00Z,on,value,ha_states,sensor.temp
        |""".stripMargin
    withTransport(mixedCsv) { _ =>
      val df = bounded()
        .agg(max_by(col("value"), col("time_ms")).as("last_v"),
          min_by(col("value"), col("time_ms")).as("first_v"),
          max(col("time_ms")).as("last_t"))
      df.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      val r = df.head()
      r.isNullAt(0) shouldBe true          // newest sample is the string
      r.getDouble(1) shouldBe 21.5         // oldest is numeric
      r.getLong(2) shouldBe t0 + 1800000L  // string sample's ts still wins
    }
  }

  // three entities over two hours + one untagged row: distinct per hour
  // = {temp, hum} → 2 and {temp, hum, door} → 3 (NULL never counts)
  private val multiEntityCsv =
    """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,dateTime:RFC3339,double,string,string,string
      |#group,false,false,true,true,false,false,true,true,true
      |#default,_result,,,,,,,,
      |,result,table,_start,_stop,_time,_value,_field,_measurement,entity_id
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:00:07Z,21.5,value,ha_states,sensor.temp
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:30:00Z,10.0,value,ha_states,sensor.temp
      |,_result,1,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:10:00Z,55.0,value,ha_states,sensor.hum
      |,_result,2,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T00:40:00Z,7.0,value,ha_states,
      |,_result,0,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T01:05:00Z,22.0,value,ha_states,sensor.temp
      |,_result,1,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T01:20:00Z,60.0,value,ha_states,sensor.hum
      |,_result,3,2024-01-01T00:00:00Z,2024-01-02T00:00:00Z,2024-01-01T01:45:00Z,1.0,value,ha_states,switch.door
      |""".stripMargin

  test("COUNT(DISTINCT tags['k']) per bucket pushes: the leaf groups by " +
    "the counted tag, distinct leaf rows per bucket are exact across " +
    "shards, and NULL (absent tag) never counts") {
    withTransport(multiEntityCsv) { seen =>
      val df = bounded(parts = 2)
        .groupBy(expr("time_ms div 3600000").as("h"))
        .agg(countDistinct(col("tags").getItem("entity_id")).as("n_entities"),
          count(lit(1)).as("n_rows"))
      df.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      df.collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap shouldBe Map(
        (t0 / hour) -> ((2L, 4L)), (t0 / hour + 1) -> ((3L, 3L)))
      // every POST groups by the counted tag — rows moved are
      // (entity × bucket), never samples
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.foreach(_ should include("""group(columns: ["entity_id"])"""))
    }
  }

  test("whole-range COUNT(DISTINCT measurement) claims too (bucket-free " +
    "distinct), and COUNT(DISTINCT value) never claims") {
    withTransport(multiEntityCsv) { _ =>
      val dm = bounded().agg(countDistinct(col("measurement")).as("n"))
      dm.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      dm.head().getLong(0) shouldBe 1L
      val dv = bounded().groupBy(expr("time_ms div 3600000").as("h"))
        .agg(countDistinct(col("value")).as("n"))
      dv.queryExecution.optimizedPlan.toString should not include "InfluxBucketRollup"
      // the unpushed fallback still answers exactly
      dv.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
        Map((t0 / hour) -> 4L, (t0 / hour + 1) -> 3L)
    }
  }

  test("shifted buckets compose with the distinct-count rewrite: " +
    "COUNT(DISTINCT tag) per shifted window ≡ unpushed") {
    withTransport(multiEntityCsv) { seen =>
      def q(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(expr("(time_ms + 1800000) div 3600000").as("h"))
        .agg(countDistinct(col("tags").getItem("entity_id")).as("nd"))
      val pushed = q(bounded(parts = 2))
      pushed.queryExecution.optimizedPlan.toString should
        include("InfluxBucketRollup")
      val base = (t0 + 1800000L) / 3600000L
      val got = pushed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got shouldBe Map(base -> 2L, (base + 1) -> 2L, (base + 2) -> 1L)
      val unp = q(bounded().filter(
        org.apache.spark.sql.functions.length(col("field")) >= 0))
      unp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe got
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes.exists(f => f.contains("offset: 1800000ms") &&
        f.contains("""group(columns: ["entity_id"])""")) shouldBe true
    }
  }

  test("distinct-count composes with plain aggregates and a trusted " +
    "grouped windowed count answers it without samples") {
    // a server that honors the grouped windowed count: one (entity,
    // window) row each — the distinct count reads groups, the n_rows sum
    // reads the count cells
    val grouped =
      """#datatype,string,long,dateTime:RFC3339,dateTime:RFC3339,long,string
        |#group,false,false,true,true,false,true
        |#default,_result,,,,,
        |,result,table,_start,_stop,_value,entity_id
        |,_result,0,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z,2,sensor.temp
        |,_result,1,2024-01-01T00:00:00Z,2024-01-01T01:00:00Z,1,sensor.hum
        |,_result,2,2024-01-01T01:00:00Z,2024-01-01T02:00:00Z,1,sensor.temp
        |,_result,3,2024-01-01T01:00:00Z,2024-01-01T02:00:00Z,1,switch.door
        |""".stripMargin
    withTransport(grouped) { _ =>
      val df = bounded()
        .groupBy(expr("time_ms div 3600000").as("h"))
        .agg(countDistinct(col("tags").getItem("entity_id")).as("n_entities"),
          count(lit(1)).as("n_rows"))
      df.collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap shouldBe Map(
        (t0 / hour) -> ((2L, 3L)), (t0 / hour + 1) -> ((2L, 2L)))
    }
  }

  test("SELECT DISTINCT tags['k'] claims (the dashboard-variable / SHOW " +
    "TAG VALUES query): the leaf groups by the tag, the final Aggregate " +
    "IS the distinct, the NULL absent-tag group surfaces, and rows " +
    "moved are (group × bucket), never samples") {
    withTransport(multiEntityCsv) { seen =>
      val df = bounded(parts = 2)
        .select(col("tags").getItem("entity_id").as("entity")).distinct()
      df.queryExecution.optimizedPlan.toString should include("InfluxBucketRollup")
      df.collect().map(r => Option(r.getString(0))).toSet shouldBe Set(
        Some("sensor.temp"), Some("sensor.hum"), Some("switch.door"), None)
      val fluxes = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
      fluxes should have size 2
      fluxes.foreach(_ should include("""group(columns: ["entity_id"])"""))
    }
  }

  test("DISTINCT (tag × bucket) claims — 'which sensors reported each " +
    "hour' — and a tag-LIKE filter narrows the pushed population") {
    withTransport(multiEntityCsv) { _ =>
      val pairs = bounded()
        .select(col("tags").getItem("entity_id").as("e"),
          expr("time_ms div 3600000").as("h")).distinct()
      pairs.queryExecution.optimizedPlan.toString should
        include("InfluxBucketRollup")
      pairs.collect().map(r =>
        (Option(r.getString(0)), r.getLong(1))).toSet shouldBe Set(
        (Some("sensor.temp"), t0 / hour), (Some("sensor.hum"), t0 / hour),
        (None, t0 / hour), (Some("sensor.temp"), t0 / hour + 1),
        (Some("sensor.hum"), t0 / hour + 1),
        (Some("switch.door"), t0 / hour + 1))
      // composed with the LIKE-family narrowing: the filter is consumed
      // into the pushed regex + the leaf's re-check, so only matching
      // groups survive — NULL and switch.door drop
      val narrowed = bounded()
        .filter(col("tags").getItem("entity_id").like("sensor.%"))
        .select(col("tags").getItem("entity_id").as("e")).distinct()
      narrowed.queryExecution.optimizedPlan.toString should
        include("InfluxBucketRollup")
      narrowed.collect().map(_.getString(0)).toSet shouldBe
        Set("sensor.temp", "sensor.hum")
    }
  }

  test("DISTINCT bucket claims ('which hours have data'); DISTINCT " +
    "measurement alone stays OFF this rule (bare-attribute shape the V2 " +
    "path owns) but still answers exactly") {
    withTransport(multiEntityCsv) { _ =>
      val hours = bounded()
        .select(expr("time_ms div 3600000").as("h")).distinct()
      hours.queryExecution.optimizedPlan.toString should
        include("InfluxBucketRollup")
      hours.collect().map(_.getLong(0)).toSet shouldBe
        Set(t0 / hour, t0 / hour + 1)
      val meas = bounded().select(col("measurement")).distinct()
      meas.queryExecution.optimizedPlan.toString should
        not include "InfluxBucketRollup"
      meas.collect().map(_.getString(0)).toSet shouldBe Set("ha_states")
    }
  }
}
