package graft

import graft.streaming.StreamingEvents
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

/** Streaming correctness artifact (the one surface the driver's
  * Verify/oracle contract can't gate): drives each streaming twin over the
  * FIXTURE events/documents split into micro-batches, then compares the
  * stream's output against the equivalent batch computation on the same
  * rows — the same equivalences the 7 streaming ScalaTest suites assert,
  * re-run as a standalone main that emits one machine-readable JSON.
  *
  * Usage: runMain graft.StreamingVerify [sfDir] [outFile]
  *
  * Per twin: input rows are ordered by (ts, event_id) and fed in 3
  * micro-batches (so watermarks advance and state crosses batch
  * boundaries), outputs are collected from a memory sink (or foreachBatch
  * for the stateful top-k, whose per-batch emission matters), and the
  * result is compared EXACTLY against the batch operator — modulo each
  * twin's documented horizon: append-mode windows only flush once the
  * watermark passes, as-of matches only finalize past the watermark, open
  * sessions surface as their latest running update.
  */
object StreamingVerify {

  final case class Ev(event_id: Long, user_id: Long, event_type: String,
                      value: Double, ts: Timestamp)

  private final case class Res(name: String, streamRows: Long, batchRows: Long,
                               ok: Boolean, detail: String)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = args.lift(1).getOrElse("STREAMING.json")
    val spark = GraftSession(logLevel = "ERROR")
    import spark.implicits._

    // fixture events in (ts, event_id) order — the arrival order every
    // twin's watermark logic assumes; 3 chunks = state crosses 2 batch
    // boundaries
    val evRows = graft.etl.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))
      .as[Ev].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val chunks = {
      val n = evRows.length
      Seq(evRows.slice(0, n / 3), evRows.slice(n / 3, 2 * n / 3),
        evRows.slice(2 * n / 3, n))
    }
    val maxMs = evRows.map(_.ts.getTime).max

    def runEventStream[T](name: String, build: DataFrame => DataFrame): DataFrame = {
      implicit val ctx = spark.sqlContext
      val source = MemoryStream[Ev]
      val out = build(source.toDF())
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        chunks.foreach { c => source.addData(c.toIndexedSeq); q.processAllAvailable() }
      } finally q.stop()
      spark.table(name)
    }

    val results = Seq.newBuilder[Res]

    // --- dedup: stream dropDuplicates == batch distinct over an input with
    // planted duplicates (fixture ids are unique, so replay chunk 1 inside
    // chunk 2's batch)
    locally {
      implicit val ctx = spark.sqlContext
      val source = MemoryStream[Ev]
      val q = StreamingEvents.dedupedStream(source.toDF()).writeStream
        .format("memory").queryName("sv_dedup").outputMode("append").start()
      try {
        source.addData(chunks(0).toIndexedSeq); q.processAllAvailable()
        source.addData((chunks(1) ++ chunks(0).take(500)).toIndexedSeq)
        q.processAllAvailable()
        source.addData(chunks(2).toIndexedSeq); q.processAllAvailable()
      } finally q.stop()
      val streamIds = spark.table("sv_dedup")
        .select("event_id").as[Long].collect().sorted
      val batchIds = evRows.map(_.event_id).distinct.sorted
      results += Res("dedup_stream", streamIds.length, batchIds.length,
        streamIds.sameElements(batchIds) &&
          streamIds.length == streamIds.distinct.length,
        "emitted ids == batch distinct ids, replayed rows dropped")
    }

    // --- sessionize: closed sessions + latest open-session update ==
    // batch sessionize (set of (user, start, end, n))
    locally {
      val updates = runEventStream("sv_sess",
        df => StreamingEvents.sessionizeStream(df).toDF())
        .select("user_id", "session_start_ms", "session_end_ms", "n_events", "closed")
        .as[(Long, Long, Long, Long, Boolean)].collect()
      val closed = updates.filter(_._5).map(u => (u._1, u._2, u._3, u._4))
      // open sessions emit a running update per batch: keep the latest
      // (largest n) per (user, start)
      val open = updates.filterNot(_._5).groupBy(u => (u._1, u._2))
        .map { case ((uid, st), us) =>
          val last = us.maxBy(_._4); (uid, st, last._3, last._4) }
      val stream = (closed ++ open).toSet
      val batch = graft.ext.EventsExt.sessionize(
          evRows.toIndexedSeq.toDF("event_id", "user_id", "event_type", "value", "ts"))
        .select("user_id", "session_start_ms", "session_end_ms", "n_events")
        .as[(Long, Long, Long, Long)].collect().toSet
      results += Res("sessionize_stream", stream.size, batch.size,
        stream == batch,
        "closed + latest-open updates == batch sessions (user,start,end,n)")
    }

    // --- interval join: emitted (error, click) pairs == batch self-join
    // with the identical BETWEEN predicate
    locally {
      val stream = runEventStream("sv_ivj",
        df => StreamingEvents.intervalJoinStream(df))
        .select("error_id", "click_id").as[(Long, Long)].collect().toSet
      val ev = evRows.toIndexedSeq.toDF("event_id", "user_id", "event_type", "value", "ts")
      val batch = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id"),
          col("ts").as("ets"))
        .join(ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts").as("cts")), Seq("user_id"))
        .filter(expr("cts BETWEEN ets - INTERVAL 3600000 MILLISECONDS " +
          "AND ets + INTERVAL 3600000 MILLISECONDS"))
        .select("error_id", "click_id").as[(Long, Long)].collect().toSet
      results += Res("interval_join_stream", stream.size, batch.size,
        stream == batch, "streamed pairs == batch theta-join pairs")
    }

    // --- as-of: finalized matches == the sequential latest-click-at-or-
    // before model, restricted to purchases the final watermark (max ts -
    // 2h) has passed — later purchases are still legitimately pending
    locally {
      val stream = runEventStream("sv_asof",
        df => StreamingEvents.asofStream(df).toDF())
        .select("event_id", "last_click_value")
        .as[(Long, Option[Double])].collect().toMap
      val wmUs = (maxMs - 7200000L) * 1000L
      def us(t: Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000
      val expected = evRows.groupBy(_.user_id).iterator.flatMap { case (_, rows) =>
        val clicks = rows.filter(_.event_type == "click")
          .map(e => (us(e.ts), e.value)).sortBy(_._1)
        rows.filter(e => e.event_type == "purchase" && us(e.ts) <= wmUs)
          .map { p =>
            val m = clicks.takeWhile(_._1 <= us(p.ts)).lastOption
            p.event_id -> m.map(_._2)
          }
      }.toMap
      results += Res("asof_stream", stream.size, expected.size,
        stream == expected,
        "finalized purchases == sequential as-of model under the watermark")
    }

    // --- hourly windows: append-mode flush ⊆ batch windows, exact where
    // flushed, and COMPLETE for every window the final watermark passed
    locally {
      val stream = runEventStream("sv_hourly",
        df => StreamingEvents.hourlyCounts(df)
          .select(unix_millis(col("window.start")).as("hour_ms"),
            col("event_type"), col("n"), col("sum_value")))
        .as[(Long, String, Long, Double)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
      val batch = graft.ext.EventsExt.hourlyWindows(
          evRows.toIndexedSeq.toDF("event_id", "user_id", "event_type", "value", "ts"))
        .as[(Long, String, Long, Double)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
      val wm = maxMs - 7200000L
      val exact = stream.forall { case (k, v) => batch.get(k).contains(v) }
      val complete = batch.keys.filter(_._1 + 3600000L <= wm)
        .forall(stream.contains)
      results += Res("hourly_stream", stream.size, batch.size,
        exact && complete,
        "flushed windows exact; all watermark-passed windows flushed")
    }

    // --- HLL registers per hour: register max is merge-order-invariant,
    // so flushed windows must be BIT-IDENTICAL to the batch registers —
    // the strongest streaming/batch sketch equivalence (vs the
    // merge-tree-dependent Misra–Gries twin below)
    locally {
      val stream = runEventStream("sv_hll",
        df => StreamingEvents.hllDistinctUsersStream(df)
          .select(unix_millis(col("window.start")).as("hour_ms"),
            col("bucket"), col("r")))
        .as[(Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      val (bucket, rho) = graft.ext.Sketches.hllBucketRho(
        graft.ext.PortableDedup.md5Hash32(col("user_id").cast("string")))
      val batch = evRows.toIndexedSeq
        .toDF("event_id", "user_id", "event_type", "value", "ts")
        .groupBy(window(col("ts"), "1 hour"), bucket.as("bucket"))
        .agg(max(rho).as("r"))
        .select(unix_millis(col("window.start")).as("hour_ms"),
          col("bucket"), col("r"))
        .as[(Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      val wm = maxMs - 7200000L
      val exact = stream.forall { case (k, v) => batch.get(k).contains(v) }
      val complete = batch.keys.filter(_._1 + 3600000L <= wm)
        .forall(stream.contains)
      results += Res("hll_stream", stream.size, batch.size, exact && complete,
        "flushed per-hour HLL registers bit-identical to batch")
    }

    // --- heavy hitters: the LAST emission per language == the sequential
    // Misra–Gries summary over the whole corpus (state resumes across
    // batches); captured via foreachBatch because per-batch re-emission
    // replaces, not appends
    locally {
      implicit val ctx = spark.sqlContext
      val docs = graft.etl.Tables.documents(spark, sfDir)
        .select(col("lang"), col("text")).as[(String, String)]
        .collect().sortBy(_._2)
      val source = MemoryStream[(String, String)]
      val latest = new java.util.concurrent.ConcurrentHashMap[
        String, Seq[(String, Long, Long)]]()
      val q = StreamingEvents.heavyHittersStream(
          source.toDF().toDF("lang", "text"), k = 5)
        .writeStream.outputMode("update")
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[StreamingEvents.HeavyHitterUpdate], _: Long) =>
          ds.collect().groupBy(_.lang).foreach { case (lang, rows) =>
            latest.put(lang, rows.map(r => (r.token, r.est_count, r.rank)).toSeq)
          }
        }.start()
      try {
        val third = docs.length / 3
        Seq(docs.slice(0, third), docs.slice(third, 2 * third),
          docs.slice(2 * third, docs.length)).foreach { c =>
          source.addData(c.toIndexedSeq); q.processAllAvailable()
        }
      } finally q.stop()
      // sequential reference: one MG summary per lang over all docs in the
      // same order the stream consumed them
      val agg = new graft.functions.HeavyHittersAggregator(5)
      val ref = docs.groupBy(_._1).map { case (lang, ds) =>
        val buf = scala.collection.mutable.Map.empty[String, Long]
        ds.foreach(d => d._2.split(" ").foreach(t => agg.reduce(buf, t)))
        lang -> agg.finish(buf).zipWithIndex
          .map { case ((t, c), i) => (t, c, i + 1L) }.toSeq
      }
      val got = Map.from(scala.jdk.CollectionConverters.MapHasAsScala(latest).asScala)
      results += Res("heavy_hitters_stream",
        got.values.map(_.size).sum.toLong, ref.values.map(_.size).sum.toLong,
        got == ref, "last per-lang emission == sequential Misra–Gries")
    }

    // --- anomalies: emitted alerts == the sequential Welford fold in
    // (ts, event_id) arrival order (batch-split invariant: chunks are
    // consecutive in that order, so the global fold IS the stream's)
    locally {
      val stream = runEventStream("sv_anom",
        df => StreamingEvents.anomaliesStream(df, sigmas = 1.6).toDF())
        .select("event_id").as[Long].collect().toSet
      val expected = evRows.groupBy(_.user_id).values.flatMap { rows =>
        var n = 0L; var mean = 0.0; var m2 = 0.0
        rows.sortBy(e => (e.ts.getTime, e.event_id)).flatMap { e =>
          val alert = if (n >= 2) {
            val variance = m2 / n
            variance > 0 &&
              math.abs((e.value - mean) / math.sqrt(variance)) >= 1.6
          } else false
          val n1 = n + 1
          val d = e.value - mean
          val mean1 = mean + d / n1
          m2 += d * (e.value - mean1); mean = mean1; n = n1
          if (alert) Some(e.event_id) else None
        }
      }.toSet
      results += Res("anomalies_stream", stream.size, expected.size,
        stream == expected, "alerts == sequential Welford reference")
    }

    // --- maintained top-k leaderboard: the LAST emission per event_type
    // (max n_seen) must be row-identical to the batch rank() filter —
    // bounded top-k is a mergeable monoid, so the per-batch fold order
    // cannot matter
    locally {
      // feed with REPLAYS: chunk 2 re-delivers 500 chunk-1 rows (the
      // at-least-once case) — the event_id dedup must keep the final
      // leaderboard identical to the batch answer over the distinct rows
      implicit val ctx = spark.sqlContext
      val source = MemoryStream[Ev]
      val q = StreamingEvents.topkStream(source.toDF(), k = 10).toDF()
        .writeStream.format("memory").queryName("sv_topk")
        .outputMode("append").start()
      try {
        source.addData(chunks(0).toIndexedSeq); q.processAllAvailable()
        source.addData((chunks(1) ++ chunks(0).take(500)).toIndexedSeq)
        q.processAllAvailable()
        source.addData(chunks(2).toIndexedSeq); q.processAllAvailable()
      } finally q.stop()
      val emitted = spark.table("sv_topk")
        .select("event_type", "event_id", "value", "rank", "n_seen")
        .as[(String, Long, Double, Long, Long)].collect()
      val lastN = emitted.groupBy(_._1).view.mapValues(_.map(_._5).max)
      val streamed = emitted
        .filter(r => r._5 == lastN(r._1))
        .map(r => (r._1, r._2, r._3, r._4)).toSet
      val batch = graft.ext.EventsExt.typeRank(
          graft.etl.Tables.events(spark, sfDir), k = 10)
        .as[(String, Long, Double, Long)].collect().toSet
      results += Res("topk_stream", streamed.size, batch.size,
        streamed == batch,
        "final per-type maintained top-10 == batch rank() filter, " +
          "replayed rows deduped by event_id")
    }

    // --- counter rate: every streamed (user, event) rate row must be
    // BIT-equal to the batch lag() operator's — the pairwise fold only
    // needs the immediate predecessor, carried as one (ms, value) pair
    // of state per user across batch boundaries
    locally {
      val streamed = runEventStream("sv_rate",
        df => StreamingEvents.rateStream(df).toDF())
        .select("event_id", "user_id", "increase", "rate_per_sec")
        .as[(Long, Long, Double, Double)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
      val batch = graft.ext.EventsExt.counterRate(
          graft.etl.Tables.events(spark, sfDir))
        .select("event_id", "user_id", "increase", "rate_per_sec")
        .as[(Long, Long, Double, Double)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
      results += Res("rate_stream", streamed.size, batch.size,
        streamed == batch,
        "streamed reset-aware rates == batch lag() fold, bit-exact")
    }

    // --- EWMA: last emitted level per user == the batch integer fold
    // (exact equality — the recursion is integer arithmetic end to end)
    locally {
      val emitted = runEventStream("sv_ewma",
        df => StreamingEvents.ewmaStream(df).toDF())
        .select("user_id", "n_events", "ewma_milli")
        .as[(Long, Long, Long)].collect()
      // Append-mode changelog: keep each user's final (max n_events) row
      val last = emitted.groupBy(_._1).view
        .mapValues(rs => { val r = rs.maxBy(_._2); (r._2, r._3) }).toMap
      val batch = graft.ext.EventsExt.ewmaLevel(
          graft.etl.Tables.events(spark, sfDir))
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      results += Res("ewma_stream", last.size.toLong, batch.size.toLong,
        last == batch, "final per-user level == batch integer fold")
    }

    // --- time-in-state: the (day, state) rollup over the streamed CLOSED
    // intervals == batch stateDurations — integer epoch-ms arithmetic, so
    // exact equality, including intervals whose open half crossed a batch
    // boundary (carried as one-sample state) and zero-length
    // equal-timestamp pairs; each user's still-open last sample is
    // unemitted on both sides
    locally {
      val streamed = runEventStream("sv_sdur",
        df => StreamingEvents.stateDurationsStream(df).toDF())
        .groupBy(col("day_ms"), col("event_type"))
        .agg(count(lit(1)).as("n_intervals"), sum(col("dur_ms")).as("dur_ms"),
          max(col("dur_ms")).as("max_dur_ms"))
        .as[(Long, String, Long, Long, Long)].collect().toSet
      val batch = graft.ext.EventsExt.stateDurations(
          graft.etl.Tables.events(spark, sfDir))
        .as[(Long, String, Long, Long, Long)].collect().toSet
      results += Res("state_dur_stream", streamed.size, batch.size,
        streamed == batch && streamed.nonEmpty,
        "(day, state) rollup over streamed closed intervals == batch " +
          "lead() operator, integer-exact; open last samples unemitted")
    }

    // --- funnel: the greedy in-time stage fold (strict-after contract,
    // stage state carried across batches) must roll up to the batch
    // min-chain's per-stage survivor counts exactly — integer equality
    locally {
      val streamed = runEventStream("sv_funnel",
        df => StreamingEvents.funnelStream(df).toDF())
      val deepest = streamed.groupBy(col("user_id"))
        .agg(max(col("stage")).as("stage"))
        .as[(Long, Int)].collect().toMap
      val steps = Seq("view", "click", "purchase")
      val got = steps.indices.map { i =>
        steps.take(i + 1).mkString(">") ->
          deepest.values.count(_ >= i + 1).toLong
      }.toMap
      val batch = graft.ext.EventsExt.funnel(
          graft.etl.Tables.events(spark, sfDir))
        .as[(String, Long)].collect().toMap
      results += Res("funnel_stream", got.size, batch.size,
        got == batch && got.values.sum > 0,
        "deepest streamed stage per user rolls up to the batch " +
          "per-stage survivor counts, integer-exact; strict-after and " +
          "cross-batch stage advances included")
    }

    // --- band-excursion alerts (r15): the live half of
    // events_band_excursions. A (type, bucket)'s Bollinger band is final
    // once a later-bucket event of the same type arrives (the trailing
    // frame only looks backward), so the stream emits that bucket's
    // breach rows the moment it closes — bit-equal to the batch operator
    // on every closed bucket (both sides sum the same milli-quantized
    // integer moments and finish with one IEEE op sequence); the
    // still-open last bucket per type is not yet emitted, exactly the
    // batch restriction to closed windows.
    locally {
      val streamed = runEventStream("sv_bandx",
        df => StreamingEvents.bandExcursionsStream(df).toDF())
        .as[(Long, String, Long, Double, String)].collect().toSet
      val hour = 3600000L
      val maxBucket = evRows.groupBy(_.event_type).view.mapValues(
        _.map(e => e.ts.getTime - Math.floorMod(e.ts.getTime, hour)).max)
        .toMap
      val batch = graft.ext.EventsExt.bandExcursions(
          graft.etl.Tables.events(spark, sfDir))
        .as[(Long, String, Long, Double, String)].collect()
        .filter(r => r._3 < maxBucket(r._2)).toSet
      results += Res("band_excursions_stream", streamed.size, batch.size,
        streamed == batch && streamed.nonEmpty,
        "streamed per-close breach rows == batch bandExcursions on " +
          "closed (type, bucket) windows, bit-equal doubles; open " +
          "buckets unemitted")
    }

    // --- incremental dedup: streamed kept set == batch incrementalDedup
    // over a constructed ingest with all three duplicate kinds (fresh /
    // dup-of-base / dup-of-earlier-stream-doc), dup state crossing two
    // micro-batch boundaries
    locally {
      implicit val ctx = spark.sqlContext
      val docsAll = graft.etl.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .collect().sortBy(_._1)
      val (baseRows, freshRows) = docsAll.partition(_._1 % 2 == 0)
      val base = baseRows.toIndexedSeq.toDF("doc_id", "text")
      val maxId = docsAll.map(_._1).max
      // replayed texts get NEW ids after every fresh id — arrival order is
      // id order, so the fresh doc is always the batch's min(doc_id) winner
      val ingest = (freshRows ++
        baseRows.take(50).zipWithIndex.map { case ((_, t), i) => (maxId + 1 + i, t) } ++
        freshRows.take(50).zipWithIndex.map { case ((_, t), i) => (maxId + 101 + i, t) })
        .sortBy(_._1)
        .zipWithIndex.map { case ((id, t), i) =>
          (id, new Timestamp(1704067200000L + i * 1000L), t) }
      val source = MemoryStream[(Long, Timestamp, String)]
      val q = StreamingEvents.incrementalDedupStream(
          source.toDF().toDF("doc_id", "ts", "text"), base)
        .writeStream.format("memory").queryName("sv_inc")
        .outputMode("append").start()
      try {
        val third = ingest.length / 3
        Seq(ingest.slice(0, third), ingest.slice(third, 2 * third),
          ingest.slice(2 * third, ingest.length)).foreach { c =>
          source.addData(c.toIndexedSeq); q.processAllAvailable()
        }
      } finally q.stop()
      val streamKept = spark.table("sv_inc")
        .select("doc_id").as[Long].collect().toSet
      val batchKept = graft.ext.Dedup.incrementalDedup(base,
          ingest.toIndexedSeq.toDF("doc_id", "ts", "text"))
        .filter(col("kept")).select("doc_id").as[Long].collect().toSet
      results += Res("incremental_dedup_stream", streamKept.size,
        batchKept.size, streamKept == batchKept,
        "streamed kept set == batch incremental dedup verdicts")
    }

    // --- CDC upsert stream: per-micro-batch MERGE (foreachBatch applying
    // Snapshot.applyChangelog to a maintained snapshot — the Delta/Hudi
    // streaming-merge shape) over a commit-ordered changelog == ONE batch
    // MERGE of the whole log. Composition argument: every entry's effect
    // is absorbing (D → absent, I/U → its values, independent of prior
    // state), so sequentially applying a key's entries in increasing seq
    // order ends at the max-seq entry's effect — exactly what the single
    // batch MERGE picks. Commit order across batches is the CDC contract
    // the operator documents.
    locally {
      implicit val ctx = spark.sqlContext
      val base = SparkEntry.snapshotFixtures(spark, sfDir)._1
      val logDf = SparkEntry.changelogFixture(spark, sfDir)
      val logRows = logDf
        .select(col("o_orderkey"), col("seq"), col("op"),
          col("o_totalprice").cast("string"), col("o_orderstatus"))
        .as[(Long, Long, String, String, String)]
        .collect().sortBy(r => (r._2, r._1)) // commit (seq) order
      val source = MemoryStream[(Long, Long, String, String, String)]
      val priceT = logDf.schema("o_totalprice").dataType
      var snapshot = base.localCheckpoint()
      val q = source.toDF()
        .toDF("o_orderkey", "seq", "op", "price_s", "o_orderstatus")
        .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
          val typed = batch.withColumn("o_totalprice",
            col("price_s").cast(priceT))
          snapshot = graft.ext.Snapshot.applyChangelog(snapshot, typed, "o_orderkey",
            Seq("o_totalprice", "o_orderstatus")).localCheckpoint()
          () // Unit, not DataFrame — keep the 3.x foreachBatch overload
        }.start()
      try {
        val third = logRows.length / 3
        Seq(logRows.slice(0, third), logRows.slice(third, 2 * third),
          logRows.slice(2 * third, logRows.length)).foreach { c =>
          source.addData(c.toIndexedSeq); q.processAllAvailable()
        }
      } finally q.stop()
      def keyOf(df: DataFrame): Set[(Long, String, String)] = df
        .select(col("o_orderkey"), col("o_totalprice").cast("string"),
          col("o_orderstatus"))
        .as[(Long, String, String)].collect().toSet
      val streamed = keyOf(snapshot)
      val direct = keyOf(graft.ext.Snapshot.applyChangelog(base, logDf,
        "o_orderkey", Seq("o_totalprice", "o_orderstatus")))
      results += Res("cdc_upsert_stream", streamed.size, direct.size,
        streamed == direct,
        "foreachBatch-merged snapshot == one-shot batch MERGE of the log")
    }

    // --- incremental rollup maintenance stream: foreachBatch folding of
    // Snapshot.maintainAggState over a streamed changelog (inserts +
    // deletes in commit order) == the one-shot batch maintenance == a
    // fresh recompute. Composition argument: count/sum deltas are
    // associative (exact DECIMAL), and the min path either carries the
    // running min forward or rescans the CURRENT survivors — which at
    // every prefix of the changelog is exactly the post-prefix table, so
    // each step's state equals the one-shot state over that prefix.
    locally {
      implicit val ctx = spark.sqlContext
      val all = graft.etl.Tables.events(spark, sfDir)
      val inserts0 = all.filter(col("event_id") % 13 === 0)
      val base = all.filter(col("event_id") % 13 =!= 0)
      val deletes0 = base.filter(col("event_id") % 7 === 0)
      def rowsOf(df: DataFrame, op: String) = df
        .select(col("event_id"), unix_millis(col("ts")).as("ms"),
          col("event_type"), col("value"))
        .as[(Long, Long, String, Double)].collect()
        .map(r => (r._1, r._2, r._3, r._4, op))
      val log = (rowsOf(deletes0, "D") ++ rowsOf(inserts0, "I"))
        .sortBy(r => (r._1, r._5)) // commit order: by event id
      val source = MemoryStream[(Long, Long, String, Double, String)]
      var state = graft.ext.Snapshot.hourlyAggState(base).localCheckpoint()
      var survivors = graft.ext.Snapshot.prepHourly(base).localCheckpoint()
      val q = source.toDF()
        .toDF("event_id", "ms", "event_type", "value", "op")
        .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
          val typed = batch
            .withColumn("ts", timestamp_millis(col("ms")))
            .select("event_id", "ts", "event_type", "value", "op")
          val ins = typed.filter(col("op") === "I").drop("op")
          val del = typed.filter(col("op") === "D").drop("op")
          survivors = survivors
            .join(del.select("event_id"), Seq("event_id"), "left_anti")
            .unionByName(graft.ext.Snapshot.prepHourly(ins))
            .localCheckpoint()
          state = graft.ext.Snapshot
            .maintainAggState(state, survivors, ins, del)
            .localCheckpoint()
          ()
        }.start()
      try {
        val third = log.length / 3
        Seq(log.slice(0, third), log.slice(third, 2 * third),
          log.slice(2 * third, log.length)).foreach { c =>
          source.addData(c.toIndexedSeq); q.processAllAvailable()
        }
      } finally q.stop()
      def keyOf(df: DataFrame): Set[(String, Long, Long, Double, Double)] = df
        .select(col("event_type"), col("hour_ms"), col("n_events"),
          col("sum_value"), col("min_value"))
        .as[(String, Long, Long, Double, Double)].collect().toSet
      val streamed = keyOf(graft.ext.Snapshot.renderHourlyAgg(state))
      val direct = keyOf(graft.ext.Snapshot.maintainHourlyAgg(
        base, inserts0, deletes0))
      results += Res("agg_maintain_stream", streamed.size, direct.size,
        streamed == direct,
        "foreachBatch-folded rollup state == one-shot batch maintenance")
    }

    // --- streaming data-quality gate: the per-batch rule metrics are a
    // tiny mergeable vector (n_rows + per-rule violation counts), so the
    // continuous-ingest admission gate folds them by ADDITION across
    // micro-batches and recomputes pass at read time — equivalence with
    // the one-shot batch gate is exact because every metric is a sum of
    // per-row indicator counts.
    locally {
      implicit val ctx = spark.sqlContext
      val source = MemoryStream[Ev]
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[String, (Long, Long)] // rule_id -> (n_rows, n_violations)
      val q = source.toDF()
        .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
          graft.ext.Checks
            .checkRules(batch, graft.ext.Checks.eventsRuleSet)
            .collect().foreach { r =>
              val (n, v) = acc.getOrElse(r.getString(0), (0L, 0L))
              acc(r.getString(0)) = (n + r.getLong(1), v + r.getLong(2))
            }
          ()
        }.start()
      try chunks.foreach { c =>
        source.addData(c.toIndexedSeq); q.processAllAvailable()
      } finally q.stop()
      val streamed = acc.map { case (id, (n, v)) =>
        (id, n, v, if (v == 0) 1L else 0L)
      }.toSet
      val direct = graft.ext.Checks
        .eventsRules(evRows.toSeq.toDF())
        .as[(String, Long, Long, Long)].collect().toSet
      results += Res("dq_rules_stream", streamed.size, direct.size,
        streamed == direct,
        "foreachBatch-summed rule metrics == one-shot batch dq gate")
    }

    // --- streaming histogram quantiles: the fixed-bin histogram is the
    // fold state (per-(type, bin) counts ADD across micro-batches — the
    // same merge a 1000-executor shard union does), quantiles are rendered
    // from the merged histogram at read time. Rendering the folded state
    // must equal the one-shot batch histQuantiles bit-for-bit: integer
    // counts all the way, one fixed IEEE tail per quantile.
    locally {
      implicit val ctx = spark.sqlContext
      val source = MemoryStream[Ev]
      val hist = scala.collection.mutable.HashMap
        .empty[(String, Long), Long] // (event_type, bin) -> n
      val q = source.toDF()
        .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
          batch.select(col("event_type"),
              floor(col("value") * 10).cast("long").as("bin"))
            .groupBy("event_type", "bin").count()
            .collect().foreach { r =>
              val k = (r.getString(0), r.getLong(1))
              hist(k) = hist.getOrElse(k, 0L) + r.getLong(2)
            }
          ()
        }.start()
      try chunks.foreach { c =>
        source.addData(c.toIndexedSeq); q.processAllAvailable()
      } finally q.stop()
      // render quantiles from the folded histogram (driver-side: the
      // state is bounded by type-count × occupied bins, same as the
      // batch query's post-aggregate Window input)
      val streamed = hist.groupBy(_._1._1).map { case (tpe, m) =>
        val bins = m.map { case ((_, b), n) => (b, n) }.toSeq.sortBy(_._1)
        val total = bins.map(_._2).sum
        def est(qq: Double): Double = {
          val rank = math.ceil(qq * total.toDouble).toLong
          var cum = 0L
          val bin = bins.collectFirst {
            case (b, n) if { cum += n; cum >= rank } => b
          }.get
          (bin + 1).toDouble / 10.0
        }
        (tpe, total, est(0.5), est(0.9), est(0.99))
      }.toSet
      val direct = graft.ext.EventsExt.histQuantiles(evRows.toSeq.toDF())
        .as[(String, Long, Double, Double, Double)].collect().toSet
      results += Res("hist_quantiles_stream", streamed.size, direct.size,
        streamed == direct,
        "quantiles off the foreachBatch-merged histogram == one-shot batch")
    }

    // --- pushed-rollup Influx stream (r9): the streaming rung of the
    // batch rollup pushdown. Fixture events are re-encoded as an annotated
    // Flux CSV (field = event_type) behind the stubbed transport; the
    // rollup read mode polls it across 3 triggers (clock stepping through
    // thirds of the time range, trigger cuts NOT bucket-aligned, 2 range
    // shards per trigger), every per-trigger POST carrying window(every:)
    // — and the maintained finalMerge must equal the direct per-bucket
    // aggregate over the same rows. count/min/max are exact; the double
    // sum is compared at 1e-9 relative (the partial merge order across
    // shards/triggers differs from the sequential fold — plain IEEE
    // non-associativity, same class as any shuffle-order change).
    locally {
      val hour = 3600000L
      val msRows = evRows.map(e => (e.event_type, e.ts.getTime, e.value))
      val minMs = msRows.map(_._2).min
      val stop = msRows.map(_._2).max + 1
      val csv = {
        val sb = new StringBuilder
        sb.append(",result,table,_time,_value,_field,_measurement\n")
        msRows.foreach { case (tpe, ms, v) =>
          sb.append(",_result,0,")
            .append(java.time.Instant.ofEpochMilli(ms).toString)
            .append(',').append(v).append(',').append(tpe)
            .append(",events\n")
        }
        sb.toString
      }
      val posts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      graft.sources.InfluxReadTransports.testOverride = Some { flux =>
        posts.add(flux); csv
      }
      @volatile var now = minMs + (stop - minMs) / 3
      graft.sources.InfluxReadTransports.clockOverride = Some(() => now)
      try {
        val opts = Map("bucket" -> "bkt", "readPartitions" -> "2",
          "rollup.everyMs" -> hour.toString,
          "rollup.aggs" -> "count,sum,min_value,max_value",
          "rollup.group" -> "field",
          "rollup.startMs" -> minMs.toString)
        val spec = graft.sources.InfluxRollupRead.fromOptions(
          new org.apache.spark.sql.util.CaseInsensitiveStringMap(
            scala.jdk.CollectionConverters.MapHasAsJava(opts).asJava)).get
        val merged = graft.sources.InfluxRollupRead.finalMerge(
          opts.foldLeft(spark.readStream.format("influx")) {
            case (r, (k, v)) => r.option(k, v)
          }.load(), spec)
        val q = merged.writeStream.format("memory").queryName("sv_rollup")
          .outputMode("complete").start()
        try {
          q.processAllAvailable()
          now = minMs + 2 * (stop - minMs) / 3
          q.processAllAvailable()
          now = stop
          q.processAllAvailable()
        } finally q.stop()
        val streamed = spark.table("sv_rollup")
          .as[(String, Long, Long, Double, Double, Double)].collect()
          .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
        val direct = msRows.groupBy(t =>
            (t._1, Math.floorDiv(t._2, hour) * hour))
          .map { case (k, rs2) => k -> ((rs2.size.toLong, rs2.map(_._3).sum,
            rs2.map(_._3).min, rs2.map(_._3).max)) }
        val windowed = {
          val ps = posts.toArray(Array.empty[String])
          ps.nonEmpty && ps.forall(_.contains(s"window(every: ${hour}ms)"))
        }
        val ok = windowed && streamed.keySet == direct.keySet &&
          streamed.forall { case (k, (n, s, mn, mx)) =>
            val (n2, s2, mn2, mx2) = direct(k)
            n == n2 && mn == mn2 && mx == mx2 &&
              math.abs(s - s2) <= 1e-9 * math.max(1.0, math.abs(s2))
          }
      results += Res("influx_rollup_stream", streamed.size, direct.size, ok,
        "3-trigger windowed partials merged == direct per-bucket agg; " +
          "every POST windowed; sum at 1e-9 rel (merge-order IEEE)")
      } finally {
        graft.sources.InfluxReadTransports.testOverride = None
        graft.sources.InfluxReadTransports.clockOverride = None
      }
    }

    // --- pushed value-histogram Influx stream (r9): rollup.group carries
    // a bin:/w key beside the field, so every trigger POSTs per-(field,
    // bin) windowed counts — the streaming histogram moves bucket×bin
    // counts, never samples. The stub answers raw CSV (fallback path:
    // bins computed locally from each sample, exactly), trigger cuts not
    // bucket-aligned; counts are INTEGER-exact, so the maintained merge
    // must equal the direct (field, floor(v/10), hour) count bit-for-bit.
    locally {
      val hour = 3600000L
      val msRows = evRows.map(e => (e.event_type, e.ts.getTime, e.value))
      val minMs = msRows.map(_._2).min
      val stop = msRows.map(_._2).max + 1
      val csv = {
        val sb = new StringBuilder
        sb.append(",result,table,_time,_value,_field,_measurement\n")
        msRows.foreach { case (tpe, ms, v) =>
          sb.append(",_result,0,")
            .append(java.time.Instant.ofEpochMilli(ms).toString)
            .append(',').append(v).append(',').append(tpe)
            .append(",events\n")
        }
        sb.toString
      }
      val posts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      graft.sources.InfluxReadTransports.testOverride = Some { flux =>
        posts.add(flux); csv
      }
      @volatile var now = minMs + (stop - minMs) / 3
      graft.sources.InfluxReadTransports.clockOverride = Some(() => now)
      try {
        val opts = Map("bucket" -> "bkt", "readPartitions" -> "2",
          "rollup.everyMs" -> hour.toString,
          "rollup.aggs" -> "count",
          "rollup.group" -> "field,bin:/10.0",
          "rollup.startMs" -> minMs.toString)
        val spec = graft.sources.InfluxRollupRead.fromOptions(
          new org.apache.spark.sql.util.CaseInsensitiveStringMap(
            scala.jdk.CollectionConverters.MapHasAsJava(opts).asJava)).get
        val merged = graft.sources.InfluxRollupRead.finalMerge(
          opts.foldLeft(spark.readStream.format("influx")) {
            case (r, (k, v)) => r.option(k, v)
          }.load(), spec)
        val q = merged.writeStream.format("memory").queryName("sv_hist")
          .outputMode("complete").start()
        try {
          q.processAllAvailable()
          now = minMs + 2 * (stop - minMs) / 3
          q.processAllAvailable()
          now = stop
          q.processAllAvailable()
        } finally q.stop()
        val streamed = spark.table("sv_hist")
          .as[(String, Long, Long, Long)].collect()
          .map(r => (r._1, r._2, r._3) -> r._4).toMap
        val direct = msRows.groupBy(t => (t._1,
            math.floor(t._3 / 10.0).toLong,
            Math.floorDiv(t._2, hour) * hour))
          .map { case (k, rs2) => k -> rs2.size.toLong }
        val binned = {
          val ps = posts.toArray(Array.empty[String])
          ps.nonEmpty && ps.forall(f =>
            f.contains("math.floor(x: float(v: r._value) / 10.0)") &&
              f.contains("""group(columns: ["_field", "bin"])"""))
        }
        val ok = binned && streamed == direct
        results += Res("influx_hist_stream", streamed.size, direct.size, ok,
          "streamed per-(field,bin,hour) counts == direct floor(v/10) " +
            "histogram, integer-exact; every POST binned + windowed")
      } finally {
        graft.sources.InfluxReadTransports.testOverride = None
        graft.sources.InfluxReadTransports.clockOverride = None
      }
    }

    // --- streaming grouped TopN over the Influx sample stream (r10 op,
    // first frozen here): the maintained per-field value leaderboard fed
    // across 3 triggers must equal the batch row_number()<=k filter over
    // the same samples. Each event rides as its own series (event_id as a
    // tag), so the (series, time) dedup never collapses distinct rows and
    // the (value, time, series) total order is deterministic — the batch
    // twin breaks ties on the same event_id tag.
    locally {
      val msRows = evRows.map(e =>
        (e.event_type, e.ts.getTime, e.value, e.event_id))
      val minMs = msRows.map(_._2).min
      val stop = msRows.map(_._2).max + 1
      val csv = {
        val sb = new StringBuilder
        sb.append(",result,table,_time,_value,_field,_measurement,event_id\n")
        msRows.foreach { case (tpe, ms, v, eid) =>
          sb.append(",_result,0,")
            .append(java.time.Instant.ofEpochMilli(ms).toString)
            .append(',').append(v).append(',').append(tpe)
            .append(",events,").append(eid).append('\n')
        }
        sb.toString
      }
      graft.sources.InfluxReadTransports.testOverride = Some(_ => csv)
      @volatile var now = minMs + (stop - minMs) / 3
      graft.sources.InfluxReadTransports.clockOverride = Some(() => now)
      try {
        val samples = spark.readStream.format("influx")
          .option("bucket", "bkt").option("readPartitions", "2").load()
        val board = graft.streaming.StreamingEvents.influxTopkStream(
          samples, org.apache.spark.sql.functions.col("field"), k = 10)
        val q = board.toDF().writeStream.format("memory")
          .queryName("sv_influx_topk").outputMode("append").start()
        try {
          q.processAllAvailable()
          now = minMs + 2 * (stop - minMs) / 3
          q.processAllAvailable()
          now = stop
          q.processAllAvailable()
        } finally q.stop()
        val rows = spark.table("sv_influx_topk")
          .as[(String, Long, Double, Long, Long)].collect()
        val streamed = rows.groupBy(_._1).toSeq.flatMap { case (_, rs2) =>
          val last = rs2.map(_._5).max
          rs2.filter(_._5 == last)
        }.map(r => (r._1, r._2, r._3, r._4)).toSet
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("field"))
          .orderBy(col("value").desc, col("time_ms").asc,
            col("tags").getItem("event_id").asc)
        val batch = spark.read.format("influx").option("bucket", "bkt").load()
          .filter(col("time_ms") >= minMs && col("time_ms") < stop &&
            col("value").isNotNull)
          .withColumn("rn", org.apache.spark.sql.functions.row_number()
            .over(w).cast("long"))
          .filter(col("rn") <= 10)
          .select(col("field"), col("time_ms"), col("value"), col("rn"))
          .as[(String, Long, Double, Long)].collect().toSet
        results += Res("influx_topk_stream", streamed.size, batch.size,
          streamed == batch,
          "3-trigger maintained per-field leaderboard == batch " +
            "row_number()<=10 under the (value, time, series) total order")
      } finally {
        graft.sources.InfluxReadTransports.testOverride = None
        graft.sources.InfluxReadTransports.clockOverride = None
      }
    }

    // --- streaming counter-rate over pushed increase() partials (r12):
    // the per-trigger segment partials stitch across triggers in
    // flatMapGroupsWithState state, and the maintained per-(field, bucket)
    // increase must equal the batch rateRead AND the sequential per-field
    // lag() fold. Fixture keeps one sample per (field, ms) so the lag
    // chain is a total order; sums compare at 1e-9 relative (the segment
    // fold adds the same deltas in a different association than the
    // sequential fold — plain IEEE non-associativity).
    locally {
      val hour = 3600000L
      val msRows = evRows.map(e => (e.event_type, e.ts.getTime, e.value))
        .groupBy(t => (t._1, t._2)).map(_._2.head).toSeq
      val minMs = msRows.map(_._2).min
      val stop = msRows.map(_._2).max + 1
      val csv = {
        val sb = new StringBuilder
        sb.append(",result,table,_time,_value,_field,_measurement\n")
        msRows.foreach { case (tpe, ms, v) =>
          sb.append(",_result,0,")
            .append(java.time.Instant.ofEpochMilli(ms).toString)
            .append(',').append(v).append(',').append(tpe)
            .append(",events\n")
        }
        sb.toString
      }
      graft.sources.InfluxReadTransports.testOverride = Some(_ => csv)
      @volatile var now = minMs + (stop - minMs) / 3
      graft.sources.InfluxReadTransports.clockOverride = Some(() => now)
      try {
        val opts = graft.sources.InfluxRollupRead.rateOptions(hour, Map(
          "bucket" -> "bkt", "readPartitions" -> "2",
          "rollup.group" -> "field",
          "rollup.startMs" -> minMs.toString,
          "rollup.stopMs" -> stop.toString))
        val spec = graft.sources.InfluxRollupRead.fromOptions(
          scala.jdk.CollectionConverters.MapHasAsJava(opts).asJava).get
        val partials = opts.foldLeft(spark.readStream.format("influx")) {
          case (r, (k, v)) => r.option(k, v)
        }.load()
        val rate = graft.streaming.StreamingEvents
          .influxRateStream(partials, spec)
        val q = rate.toDF().writeStream.format("memory")
          .queryName("sv_influx_rate").outputMode("append").start()
        try {
          q.processAllAvailable()
          now = minMs + 2 * (stop - minMs) / 3
          q.processAllAvailable()
          now = stop
          q.processAllAvailable()
        } finally q.stop()
        val rows = spark.table("sv_influx_rate")
          .as[(String, Long, Double, Double, Long)].collect()
        val streamed = rows.groupBy(r => (r._1, r._2)).map { case (k, rs2) =>
          k -> rs2.maxBy(_._5)._3
        }
        // sequential per-field lag fold (delta to the LATER bucket)
        val direct = msRows.groupBy(_._1).flatMap { case (tpe, rs2) =>
          val sorted = rs2.sortBy(_._2)
          val deltas = scala.collection.mutable.Map.empty[Long, Double]
          sorted.foreach { case (_, ms, _) =>
            deltas.getOrElseUpdate(Math.floorDiv(ms, hour) * hour, 0.0)
          }
          sorted.lazyZip(sorted.drop(1)).foreach { (a, b) =>
            val bkt = Math.floorDiv(b._2, hour) * hour
            val d = if (b._3 >= a._3) b._3 - a._3 else b._3
            deltas(bkt) = deltas(bkt) + d
          }
          deltas.map { case (b, d) => (tpe, b) -> d }
        }
        def close(a: Map[(String, Long), Double],
                  b: Map[(String, Long), Double]): Boolean =
          a.keySet == b.keySet && a.forall { case (k, v) =>
            math.abs(v - b(k)) <= 1e-9 * math.max(1.0, math.abs(b(k)))
          }
        val batch = graft.sources.InfluxRollupRead.rateRead(spark, opts)
          .as[(String, Long, Double, Double)].collect()
          .map(r => (r._1, r._2) -> r._3).toMap
        val ok = close(streamed.toMap, direct.toMap) &&
          close(batch, direct.toMap)
        results += Res("influx_rate_stream", streamed.size, direct.size, ok,
          "3-trigger stitched increase() partials == batch rateRead == " +
            "sequential lag() fold at 1e-9 rel")
      } finally {
        graft.sources.InfluxReadTransports.testOverride = None
        graft.sources.InfluxReadTransports.clockOverride = None
      }
    }

    // --- streaming trapezoid integral over pushed integral() partials
    // (r13): per-trigger segment areas stitch across triggers in state —
    // a same-bucket boundary pair adds its trapezoid, a cross-bucket pair
    // adds nothing (Flux windowed-integral convention) — and the
    // maintained per-(field, bucket) area must equal the batch
    // integralRead AND the sequential same-bucket pair fold. Same 1e-9
    // relative gate as the rate twin (association order differs).
    locally {
      val hour = 3600000L
      val msRows = evRows.map(e => (e.event_type, e.ts.getTime, e.value))
        .groupBy(t => (t._1, t._2)).map(_._2.head).toSeq
      val minMs = msRows.map(_._2).min
      val stop = msRows.map(_._2).max + 1
      val csv = {
        val sb = new StringBuilder
        sb.append(",result,table,_time,_value,_field,_measurement\n")
        msRows.foreach { case (tpe, ms, v) =>
          sb.append(",_result,0,")
            .append(java.time.Instant.ofEpochMilli(ms).toString)
            .append(',').append(v).append(',').append(tpe)
            .append(",events\n")
        }
        sb.toString
      }
      graft.sources.InfluxReadTransports.testOverride = Some(_ => csv)
      @volatile var now = minMs + (stop - minMs) / 3
      graft.sources.InfluxReadTransports.clockOverride = Some(() => now)
      try {
        val opts = graft.sources.InfluxRollupRead.integralOptions(hour, Map(
          "bucket" -> "bkt", "readPartitions" -> "2",
          "rollup.group" -> "field",
          "rollup.startMs" -> minMs.toString,
          "rollup.stopMs" -> stop.toString))
        val spec = graft.sources.InfluxRollupRead.fromOptions(
          scala.jdk.CollectionConverters.MapHasAsJava(opts).asJava).get
        val partials = opts.foldLeft(spark.readStream.format("influx")) {
          case (r, (k, v)) => r.option(k, v)
        }.load()
        val area = graft.streaming.StreamingEvents
          .influxIntegralStream(partials, spec)
        val q = area.toDF().writeStream.format("memory")
          .queryName("sv_influx_integral").outputMode("append").start()
        try {
          q.processAllAvailable()
          now = minMs + 2 * (stop - minMs) / 3
          q.processAllAvailable()
          now = stop
          q.processAllAvailable()
        } finally q.stop()
        val rows = spark.table("sv_influx_integral")
          .as[(String, Long, Double, Long)].collect()
        val streamed = rows.groupBy(r => (r._1, r._2)).map { case (k, rs2) =>
          k -> rs2.maxBy(_._4)._3
        }
        // sequential per-field fold: same-bucket consecutive pairs only
        val direct = msRows.groupBy(_._1).flatMap { case (tpe, rs2) =>
          val sorted = rs2.sortBy(_._2)
          val areas = scala.collection.mutable.Map.empty[Long, Double]
          sorted.foreach { case (_, ms, _) =>
            areas.getOrElseUpdate(Math.floorDiv(ms, hour) * hour, 0.0)
          }
          sorted.lazyZip(sorted.drop(1)).foreach { (a, b) =>
            val bkt = Math.floorDiv(b._2, hour) * hour
            if (Math.floorDiv(a._2, hour) * hour == bkt)
              areas(bkt) = areas(bkt) + (a._3 + b._3) * (b._2 - a._2) / 2.0
          }
          areas.map { case (b, d) => (tpe, b) -> d }
        }
        def close(a: Map[(String, Long), Double],
                  b: Map[(String, Long), Double]): Boolean =
          a.keySet == b.keySet && a.forall { case (k, v) =>
            math.abs(v - b(k)) <= 1e-9 * math.max(1.0, math.abs(b(k)))
          }
        val batch = graft.sources.InfluxRollupRead.integralRead(spark, opts)
          .select(col("field"), col("bucket_start_ms"), col("integral"))
          .as[(String, Long, Double)].collect()
          .map(r => (r._1, r._2) -> r._3).toMap
        val ok = close(streamed.toMap, direct.toMap) &&
          close(batch, direct.toMap)
        results += Res("influx_integral_stream", streamed.size, direct.size,
          ok, "3-trigger stitched integral() partials == batch " +
            "integralRead == sequential same-bucket pair fold at 1e-9 rel")
      } finally {
        graft.sources.InfluxReadTransports.testOverride = None
        graft.sources.InfluxReadTransports.clockOverride = None
      }
    }

    // --- streaming distinct-count over pushed rollup partials (r12): the
    // per-6h-bucket distinct user count maintained across 3 triggers must
    // equal the direct distinct over the same rows — (value × bucket)
    // partial rows move, never samples, and Spark's own streaming
    // aggregation cannot express DISTINCT at all.
    locally {
      val hour6 = 21600000L
      val msRows = evRows.map(e => (e.user_id, e.ts.getTime))
      val minMs = msRows.map(_._2).min
      val stop = msRows.map(_._2).max + 1
      val csv = {
        val sb = new StringBuilder
        sb.append(",result,table,_time,_value,_field,_measurement,user_id\n")
        msRows.foreach { case (uid, ms) =>
          sb.append(",_result,0,")
            .append(java.time.Instant.ofEpochMilli(ms).toString)
            .append(",1.0,v,events,").append(uid).append('\n')
        }
        sb.toString
      }
      graft.sources.InfluxReadTransports.testOverride = Some(_ => csv)
      @volatile var now = minMs + (stop - minMs) / 3
      graft.sources.InfluxReadTransports.clockOverride = Some(() => now)
      try {
        val opts = Map("bucket" -> "bkt", "readPartitions" -> "2",
          "rollup.everyMs" -> hour6.toString,
          "rollup.aggs" -> "count",
          "rollup.group" -> "tag:user_id",
          "rollup.startMs" -> minMs.toString,
          "rollup.stopMs" -> stop.toString)
        val spec = graft.sources.InfluxRollupRead.fromOptions(
          scala.jdk.CollectionConverters.MapHasAsJava(opts).asJava).get
        val partials = opts.foldLeft(spark.readStream.format("influx")) {
          case (r, (k, v)) => r.option(k, v)
        }.load()
        val dist = graft.streaming.StreamingEvents
          .influxDistinctStream(partials, spec, "tag:user_id")
        val q = dist.toDF().writeStream.format("memory")
          .queryName("sv_influx_distinct").outputMode("append").start()
        try {
          q.processAllAvailable()
          now = minMs + 2 * (stop - minMs) / 3
          q.processAllAvailable()
          now = stop
          q.processAllAvailable()
        } finally q.stop()
        val rows = spark.table("sv_influx_distinct")
          .as[(String, Long, Long, Long)].collect()
        val streamed = rows.groupBy(_._2).map { case (b, rs2) =>
          b -> rs2.maxBy(_._4)._3
        }
        val direct = msRows.groupBy(t =>
            Math.floorDiv(t._2, hour6) * hour6)
          .map { case (b, rs2) => b -> rs2.map(_._1).distinct.size.toLong }
        results += Res("influx_distinct_stream", streamed.size, direct.size,
          streamed == direct,
          "3-trigger maintained per-bucket distinct users == direct " +
            "distinct; (value × bucket) partials move, never samples")
      } finally {
        graft.sources.InfluxReadTransports.testOverride = None
        graft.sources.InfluxReadTransports.clockOverride = None
      }
    }

    // --- LIKE-narrowed raw sample stream (r13): every trigger's pull
    // carries the synthesized =~ stage (InfluxTable.tagLike — the
    // streaming spelling of the batch regex push) and the residual LIKE
    // re-checks, so the 3-trigger streamed rows must equal the batch
    // read under the same predicate even against this stub's full dumps.
    locally {
      val msRows = evRows.map(e => (e.user_id, e.ts.getTime, e.value))
      val minMs = msRows.map(_._2).min
      val stop = msRows.map(_._2).max + 1
      val csv = {
        val sb = new StringBuilder
        sb.append(",result,table,_time,_value,_field,_measurement,user_id\n")
        msRows.foreach { case (uid, ms, v) =>
          sb.append(",_result,0,")
            .append(java.time.Instant.ofEpochMilli(ms).toString)
            .append(',').append(v).append(",v,events,u").append(uid)
            .append('\n')
        }
        sb.toString
      }
      graft.sources.InfluxReadTransports.testOverride = Some(_ => csv)
      @volatile var now = minMs + (stop - minMs) / 3
      graft.sources.InfluxReadTransports.clockOverride = Some(() => now)
      try {
        val (ok, ov) = graft.sources.InfluxTable.tagLike("user_id" -> "u1%")
        val like = col("tags").getItem("user_id").like("u1%")
        val streamedDf = spark.readStream.format("influx")
          .option("bucket", "bkt").option("readPartitions", "2")
          .option(ok, ov).load()
          .filter(like)
          .select(col("tags").getItem("user_id").as("uid"),
            col("time_ms"), col("value"))
        val q = streamedDf.writeStream.format("memory")
          .queryName("sv_influx_like").outputMode("append").start()
        try {
          q.processAllAvailable()
          now = minMs + 2 * (stop - minMs) / 3
          q.processAllAvailable()
          now = stop
          q.processAllAvailable()
        } finally q.stop()
        val streamed = spark.table("sv_influx_like")
          .as[(String, Long, Double)].collect().toSet
        val batch = spark.read.format("influx").option("bucket", "bkt")
          .load()
          .filter(col("time_ms") >= minMs && col("time_ms") < stop && like)
          .select(col("tags").getItem("user_id").as("uid"),
            col("time_ms"), col("value"))
          .as[(String, Long, Double)].collect().toSet
        results += Res("influx_like_stream", streamed.size, batch.size,
          streamed == batch && streamed.nonEmpty,
          "3-trigger regex-narrowed sample stream (tagLike option + " +
            "residual LIKE) == batch read under the same predicate")
      } finally {
        graft.sources.InfluxReadTransports.testOverride = None
        graft.sources.InfluxReadTransports.clockOverride = None
      }
    }

    // --- maintained last-observation rollup + LOCF panel (r13): the
    // streaming half of the pushed locfRead. The last_value/max_time
    // partials stream across 3 triggers (one cutting a bucket mid-fill),
    // finalMerge's max_by/max algebra maintains the per-(user, bucket)
    // newest observation, and locfFill over the maintained table must
    // equal the one-shot batch locfRead — the max_by monoid must fold
    // identically wherever the trigger boundaries fall. The population
    // is deduped per (user, ms) at CSV-build time so every max_by is
    // deterministic on both sides (the resampleLocf dedup rule).
    locally {
      val hour = 3600000L
      val msRows = evRows.map(e => (e.user_id, e.ts.getTime, e.value))
        .groupBy(t => (t._1, t._2)).map(_._2.maxBy(_._3)).toSeq
      val minMs = msRows.map(_._2).min
      val stop = msRows.map(_._2).max + 1
      val csv = {
        val sb = new StringBuilder
        sb.append(",result,table,_time,_value,_field,_measurement,user_id\n")
        msRows.foreach { case (uid, ms, v) =>
          sb.append(",_result,0,")
            .append(java.time.Instant.ofEpochMilli(ms).toString)
            .append(',').append(v).append(",v,events,u").append(uid)
            .append('\n')
        }
        sb.toString
      }
      val posts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      graft.sources.InfluxReadTransports.testOverride = Some { flux =>
        posts.add(flux); csv
      }
      @volatile var now = minMs + (stop - minMs) / 3
      graft.sources.InfluxReadTransports.clockOverride = Some(() => now)
      try {
        val opts = graft.sources.InfluxRollupRead.locfOptions(hour, Map(
          "bucket" -> "bkt", "readPartitions" -> "2",
          "rollup.group" -> "tag:user_id",
          "rollup.startMs" -> minMs.toString))
        val spec = graft.sources.InfluxRollupRead.fromOptions(
          new org.apache.spark.sql.util.CaseInsensitiveStringMap(
            scala.jdk.CollectionConverters.MapHasAsJava(opts).asJava)).get
        val merged = graft.sources.InfluxRollupRead.finalMerge(
          opts.foldLeft(spark.readStream.format("influx")) {
            case (r, (k, v)) => r.option(k, v)
          }.load(), spec)
        val q = merged.writeStream.format("memory").queryName("sv_influx_last")
          .outputMode("complete").start()
        try {
          q.processAllAvailable()
          now = minMs + 2 * (stop - minMs) / 3
          q.processAllAvailable()
          now = stop
          q.processAllAvailable()
        } finally q.stop()
        val streamed = spark.table("sv_influx_last")
          .as[(String, Long, Double, Long)].collect()
          .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
        val direct = msRows.groupBy(t =>
            (s"u${t._1}", Math.floorDiv(t._2, hour) * hour))
          .map { case (k, rs2) =>
            val newest = rs2.maxBy(_._2); k -> ((newest._3, newest._2)) }
        val windowed = {
          val ps = posts.toArray(Array.empty[String])
          ps.nonEmpty && ps.forall(_.contains(s"window(every: ${hour}ms)"))
        }
        // the full pushed pipeline: fill over the MAINTAINED table ≡ the
        // one-shot batch locfRead under the same stub
        val filledStream = graft.ext.EventsExt.locfFill(
          spark.table("sv_influx_last"), Seq("user_id"), hour)
          .as[(String, Long, Double, Long)].collect().toSet
        val filledBatch = graft.sources.InfluxRollupRead
          .locfRead(spark, opts)
          .as[(String, Long, Double, Long)].collect().toSet
        val ok = windowed && streamed == direct &&
          filledStream == filledBatch && filledStream.nonEmpty
        results += Res("influx_last_stream", streamed.size, direct.size, ok,
          "3-trigger maintained max_by last-observation rollup == direct " +
            "newest-per-bucket; locfFill over the maintained table == " +
            "one-shot batch locfRead; every POST windowed")
      } finally {
        graft.sources.InfluxReadTransports.testOverride = None
        graft.sources.InfluxReadTransports.clockOverride = None
      }
    }

    // --- maintained boundary-slot rollup + lerp panel (r13): the
    // streaming half of the pushed lerpRead. The four numeric boundary
    // slots (first/last sample per bucket) stream across 3 triggers (one
    // cutting a bucket mid-fill), finalMerge's min_by/max_by algebra
    // maintains them per (user, bucket), and lerpFillMerged over the
    // maintained table must equal the one-shot batch lerpRead — the
    // boundary-slot monoid must fold identically wherever the trigger
    // boundaries fall. Population deduped per (user, ms) so min_by and
    // max_by are deterministic on both sides.
    locally {
      val hour = 3600000L
      val msRows = evRows.map(e => (e.user_id, e.ts.getTime, e.value))
        .groupBy(t => (t._1, t._2)).map(_._2.maxBy(_._3)).toSeq
      val minMs = msRows.map(_._2).min
      val stop = msRows.map(_._2).max + 1
      val csv = {
        val sb = new StringBuilder
        sb.append(",result,table,_time,_value,_field,_measurement,user_id\n")
        msRows.foreach { case (uid, ms, v) =>
          sb.append(",_result,0,")
            .append(java.time.Instant.ofEpochMilli(ms).toString)
            .append(',').append(v).append(",v,events,u").append(uid)
            .append('\n')
        }
        sb.toString
      }
      val posts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      graft.sources.InfluxReadTransports.testOverride = Some { flux =>
        posts.add(flux); csv
      }
      @volatile var now = minMs + (stop - minMs) / 3
      graft.sources.InfluxReadTransports.clockOverride = Some(() => now)
      try {
        val opts = graft.sources.InfluxRollupRead.lerpOptions(hour, Map(
          "bucket" -> "bkt", "readPartitions" -> "2",
          "rollup.group" -> "tag:user_id",
          "rollup.startMs" -> minMs.toString))
        val spec = graft.sources.InfluxRollupRead.fromOptions(
          new org.apache.spark.sql.util.CaseInsensitiveStringMap(
            scala.jdk.CollectionConverters.MapHasAsJava(opts).asJava)).get
        val merged = graft.sources.InfluxRollupRead.finalMerge(
          opts.foldLeft(spark.readStream.format("influx")) {
            case (r, (k, v)) => r.option(k, v)
          }.load(), spec)
        val q = merged.writeStream.format("memory").queryName("sv_influx_lerp")
          .outputMode("complete").start()
        try {
          q.processAllAvailable()
          now = minMs + 2 * (stop - minMs) / 3
          q.processAllAvailable()
          now = stop
          q.processAllAvailable()
        } finally q.stop()
        val streamed = spark.table("sv_influx_lerp")
          .as[(String, Long, Long, Double, Long, Double)].collect()
          .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
        val direct = msRows.groupBy(t =>
            (s"u${t._1}", Math.floorDiv(t._2, hour) * hour))
          .map { case (k, rs2) =>
            val f = rs2.minBy(_._2); val l = rs2.maxBy(_._2)
            k -> ((f._2, f._3, l._2, l._3)) }
        val windowed = {
          val ps = posts.toArray(Array.empty[String])
          ps.nonEmpty && ps.forall(_.contains(s"window(every: ${hour}ms)"))
        }
        // the full pushed pipeline: fill over the MAINTAINED table ≡ the
        // one-shot batch lerpRead under the same stub — the exact
        // shipped arithmetic on both sides
        val filledStream = graft.sources.InfluxRollupRead.lerpFillMerged(
          spark.table("sv_influx_lerp"), spec)
          .as[(String, Long, Double)].collect().toSet
        val filledBatch = graft.sources.InfluxRollupRead
          .lerpRead(spark, opts)
          .as[(String, Long, Double)].collect().toSet
        val ok = windowed && streamed == direct &&
          filledStream == filledBatch && filledStream.nonEmpty
        results += Res("influx_lerp_stream", streamed.size, direct.size, ok,
          "3-trigger maintained min_by/max_by boundary-slot rollup == " +
            "direct first/last-per-bucket; lerpFillMerged over the " +
            "maintained table == one-shot batch lerpRead; every POST " +
            "windowed")
      } finally {
        graft.sources.InfluxReadTransports.testOverride = None
        graft.sources.InfluxReadTransports.clockOverride = None
      }
    }

    // --- maintained (sum, count) rollup + trailing moving average
    // (r13): the streaming half of the pushed movingAvgRead. The
    // per-(user, bucket) sufficient statistics stream across 3 triggers
    // (one cutting a bucket mid-flight), finalMerge's sum algebra
    // maintains them, and movingAvgMerged's RANGE frame over the
    // maintained table must equal the one-shot batch movingAvgRead.
    // Double sums associate differently across trigger/shard splits, so
    // sums compare at 1e-9 relative (the influx_rollup_stream
    // convention); counts are integer-exact.
    locally {
      val hour = 3600000L
      val lookback = 3
      val msRows = evRows.map(e => (e.user_id, e.ts.getTime, e.value))
        .groupBy(t => (t._1, t._2)).map(_._2.maxBy(_._3)).toSeq
      val minMs = msRows.map(_._2).min
      val stop = msRows.map(_._2).max + 1
      val csv = {
        val sb = new StringBuilder
        sb.append(",result,table,_time,_value,_field,_measurement,user_id\n")
        msRows.foreach { case (uid, ms, v) =>
          sb.append(",_result,0,")
            .append(java.time.Instant.ofEpochMilli(ms).toString)
            .append(',').append(v).append(",v,events,u").append(uid)
            .append('\n')
        }
        sb.toString
      }
      val posts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      graft.sources.InfluxReadTransports.testOverride = Some { flux =>
        posts.add(flux); csv
      }
      @volatile var now = minMs + (stop - minMs) / 3
      graft.sources.InfluxReadTransports.clockOverride = Some(() => now)
      try {
        val opts = graft.sources.InfluxRollupRead.movingOptions(hour, Map(
          "bucket" -> "bkt", "readPartitions" -> "2",
          "rollup.group" -> "tag:user_id",
          "rollup.startMs" -> minMs.toString))
        val spec = graft.sources.InfluxRollupRead.fromOptions(
          new org.apache.spark.sql.util.CaseInsensitiveStringMap(
            scala.jdk.CollectionConverters.MapHasAsJava(opts).asJava)).get
        val merged = graft.sources.InfluxRollupRead.finalMerge(
          opts.foldLeft(spark.readStream.format("influx")) {
            case (r, (k, v)) => r.option(k, v)
          }.load(), spec)
        val q = merged.writeStream.format("memory")
          .queryName("sv_influx_moving").outputMode("complete").start()
        try {
          q.processAllAvailable()
          now = minMs + 2 * (stop - minMs) / 3
          q.processAllAvailable()
          now = stop
          q.processAllAvailable()
        } finally q.stop()
        def close(a: Double, b: Double): Boolean =
          math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
        val streamed = spark.table("sv_influx_moving")
          .as[(String, Long, Double, Long)].collect()
          .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
        val direct = msRows.groupBy(t =>
            (s"u${t._1}", Math.floorDiv(t._2, hour) * hour))
          .map { case (k, rs2) =>
            k -> ((rs2.map(_._3).sum, rs2.size.toLong)) }
        val mergedOk = streamed.keySet == direct.keySet &&
          streamed.forall { case (k, (s, n)) =>
            close(s, direct(k)._1) && n == direct(k)._2 }
        val windowed = {
          val ps = posts.toArray(Array.empty[String])
          ps.nonEmpty && ps.forall(_.contains(s"window(every: ${hour}ms)"))
        }
        // the full pushed pipeline: the RANGE frame over the MAINTAINED
        // table ≡ the one-shot batch movingAvgRead under the same stub
        val framedStream = graft.sources.InfluxRollupRead.movingAvgMerged(
          spark.table("sv_influx_moving"), spec, lookback)
          .as[(String, Long, Double)].collect()
          .map(r => (r._1, r._2) -> r._3).toMap
        val framedBatch = graft.sources.InfluxRollupRead
          .movingAvgRead(spark, opts, lookback)
          .as[(String, Long, Double)].collect()
          .map(r => (r._1, r._2) -> r._3).toMap
        val framedOk = framedStream.keySet == framedBatch.keySet &&
          framedStream.nonEmpty &&
          framedStream.forall { case (k, v) => close(v, framedBatch(k)) }
        results += Res("influx_moving_stream", streamed.size, direct.size,
          mergedOk && windowed && framedOk,
          "3-trigger maintained (sum, count) rollup == direct per-bucket " +
            "stats at 1e-9 rel (counts exact); movingAvgMerged over the " +
            "maintained table == one-shot batch movingAvgRead; every " +
            "POST windowed")
      } finally {
        graft.sources.InfluxReadTransports.testOverride = None
        graft.sources.InfluxReadTransports.clockOverride = None
      }
    }

    // --- maintained raw-moment rollup + stddev/variance panel (r13):
    // the streaming half of the pushed stddevRead. The per-(user, bucket)
    // (Σv, Σv², n) sufficient statistics stream across 3 triggers (one
    // cutting a bucket mid-flight), finalMerge's sum algebra maintains
    // them — the mergeability Flux's own stddev() lacks — and
    // stddevMerged's IEEE finish over the maintained table must equal
    // the one-shot batch stddevRead. Double sums associate differently
    // across trigger/shard splits → 1e-9 rel (the influx_rollup_stream
    // convention); counts and the n<2 NULL guard are exact.
    locally {
      val hour = 3600000L
      val msRows = evRows.map(e => (e.user_id, e.ts.getTime, e.value))
        .groupBy(t => (t._1, t._2)).map(_._2.maxBy(_._3)).toSeq
      val minMs = msRows.map(_._2).min
      val stop = msRows.map(_._2).max + 1
      val csv = {
        val sb = new StringBuilder
        sb.append(",result,table,_time,_value,_field,_measurement,user_id\n")
        msRows.foreach { case (uid, ms, v) =>
          sb.append(",_result,0,")
            .append(java.time.Instant.ofEpochMilli(ms).toString)
            .append(',').append(v).append(",v,events,u").append(uid)
            .append('\n')
        }
        sb.toString
      }
      val posts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      graft.sources.InfluxReadTransports.testOverride = Some { flux =>
        posts.add(flux); csv
      }
      @volatile var now = minMs + (stop - minMs) / 3
      graft.sources.InfluxReadTransports.clockOverride = Some(() => now)
      try {
        val opts = graft.sources.InfluxRollupRead.stddevOptions(hour, Map(
          "bucket" -> "bkt", "readPartitions" -> "2",
          "rollup.group" -> "tag:user_id",
          "rollup.startMs" -> minMs.toString))
        val spec = graft.sources.InfluxRollupRead.fromOptions(
          new org.apache.spark.sql.util.CaseInsensitiveStringMap(
            scala.jdk.CollectionConverters.MapHasAsJava(opts).asJava)).get
        val merged = graft.sources.InfluxRollupRead.finalMerge(
          opts.foldLeft(spark.readStream.format("influx")) {
            case (r, (k, v)) => r.option(k, v)
          }.load(), spec)
        val q = merged.writeStream.format("memory")
          .queryName("sv_influx_stddev").outputMode("complete").start()
        try {
          q.processAllAvailable()
          now = minMs + 2 * (stop - minMs) / 3
          q.processAllAvailable()
          now = stop
          q.processAllAvailable()
        } finally q.stop()
        def close(a: Double, b: Double): Boolean =
          math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
        val streamed = spark.table("sv_influx_stddev")
          .as[(String, Long, Double, Double, Long)].collect()
          .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
        val direct = msRows.groupBy(t =>
            (s"u${t._1}", Math.floorDiv(t._2, hour) * hour))
          .map { case (k, rs2) =>
            k -> ((rs2.map(_._3).sum, rs2.map(x => x._3 * x._3).sum,
              rs2.size.toLong)) }
        val mergedOk = streamed.keySet == direct.keySet &&
          streamed.forall { case (k, (s, s2, n)) =>
            close(s, direct(k)._1) && close(s2, direct(k)._2) &&
              n == direct(k)._3 }
        val windowed = {
          val ps = posts.toArray(Array.empty[String])
          ps.nonEmpty && ps.forall(_.contains(s"window(every: ${hour}ms)")) &&
            ps.forall(_.contains(
              "map(fn: (r) => ({r with _value: r._value * r._value}))"))
        }
        // the full pushed pipeline: the IEEE finish over the MAINTAINED
        // table ≡ the one-shot batch stddevRead under the same stub
        val panelStream = graft.sources.InfluxRollupRead.stddevMerged(
          spark.table("sv_influx_stddev"), spec)
          .as[(String, Long, Long, Option[Double], Option[Double])].collect()
          .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
        val panelBatch = graft.sources.InfluxRollupRead
          .stddevRead(spark, opts)
          .as[(String, Long, Long, Option[Double], Option[Double])].collect()
          .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
        def optClose(a: Option[Double], b: Option[Double]): Boolean =
          (a, b) match {
            case (Some(x), Some(y)) => close(x, y)
            case (None, None) => true
            case _ => false
          }
        val panelOk = panelStream.keySet == panelBatch.keySet &&
          panelStream.nonEmpty &&
          panelStream.forall { case (k, (n, v, sd)) =>
            n == panelBatch(k)._1 && optClose(v, panelBatch(k)._2) &&
              optClose(sd, panelBatch(k)._3) }
        // the Bollinger overlay rides the SAME maintained moments: bands
        // over the maintained table ≡ one-shot batch bollingerRead
        def bandRows(df: org.apache.spark.sql.DataFrame) = df
          .as[(String, Long, Long, Option[Double], Option[Double], Option[Double])]
          .collect().map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
        val bandStream = bandRows(graft.sources.InfluxRollupRead
          .bollingerMerged(spark.table("sv_influx_stddev"), spec, 3))
        val bandBatch = bandRows(graft.sources.InfluxRollupRead
          .bollingerRead(spark, opts, 3))
        def opt3(a: Option[Double], b: Option[Double]) = optClose(a, b)
        val bandsOk = bandStream.keySet == bandBatch.keySet &&
          bandStream.nonEmpty &&
          bandStream.forall { case (k, (n, m, u, l)) =>
            val (bn, bm, bu, bl) = bandBatch(k)
            n == bn && opt3(m, bm) && opt3(u, bu) && opt3(l, bl) }
        results += Res("influx_stddev_stream", streamed.size, direct.size,
          mergedOk && windowed && panelOk && bandsOk,
          "3-trigger maintained (sum, sum_sq, count) raw moments == " +
            "direct per-bucket moments at 1e-9 rel (counts exact); " +
            "stddevMerged AND bollingerMerged over the maintained table " +
            "== their one-shot batch reads incl. the n<2 NULL guard; " +
            "every POST windowed with the square map stage")
      } finally {
        graft.sources.InfluxReadTransports.testOverride = None
        graft.sources.InfluxReadTransports.clockOverride = None
      }
    }

    // --- streaming time-weighted average over pushed locf_area partials
    // (r14 twin, frozen r15): per-trigger segment partials carry their
    // within-window LOCF rectangle areas plus numeric boundary samples,
    // influxTwaStream splits each cross-trigger hold across the buckets
    // it spans in flatMapGroupsWithState state, and the maintained
    // per-(field, bucket) (covered_ms, twa) must equal the batch twaRead
    // AND the sequential per-field LOCF fold. Fixture keeps one sample
    // per (field, ms) so the hold chain is a total order; covered_ms is
    // integer-exact, twa at 1e-9 relative (the hold fold adds the same
    // value·ms rectangles in a different association).
    locally {
      val hour = 3600000L
      val msRows = evRows.map(e => (e.event_type, e.ts.getTime, e.value))
        .groupBy(t => (t._1, t._2)).map(_._2.head).toSeq
      val minMs = msRows.map(_._2).min
      val stop = msRows.map(_._2).max + 1
      val csv = {
        val sb = new StringBuilder
        sb.append(",result,table,_time,_value,_field,_measurement\n")
        msRows.foreach { case (tpe, ms, v) =>
          sb.append(",_result,0,")
            .append(java.time.Instant.ofEpochMilli(ms).toString)
            .append(',').append(v).append(',').append(tpe)
            .append(",events\n")
        }
        sb.toString
      }
      graft.sources.InfluxReadTransports.testOverride = Some(_ => csv)
      @volatile var now = minMs + (stop - minMs) / 3
      graft.sources.InfluxReadTransports.clockOverride = Some(() => now)
      try {
        val opts = graft.sources.InfluxRollupRead.twaOptions(hour, Map(
          "bucket" -> "bkt", "readPartitions" -> "2",
          "rollup.group" -> "field",
          "rollup.startMs" -> minMs.toString,
          "rollup.stopMs" -> stop.toString))
        val spec = graft.sources.InfluxRollupRead.fromOptions(
          scala.jdk.CollectionConverters.MapHasAsJava(opts).asJava).get
        val partials = opts.foldLeft(spark.readStream.format("influx")) {
          case (r, (k, v)) => r.option(k, v)
        }.load()
        val twa = graft.streaming.StreamingEvents
          .influxTwaStream(partials, spec)
        val q = twa.toDF().writeStream.format("memory")
          .queryName("sv_influx_twa").outputMode("append").start()
        try {
          q.processAllAvailable()
          now = minMs + 2 * (stop - minMs) / 3
          q.processAllAvailable()
          now = stop
          q.processAllAvailable()
        } finally q.stop()
        val rows = spark.table("sv_influx_twa")
          .as[(String, Long, Long, Double, Long)].collect()
        val streamed = rows.groupBy(r => (r._1, r._2)).map { case (k, rs2) =>
          val last = rs2.maxBy(_._5); k -> ((last._3, last._4))
        }
        // sequential per-field LOCF fold: each consecutive pair (a, b)
        // holds a's value over [a.ms, b.ms), split across the hour
        // buckets it spans (the last sample holds nothing)
        val direct = msRows.groupBy(_._1).flatMap { case (tpe, rs2) =>
          val sorted = rs2.sortBy(_._2)
          val num = scala.collection.mutable.Map.empty[Long, Double]
          val cov = scala.collection.mutable.Map.empty[Long, Long]
          sorted.lazyZip(sorted.drop(1)).foreach { (a, b) =>
            var bb = Math.floorDiv(a._2, hour) * hour
            val bEnd = Math.floorDiv(b._2 - 1, hour) * hour
            while (bb <= bEnd) {
              val piece = math.min(b._2, bb + hour) - math.max(a._2, bb)
              num(bb) = num.getOrElse(bb, 0.0) + a._3 * piece
              cov(bb) = cov.getOrElse(bb, 0L) + piece
              bb += hour
            }
          }
          cov.collect { case (b, c) if c > 0L =>
            (tpe, b) -> ((c, num(b) / c.toDouble)) }
        }
        def closeTwa(a: Map[(String, Long), (Long, Double)],
                     b: Map[(String, Long), (Long, Double)]): Boolean =
          a.keySet == b.keySet && a.forall { case (k, (c, v)) =>
            c == b(k)._1 && math.abs(v - b(k)._2) <=
              1e-9 * math.max(1.0, math.abs(b(k)._2))
          }
        val batch = graft.sources.InfluxRollupRead.twaRead(spark, opts)
          .as[(String, Long, Long, Double)].collect()
          .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
        val ok = closeTwa(streamed.toMap, direct.toMap) &&
          closeTwa(batch, direct.toMap)
        results += Res("influx_twa_stream", streamed.size, direct.size, ok,
          "3-trigger hold-split locf_area partials == batch twaRead == " +
            "sequential LOCF fold (covered_ms exact, twa 1e-9 rel)")
      } finally {
        graft.sources.InfluxReadTransports.testOverride = None
        graft.sources.InfluxReadTransports.clockOverride = None
      }
    }

    // --- streaming HA long-term-statistics panel (r15): the live twin
    // of statisticsRead — the TWA hold split plus per-bucket min/max
    // maintained in ONE state map across 3 triggers. Maintained ≡ batch
    // statisticsRead (whose mean ≡ twaRead ≡ the sequential LOCF fold by
    // the twa twin above, and whose min/max ≡ the plain rollup by
    // InfluxStatisticsReadSpec's property) AND min/max ≡ the direct
    // per-(field, bucket) sample extremes — exact, min/max associate.
    locally {
      val hour = 3600000L
      val msRows = evRows.map(e => (e.event_type, e.ts.getTime, e.value))
        .groupBy(t => (t._1, t._2)).map(_._2.head).toSeq
      val minMs = msRows.map(_._2).min
      val stop = msRows.map(_._2).max + 1
      val csv = {
        val sb = new StringBuilder
        sb.append(",result,table,_time,_value,_field,_measurement\n")
        msRows.foreach { case (tpe, ms, v) =>
          sb.append(",_result,0,")
            .append(java.time.Instant.ofEpochMilli(ms).toString)
            .append(',').append(v).append(',').append(tpe)
            .append(",events\n")
        }
        sb.toString
      }
      graft.sources.InfluxReadTransports.testOverride = Some(_ => csv)
      @volatile var now = minMs + (stop - minMs) / 3
      graft.sources.InfluxReadTransports.clockOverride = Some(() => now)
      try {
        val opts = graft.sources.InfluxRollupRead.statisticsOptions(hour,
          Map("bucket" -> "bkt", "readPartitions" -> "2",
            "rollup.group" -> "field",
            "rollup.startMs" -> minMs.toString,
            "rollup.stopMs" -> stop.toString))
        val spec = graft.sources.InfluxRollupRead.fromOptions(
          scala.jdk.CollectionConverters.MapHasAsJava(opts).asJava).get
        val partials = opts.foldLeft(spark.readStream.format("influx")) {
          case (r, (k, v)) => r.option(k, v)
        }.load()
        val stat = graft.streaming.StreamingEvents
          .influxStatisticsStream(partials, spec)
        val q = stat.toDF().writeStream.format("memory")
          .queryName("sv_influx_stat").outputMode("append").start()
        try {
          q.processAllAvailable()
          now = minMs + 2 * (stop - minMs) / 3
          q.processAllAvailable()
          now = stop
          q.processAllAvailable()
        } finally q.stop()
        def opt(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
          if (r.isNullAt(i)) None else Some(r.getDouble(i))
        val streamed = spark.table("sv_influx_stat")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            opt(r, 3), opt(r, 4), opt(r, 5), r.getLong(6)))
          .groupBy(r => (r._1, r._2)).map { case (k, rs2) =>
            val last = rs2.maxBy(_._7)
            k -> ((last._3, last._4, last._5, last._6))
          }
        val batch = graft.sources.InfluxRollupRead
          .statisticsRead(spark, opts)
          .collect().map(r => (r.getString(0), r.getLong(1)) ->
            ((r.getLong(2), opt(r, 3), opt(r, 4), opt(r, 5)))).toMap
        val directMm = msRows.groupBy(t =>
            (t._1, Math.floorDiv(t._2, hour) * hour))
          .map { case (k, rs2) =>
            k -> ((rs2.map(_._3).min, rs2.map(_._3).max)) }
        val ok = streamed.keySet == batch.keySet &&
          streamed.forall { case (k, (c, t, mn, mx)) =>
            val (bc, bt, bmn, bmx) = batch(k)
            val twaOk = (t, bt) match {
              case (Some(x), Some(y)) =>
                math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
              case (None, None) => true
              case _ => false
            }
            c == bc && twaOk && mn == bmn && mx == bmx &&
              (mn, mx) == (directMm.get(k).map(_._1),
                directMm.get(k).map(_._2))
          } && streamed.nonEmpty
        results += Res("influx_statistics_stream", streamed.size,
          batch.size, ok,
          "3-trigger maintained (covered_ms, twa, min, max) == batch " +
            "statisticsRead (covered/min/max exact, twa 1e-9 rel) AND " +
            "min/max == direct per-bucket sample extremes")
      } finally {
        graft.sources.InfluxReadTransports.testOverride = None
        graft.sources.InfluxReadTransports.clockOverride = None
      }
    }

    // --- streaming HA COUNTER long-term-statistics panel (r15): the
    // live twin of counterStatisticsRead — the rate family's
    // cross-trigger reset-aware stitch plus the per-bucket last-reading
    // slot plus the evicted-bucket cumBase fold, maintained across 3
    // triggers. Maintained ≡ batch counterStatisticsRead ≡ the direct
    // sequential counter fold (lag deltas to the later bucket, cumulative
    // sum over buckets in order).
    locally {
      val hour = 3600000L
      val msRows = evRows.map(e => (e.event_type, e.ts.getTime, e.value))
        .groupBy(t => (t._1, t._2)).map(_._2.head).toSeq
      val minMs = msRows.map(_._2).min
      val stop = msRows.map(_._2).max + 1
      val csv = {
        val sb = new StringBuilder
        sb.append(",result,table,_time,_value,_field,_measurement\n")
        msRows.foreach { case (tpe, ms, v) =>
          sb.append(",_result,0,")
            .append(java.time.Instant.ofEpochMilli(ms).toString)
            .append(',').append(v).append(',').append(tpe)
            .append(",events\n")
        }
        sb.toString
      }
      graft.sources.InfluxReadTransports.testOverride = Some(_ => csv)
      @volatile var now = minMs + (stop - minMs) / 3
      graft.sources.InfluxReadTransports.clockOverride = Some(() => now)
      try {
        val opts = graft.sources.InfluxRollupRead
          .counterStatisticsOptions(hour,
            Map("bucket" -> "bkt", "readPartitions" -> "2",
              "rollup.group" -> "field",
              "rollup.startMs" -> minMs.toString,
              "rollup.stopMs" -> stop.toString))
        val spec = graft.sources.InfluxRollupRead.fromOptions(
          scala.jdk.CollectionConverters.MapHasAsJava(opts).asJava).get
        val partials = opts.foldLeft(spark.readStream.format("influx")) {
          case (r, (k, v)) => r.option(k, v)
        }.load()
        val cstat = graft.streaming.StreamingEvents
          .influxCounterStatStream(partials, spec)
        val q = cstat.toDF().writeStream.format("memory")
          .queryName("sv_influx_cstat").outputMode("append").start()
        try {
          q.processAllAvailable()
          now = minMs + 2 * (stop - minMs) / 3
          q.processAllAvailable()
          now = stop
          q.processAllAvailable()
        } finally q.stop()
        def opt(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
          if (r.isNullAt(i)) None else Some(r.getDouble(i))
        val streamed = spark.table("sv_influx_cstat")
          .collect().map(r => (r.getString(0), r.getLong(1), opt(r, 2),
            r.getDouble(3), r.getDouble(4), r.getLong(5)))
          .groupBy(r => (r._1, r._2)).map { case (k, rs2) =>
            val last = rs2.maxBy(_._6)
            k -> ((last._3, last._4, last._5))
          }
        val batch = graft.sources.InfluxRollupRead
          .counterStatisticsRead(spark, opts)
          .collect().map(r => (r.getString(0), r.getLong(1)) ->
            ((opt(r, 2), r.getDouble(3), r.getDouble(4)))).toMap
        // direct sequential counter fold per field: reset-aware lag
        // deltas to the later sample's bucket, last reading per bucket,
        // cumulative sum over buckets in ascending order
        val direct = msRows.groupBy(_._1).flatMap { case (tpe, rs2) =>
          val sorted = rs2.sortBy(_._2)
          val inc = scala.collection.mutable.Map.empty[Long, Double]
          val st = scala.collection.mutable.Map.empty[Long, (Long, Double)]
          var prev = Option.empty[Double]
          sorted.foreach { case (_, ms, v) =>
            val b = Math.floorDiv(ms, hour) * hour
            val d = prev match {
              case None => 0.0
              case Some(p) => if (v >= p) v - p else v
            }
            inc(b) = inc.getOrElse(b, 0.0) + d
            if (st.get(b).forall(_._1 <= ms)) st(b) = (ms, v)
            prev = Some(v)
          }
          var cum = 0.0
          inc.toSeq.sortBy(_._1).map { case (b, i) =>
            cum += i
            (tpe, b) -> ((Option(st(b)._2), i, cum))
          }
        }
        def closeC(a: Map[(String, Long), (Option[Double], Double, Double)],
                   b: Map[(String, Long), (Option[Double], Double, Double)])
            : Boolean =
          a.keySet == b.keySet && a.forall { case (k, (s1, i1, c1)) =>
            val (s2, i2, c2) = b(k)
            def eq(x: Double, y: Double): Boolean =
              math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
            ((s1, s2) match {
              case (Some(x), Some(y)) => eq(x, y)
              case (None, None) => true
              case _ => false
            }) && eq(i1, i2) && eq(c1, c2)
          }
        val ok = closeC(streamed.toMap, direct.toMap) &&
          closeC(batch, direct.toMap) && streamed.nonEmpty
        results += Res("influx_counter_stat_stream", streamed.size,
          batch.size, ok,
          "3-trigger maintained (state, increase, sum_total) == batch " +
            "counterStatisticsRead == direct sequential counter fold " +
            "(state exact-or-both-null, increase/sum_total 1e-9 rel)")
      } finally {
        graft.sources.InfluxReadTransports.testOverride = None
        graft.sources.InfluxReadTransports.clockOverride = None
      }
    }

    // --- LIVE statistics-partials maintenance (r15): the incremental
    // long-term-statistics pipeline without a remote source — per
    // (series, bucket) (Σ value·ms BIGINT, covered-ms, min, max)
    // maintained from raw events across 3 triggers must equal the batch
    // statisticsPartialsHourly EXACTLY (integer sums + exact extremes, no
    // tolerance): holds cut by trigger boundaries land bit-identically
    // when their closing sample arrives, and the compactor can serve any
    // coarse panel off the maintained table.
    locally {
      val streamed = runEventStream("sv_statp",
        df => StreamingEvents.statisticsPartialsStream(df).toDF())
        .collect().map { r =>
          (r.getString(0), r.getLong(1)) ->
            ((r.getLong(2), r.getLong(3),
              if (r.isNullAt(4)) None else Some(r.getDouble(4)),
              if (r.isNullAt(5)) None else Some(r.getDouble(5)),
              r.getLong(6)))
        }.groupBy(_._1).map { case (k, rs2) =>
          val w = rs2.maxBy(_._2._5)._2
          k -> ((w._1, w._2, w._3, w._4))
        }
      val batch = graft.ext.EventsExt.statisticsPartialsHourly(
          graft.etl.Tables.events(spark, sfDir))
        .collect().map { r =>
          (r.getString(0), r.getLong(1)) ->
            ((if (r.isNullAt(2)) 0L else r.getLong(2),
              if (r.isNullAt(3)) 0L else r.getLong(3),
              if (r.isNullAt(4)) None else Some(r.getDouble(4)),
              if (r.isNullAt(5)) None else Some(r.getDouble(5))))
        }.toMap
      results += Res("statistics_partials_stream", streamed.size,
        batch.size, streamed.toMap == batch && streamed.nonEmpty,
        "3-trigger maintained (num, cov, min, max) statistics partials " +
          "== batch statisticsPartialsHourly, BIT-exact (BIGINT sums + " +
          "exact extremes); the compactor serves coarse panels off the " +
          "maintained table")
    }

    // --- LIVE compaction composition (r16): the maintained statistics
    // partials feed statisticsCompact in a foreachBatch — the live
    // long-term DAILY panel, the last composition in the statistics story
    // (stream-maintain ≡ batch is proven above; this proves
    // stream-maintain → compact ≡ batch-compact). Each trigger upserts the
    // changelog into a keyed maintained table (the role a real deployment
    // gives a keyed upsert sink) and re-compacts it; the FINAL panel must
    // equal batch statisticsCompact(statisticsPartialsHourly) bit-exactly
    // — and so must every intermediate panel equal the batch compaction of
    // the events seen so far, which the bit-exact partials parity already
    // implies.
    locally {
      implicit val ctx = spark.sqlContext
      import graft.streaming.StreamingEvents.StatPartialPoint
      val source = MemoryStream[Ev]
      val maintained = scala.collection.mutable.Map
        .empty[(String, Long), StatPartialPoint]
      type PanelKey = (String, Long)
      type PanelRow = (Option[Double], Option[Double], Option[Double])
      @volatile var panel: Map[PanelKey, PanelRow] = Map.empty
      def collectPanel(df: DataFrame): Map[PanelKey, PanelRow] =
        df.collect().map { r =>
          def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
          (r.getString(0), r.getLong(1)) -> ((opt(2), opt(3), opt(4)))
        }.toMap
      val q = StreamingEvents.statisticsPartialsStream(source.toDF())
        .writeStream.outputMode("append")
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[StatPartialPoint], _: Long) =>
            batch.collect().foreach { p =>
              val k = (p.event_type, p.bucket_ms)
              if (maintained.get(k).forall(_.n_seen <= p.n_seen))
                maintained(k) = p
            }
            // rebuild the partials frame in the batch schema (0-cov slots
            // → NULL num/cov, exactly statisticsPartialsHourly's
            // full-outer shape) and compact the CURRENT table to daily
            val rows = maintained.valuesIterator.map(p =>
              (p.event_type, p.bucket_ms,
                if (p.cov > 0) Some(p.num) else None,
                if (p.cov > 0) Some(p.cov) else None,
                p.mn, p.mx)).toSeq
            if (rows.nonEmpty)
              panel = collectPanel(graft.ext.EventsExt.statisticsCompact(
                rows.toDF("event_type", "bucket_ms", "num", "cov",
                  "min_value", "max_value"), factor = 24))
            () // Unit, not DataFrame — keep the 3.x foreachBatch overload
        }.start()
      try {
        chunks.foreach { c =>
          source.addData(c.toIndexedSeq); q.processAllAvailable()
        }
      } finally q.stop()
      val batchPanel = collectPanel(graft.ext.EventsExt.statisticsCompact(
        graft.ext.EventsExt.statisticsPartialsHourly(
          graft.etl.Tables.events(spark, sfDir)), factor = 24))
      results += Res("statistics_compact_stream", panel.size,
        batchPanel.size, panel == batchPanel && panel.nonEmpty,
        "foreachBatch-compacted live DAILY panel off the maintained " +
          "statistics partials == batch statisticsCompact(" +
          "statisticsPartialsHourly), BIT-exact (the divided mean runs " +
          "the identical op sequence over identical BIGINT sums)")

      // --- 41st twin (r18): the tiered MONTHLY statistics view with the
      // MAINTAINED table as the fine tier — the statistics sibling of the
      // tiered calendar bars twin: persisted LOCAL-calendar-day history
      // strictly before the Jan 15 local-midnight cutoff ∪ the maintained
      // hourly partials at-or-after it, regrouped onto NY months; must
      // equal the untiered batch monthly view bit-exactly (BIGINT
      // num/cov sums regroup associatively across the seam).
      locally {
        val s2 = spark
        import s2.implicits._
        val fine = maintained.valuesIterator.map(p =>
            (p.event_type, p.bucket_ms,
              if (p.cov > 0) Some(p.num) else None,
              if (p.cov > 0) Some(p.cov) else None,
              p.mn, p.mx)).toSeq
          .toDF("event_type", "bucket_ms", "num", "cov",
            "min_value", "max_value")
        val dayTier = graft.ext.EventsExt.statisticsCalendarPartials(
          graft.ext.EventsExt.statisticsPartialsHourly(
            graft.etl.Tables.events(spark, sfDir)),
          unit = "DAY", tz = "America/New_York")
        val tiered = collectPanel(graft.ext.EventsExt.statisticsCalendarCompact(
          graft.ext.EventsExt.statisticsCalendarTierPartials(fine, dayTier,
            cutoffMs = 1705294800000L, tz = "America/New_York"),
          unit = "MONTH", tz = "America/New_York"))
        val batchMonthly = collectPanel(
          graft.ext.EventsExt.statisticsCalendarCompact(
            graft.ext.EventsExt.statisticsPartialsHourly(
              graft.etl.Tables.events(spark, sfDir)),
            unit = "MONTH", tz = "America/New_York"))
        results += Res("statistics_monthly_tiered_stream", tiered.size,
          batchMonthly.size, tiered == batchMonthly && tiered.nonEmpty,
          "tiered MONTHLY statistics: persisted LOCAL-calendar-day tier " +
            "before the Jan 15 local-midnight cutoff ∪ the MAINTAINED " +
            "hourly partials after it, regrouped onto NY months == " +
            "untiered batch statisticsCalendarCompact, BIT-exact")
      }
    }

    // --- LIVE counter statistics from raw events (r15): the parquet twin
    // of influx_counter_stat_stream — per (series, bucket)
    // (state, increase, sum_total) maintained in integer cents across 3
    // triggers must equal batch counterStatsHourly EXACTLY (the stream's
    // integer algebra mirrors the batch DECIMAL sums; /100.0 renders the
    // identical doubles).
    locally {
      val streamed = runEventStream("sv_cstats",
        df => StreamingEvents.counterStatsStream(df).toDF())
        .as[(Long, Long, Double, Double, Double, Long)].collect()
        .groupBy(r => (r._1, r._2)).map { case (k, rs2) =>
          val w = rs2.maxBy(_._6); k -> ((w._3, w._4, w._5))
        }
      val batch = graft.ext.EventsExt.counterStatsHourly(
          graft.etl.Tables.events(spark, sfDir))
        .as[(Long, Long, Double, Double, Double)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
      results += Res("counter_stats_stream", streamed.size, batch.size,
        streamed.toMap == batch && streamed.nonEmpty,
        "3-trigger maintained (state, increase, sum_total) from raw " +
          "events == batch counterStatsHourly, EXACT (integer-cents " +
          "algebra mirrors the batch DECIMAL sums)")

      // --- LIVE energy panel (r16, 37th twin): the maintained counter
      // table ANSWERS the dashboard range read — sum_total differenced at
      // the range endpoints over the maintained rows (cents recovered
      // exactly: every sum_total is k/100.0 with k far below 2^53, so
      // rint(v·100) inverts the render and the difference is the same
      // exact decimal batch computes) must equal batch energyRange
      // bit-exactly. Proves the composition stream-maintain → endpoint
      // difference ≡ batch delta-chain → difference.
      locally {
        val startMs = 1704672000000L // 2024-01-08, the SparkEntry range
        val endMs = 1705881600000L   // 2024-01-22
        def cents(v: Double): Long = math.rint(v * 100).toLong
        val energy = streamed.toSeq
          .filter(_._1._2 < endMs)
          .groupBy(_._1._1).flatMap { case (u, rows) =>
            val inRange = rows.count(_._1._2 >= startMs)
            if (inRange == 0) None
            else {
              val endC = cents(rows.maxBy(_._1._2)._2._3)
              val pre = rows.filter(_._1._2 < startMs)
              val preC = if (pre.isEmpty) 0L else cents(pre.maxBy(_._1._2)._2._3)
              Some(u -> (((endC - preC) / 100.0, inRange.toLong)))
            }
          }
        val batchEnergy = graft.ext.EventsExt.energyRange(
            graft.etl.Tables.events(spark, sfDir), startMs, endMs)
          .collect().map(r => r.getAs[Long]("user_id") ->
            ((r.getAs[Double]("energy"), r.getAs[Long]("n_buckets")))).toMap
        results += Res("energy_range_stream", energy.size, batchEnergy.size,
          energy == batchEnergy && energy.nonEmpty,
          "energy panel off the MAINTAINED counter table (sum_total " +
            "differenced at the range endpoints) == batch energyRange, " +
            "BIT-exact — the live dashboard serves ranges without " +
            "re-reading samples")

        // --- 38th twin: the BAR SERIES off the same maintained table —
        // hourly increases regroup (in exact cents) onto the 2-day bar
        // grid anchored at the range start; counter deltas are
        // grid-independent, so the live bars must equal batch energyBars
        // bit-exactly
        val gridMs = 2 * 86400000L
        val bars = streamed.toSeq
          .map { case ((u, b), (_, inc, _)) =>
            ((u, b - Math.floorMod(b - startMs, gridMs)), cents(inc))
          }
          .filter { case ((_, bar), _) => bar >= startMs && bar < endMs }
          .groupBy(_._1).map { case (k, xs) =>
            k -> xs.map(_._2).sum / 100.0
          }
        val batchBars = graft.ext.EventsExt.energyBars(
            graft.etl.Tables.events(spark, sfDir), startMs, endMs, gridMs)
          .collect().map(r => (r.getLong(0), r.getLong(1)) ->
            r.getAs[Double]("energy")).toMap
        results += Res("energy_bars_stream", bars.size, batchBars.size,
          bars == batchBars && bars.nonEmpty,
          "per-period bars off the MAINTAINED counter table (hourly " +
            "increases regrouped in exact cents onto the range-anchored " +
            "bar grid) == batch energyBars, BIT-exact")

        // --- 39th twin (r17): CALENDAR bars — the dashboard's monthly
        // long view — off the same maintained table. The hourly
        // increases regroup in exact cents onto LOCAL month starts
        // computed with java.time (an independent formulation of the
        // calendar mapping Spark runs via date_trunc + zone shifts);
        // must equal batch energyBarsCalendar bit-exactly.
        val zone = java.time.ZoneId.of("America/New_York")
        def monthKey(b: Long): Long = java.time.Instant.ofEpochMilli(b)
          .atZone(zone).toLocalDate.withDayOfMonth(1).atStartOfDay(zone)
          .toInstant.toEpochMilli
        val mbars = streamed.toSeq
          .map { case ((u, b), (_, inc, _)) =>
            ((u, monthKey(b)), cents(inc))
          }
          .groupBy(_._1).map { case (k, xs) =>
            k -> xs.map(_._2).sum / 100.0
          }
        val batchMBars = graft.ext.EventsExt.energyBarsCalendar(
            graft.etl.Tables.events(spark, sfDir), unit = "MONTH",
            tz = "America/New_York")
          .collect().map(r => (r.getLong(0), r.getLong(1)) ->
            r.getAs[Double]("energy")).toMap
        results += Res("energy_bars_monthly_stream", mbars.size,
          batchMBars.size, mbars == batchMBars && mbars.nonEmpty,
          "CALENDAR monthly bars (America/New_York) off the MAINTAINED " +
            "counter table — hourly increases regrouped in exact cents " +
            "onto java.time local month starts == batch " +
            "energyBarsCalendar, BIT-exact")

        // --- 40th twin (r18): TIERED calendar bars — the live monthly
        // view at retention scale: LOCAL-CALENDAR-DAY partials (the
        // DST-proof coarse tier, batch-persisted) serve history strictly
        // before the Jan 15 LOCAL-midnight cutoff, the MAINTAINED hourly
        // table serves recency at-or-after it; both regroup in exact
        // cents onto java.time month starts and must reproduce the
        // untiered batch calendar bars bit-exactly.
        val cutoffMs = 1705294800000L // 2024-01-15 00:00 America/New_York
        val coarseCents = graft.ext.EventsExt.counterStatsCalendarPartials(
            graft.ext.EventsExt.counterStatsPartialsHourly(
              graft.etl.Tables.events(spark, sfDir)),
            unit = "DAY", tz = "America/New_York")
          .filter(org.apache.spark.sql.functions.col("bucket_start_ms")
            < cutoffMs)
          .selectExpr("user_id", "bucket_start_ms",
            // round() matches the math.rint used for the streaming-side
            // cents: inc_d is DECIMAL(.,2) so both are exact today, but
            // a truncating CAST would make any future scale change fail
            // the twin spuriously instead of signaling real divergence
            "CAST(round(inc_d * 100) AS BIGINT) AS cents")
          .collect()
          .map(r => ((r.getLong(0), monthKey(r.getLong(1))), r.getLong(2)))
        val fineCents = streamed.toSeq
          .filter { case ((_, b), _) => b >= cutoffMs }
          .map { case ((u, b), (_, inc, _)) =>
            ((u, monthKey(b)), cents(inc))
          }
        val tbars = (coarseCents ++ fineCents)
          .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum / 100.0 }
        results += Res("energy_bars_monthly_tiered_stream", tbars.size,
          batchMBars.size, tbars == batchMBars && tbars.nonEmpty,
          "TIERED calendar bars: persisted LOCAL-calendar-day coarse " +
            "tier before the Jan 15 local-midnight cutoff ∪ MAINTAINED " +
            "hourly table after it, regrouped in exact cents onto " +
            "java.time month starts == untiered batch " +
            "energyBarsCalendar, BIT-exact")
      }
    }

    // --- 42nd/43rd twins (r19): the COMPOSED half-hour-zone tier stitch
    // LIVE — the r18 verdict's "gated separately but never composed"
    // item, proven on the streaming side too. A 30-MINUTE maintained
    // table (IST local midnights are :30 UTC instants no hourly grid
    // contains) serves recency at-or-after a Jan 15 IST-midnight cutoff;
    // batch-persisted Asia/Kolkata CALENDAR-DAY partials serve history
    // before it; both regroup onto java.time IST month starts and must
    // reproduce the untiered batch Kolkata views bit-exactly.
    locally {
      val s2 = spark
      import s2.implicits._
      val ist = java.time.ZoneId.of("Asia/Kolkata")
      val cutoffMs = 1705257000000L // 2024-01-15 00:00 IST (18:30Z Jan 14)
      def monthKey(b: Long): Long = java.time.Instant.ofEpochMilli(b)
        .atZone(ist).toLocalDate.withDayOfMonth(1).atStartOfDay(ist)
        .toInstant.toEpochMilli
      def cents(v: Double): Long = math.rint(v * 100).toLong

      // energy: maintained 30-minute counter table, last emission per key
      val fineCounter = runEventStream("sv_cstats30",
        df => StreamingEvents.counterStatsStream(df, everyMs = 1800000L)
          .toDF())
        .as[(Long, Long, Double, Double, Double, Long)].collect()
        .groupBy(r => (r._1, r._2)).map { case (k, rs2) =>
          k -> rs2.maxBy(_._6)._4 // the bucket's final increase
        }
      val coarseCents = graft.ext.EventsExt.counterStatsCalendarPartials(
          graft.ext.EventsExt.counterStatsPartialsHourly(
            graft.etl.Tables.events(spark, sfDir), everyMs = 1800000L),
          unit = "DAY", tz = "Asia/Kolkata")
        .filter(org.apache.spark.sql.functions.col("bucket_start_ms")
          < cutoffMs)
        .selectExpr("user_id", "bucket_start_ms",
          // round() matches the math.rint used for the streaming-side
          // cents: inc_d is DECIMAL(.,2) so both are exact today, but
          // a truncating CAST would make any future scale change fail
          // the twin spuriously instead of signaling real divergence
          "CAST(round(inc_d * 100) AS BIGINT) AS cents")
        .collect()
        .map(r => ((r.getLong(0), monthKey(r.getLong(1))), r.getLong(2)))
      val fineCents = fineCounter.toSeq
        .filter { case ((_, b), _) => b >= cutoffMs }
        .map { case ((u, b), inc) => ((u, monthKey(b)), cents(inc)) }
      val tbars = (coarseCents ++ fineCents)
        .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum / 100.0 }
      val batchKBars = graft.ext.EventsExt.energyBarsCalendar(
          graft.etl.Tables.events(spark, sfDir), unit = "MONTH",
          tz = "Asia/Kolkata", everyMs = 1800000L)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          r.getAs[Double]("energy")).toMap
      results += Res("energy_bars_monthly_kolkata_tiered_stream",
        tbars.size, batchKBars.size, tbars == batchKBars && tbars.nonEmpty,
        "COMPOSED half-hour tier stitch LIVE: persisted Asia/Kolkata " +
          "calendar-day tier before the Jan 15 IST-midnight cutoff ∪ " +
          "MAINTAINED 30-minute counter table after it, regrouped in " +
          "exact cents onto java.time IST month starts == untiered " +
          "batch Kolkata energyBarsCalendar, BIT-exact")

      // statistics: maintained 30-minute partials table, last emission
      // per key, rebuilt in the batch schema (0-cov → NULL num/cov)
      val fineStat = runEventStream("sv_statp30",
        df => StreamingEvents.statisticsPartialsStream(df,
          stepMs = 1800000L).toDF())
        .collect().map { r =>
          (r.getString(0), r.getLong(1)) ->
            ((r.getLong(2), r.getLong(3),
              if (r.isNullAt(4)) None else Some(r.getDouble(4)),
              if (r.isNullAt(5)) None else Some(r.getDouble(5)),
              r.getLong(6)))
        }.groupBy(_._1).map { case (k, rs2) =>
          k -> rs2.maxBy(_._2._5)._2
        }
      val fineDf = fineStat.toSeq.map { case ((t, b), (num, cov, mn, mx, _)) =>
          (t, b, if (cov > 0) Some(num) else None,
            if (cov > 0) Some(cov) else None, mn, mx)
        }.toDF("event_type", "bucket_ms", "num", "cov",
          "min_value", "max_value")
      val dayTierIst = graft.ext.EventsExt.statisticsCalendarPartials(
        graft.ext.EventsExt.statisticsPartialsHourly(
          graft.etl.Tables.events(spark, sfDir), stepMs = 1800000L),
        unit = "DAY", tz = "Asia/Kolkata")
      def collectPanel(df: DataFrame) = df.collect().map { r =>
        def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
        (r.getString(0), r.getLong(1)) -> ((opt(2), opt(3), opt(4)))
      }.toMap
      val tieredStat = collectPanel(
        graft.ext.EventsExt.statisticsCalendarCompact(
          graft.ext.EventsExt.statisticsCalendarTierPartials(
            fineDf, dayTierIst, cutoffMs = cutoffMs, tz = "Asia/Kolkata"),
          unit = "MONTH", tz = "Asia/Kolkata"))
      val batchKStat = collectPanel(
        graft.ext.EventsExt.statisticsCalendarCompact(
          graft.ext.EventsExt.statisticsPartialsHourly(
            graft.etl.Tables.events(spark, sfDir), stepMs = 1800000L),
          unit = "MONTH", tz = "Asia/Kolkata"))
      results += Res("statistics_monthly_kolkata_tiered_stream",
        tieredStat.size, batchKStat.size,
        tieredStat == batchKStat && tieredStat.nonEmpty,
        "COMPOSED half-hour tier stitch LIVE (mean family): persisted " +
          "IST calendar-day tier ∪ MAINTAINED 30-minute partials, " +
          "regrouped onto IST months == untiered batch Kolkata monthly " +
          "statistics, BIT-exact")
    }

    // --- 44th/45th twins (r20): the round's two new calendar seams
    // proven LIVE. #44 runs the LORD HOWE tier composition — the seam
    // whose UTC alignment CHANGES across the DST transition (:30-UTC
    // local midnights before the Oct 6 spring-forward, :00 after) — as
    // a MAINTAINED 30-minute counter table ∪ batch-persisted Lord Howe
    // calendar-day tier, regrouped onto java.time LHI month starts.
    // #45 streams the AMBIGUOUS-midnight zone: per-LOCAL-DAY Havana
    // bars off the maintained hourly table, the 25-hour fall-back day
    // keyed at the earlier-offset midnight. Both must reproduce the
    // untiered batch views bit-exactly.
    locally {
      val s2 = spark
      import s2.implicits._
      import org.apache.spark.sql.functions.{col, expr}
      val lhi = java.time.ZoneId.of("Australia/Lord_Howe")
      val cutoffMs = 1728478800000L // 2024-10-10 00:00 +11 (Oct 9 13:00Z)
      val shiftL = expr("INTERVAL 273 DAYS")
      def monthKeyL(b: Long): Long = java.time.Instant.ofEpochMilli(b)
        .atZone(lhi).toLocalDate.withDayOfMonth(1).atStartOfDay(lhi)
        .toInstant.toEpochMilli
      def cents(v: Double): Long = math.rint(v * 100).toLong

      val fineCounter = runEventStream("sv_cstats30_lhi",
        df => StreamingEvents.counterStatsStream(
          df.withColumn("ts", col("ts") + shiftL), everyMs = 1800000L)
          .toDF())
        .as[(Long, Long, Double, Double, Double, Long)].collect()
        .groupBy(r => (r._1, r._2)).map { case (k, rs2) =>
          k -> rs2.maxBy(_._6)._4 // the bucket's final increase
        }
      val shiftedBatch = graft.etl.Tables.events(spark, sfDir)
        .withColumn("ts", col("ts") + shiftL)
      val coarseCents = graft.ext.EventsExt.counterStatsCalendarPartials(
          graft.ext.EventsExt.counterStatsPartialsHourly(shiftedBatch,
            everyMs = 1800000L),
          unit = "DAY", tz = "Australia/Lord_Howe")
        .filter(col("bucket_start_ms") < cutoffMs)
        .selectExpr("user_id", "bucket_start_ms",
          "CAST(round(inc_d * 100) AS BIGINT) AS cents")
        .collect()
        .map(r => ((r.getLong(0), monthKeyL(r.getLong(1))), r.getLong(2)))
      val fineCents = fineCounter.toSeq
        .filter { case ((_, b), _) => b >= cutoffMs }
        .map { case ((u, b), inc) => ((u, monthKeyL(b)), cents(inc)) }
      val tbars = (coarseCents ++ fineCents)
        .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum / 100.0 }
      val batchLBars = graft.ext.EventsExt.energyBarsCalendar(
          shiftedBatch, unit = "MONTH", tz = "Australia/Lord_Howe",
          everyMs = 1800000L)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          r.getAs[Double]("energy")).toMap
      results += Res("energy_bars_monthly_lordhowe_tiered_stream",
        tbars.size, batchLBars.size, tbars == batchLBars && tbars.nonEmpty,
        "FRACTIONAL-HOUR-DST tier stitch LIVE: persisted Lord Howe " +
          "calendar-day tier before the post-transition :00-UTC cutoff " +
          "∪ MAINTAINED 30-minute counter table after it (coarse days " +
          "start :30 UTC — the seam alignment changes across the " +
          "transition), regrouped onto java.time LHI month starts == " +
          "untiered batch energyBarsCalendar, BIT-exact")

      // #45: the ambiguous-midnight zone per-LOCAL-DAY, live
      val hav = java.time.ZoneId.of("America/Havana")
      val shiftH = expr("INTERVAL 301 DAYS")
      def dayKeyH(b: Long): Long = java.time.Instant.ofEpochMilli(b)
        .atZone(hav).toLocalDate.atStartOfDay(hav).toInstant.toEpochMilli
      val fineHav = runEventStream("sv_cstats_hav",
        df => StreamingEvents.counterStatsStream(
          df.withColumn("ts", col("ts") + shiftH)).toDF())
        .as[(Long, Long, Double, Double, Double, Long)].collect()
        .groupBy(r => (r._1, r._2)).map { case (k, rs2) =>
          k -> rs2.maxBy(_._6)._4
        }
      val hbars = fineHav.toSeq
        .map { case ((u, b), inc) => ((u, dayKeyH(b)), cents(inc)) }
        .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum / 100.0 }
      val batchHBars = graft.ext.EventsExt.energyBarsCalendar(
          graft.etl.Tables.events(spark, sfDir)
            .withColumn("ts", col("ts") + shiftH),
          unit = "DAY", tz = "America/Havana")
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          r.getAs[Double]("energy")).toMap
      results += Res("energy_bars_daily_havana_stream",
        hbars.size, batchHBars.size, hbars == batchHBars && hbars.nonEmpty,
        "AMBIGUOUS-midnight zone LIVE: maintained hourly counter table " +
          "regrouped in exact cents onto java.time Havana LOCAL DAYS " +
          "(the 25-hour fall-back day keyed at the earlier-offset " +
          "midnight) == untiered batch per-day energyBarsCalendar, " +
          "BIT-exact")

      // #46: the QUARTER-hour zone per-LOCAL-DAY, live — Chatham's
      // :15-UTC local midnights are on the maintained table's 15-minute
      // grid and on no coarser one
      val cht = java.time.ZoneId.of("Pacific/Chatham")
      val shiftC = expr("INTERVAL 265 DAYS")
      def dayKeyC(b: Long): Long = java.time.Instant.ofEpochMilli(b)
        .atZone(cht).toLocalDate.atStartOfDay(cht).toInstant.toEpochMilli
      val fineCht = runEventStream("sv_cstats15_cht",
        df => StreamingEvents.counterStatsStream(
          df.withColumn("ts", col("ts") + shiftC), everyMs = 900000L)
          .toDF())
        .as[(Long, Long, Double, Double, Double, Long)].collect()
        .groupBy(r => (r._1, r._2)).map { case (k, rs2) =>
          k -> rs2.maxBy(_._6)._4
        }
      val cbars = fineCht.toSeq
        .map { case ((u, b), inc) => ((u, dayKeyC(b)), cents(inc)) }
        .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum / 100.0 }
      val batchCBars = graft.ext.EventsExt.energyBarsCalendar(
          graft.etl.Tables.events(spark, sfDir)
            .withColumn("ts", col("ts") + shiftC),
          unit = "DAY", tz = "Pacific/Chatham", everyMs = 900000L)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          r.getAs[Double]("energy")).toMap
      results += Res("energy_bars_daily_chatham_stream",
        cbars.size, batchCBars.size, cbars == batchCBars && cbars.nonEmpty,
        "QUARTER-hour zone LIVE: maintained 15-minute counter table " +
          "regrouped in exact cents onto java.time Chatham LOCAL DAYS " +
          "(:15-UTC midnights on no coarser grid; the 23-hour " +
          "spring-forward day included) == untiered batch per-day " +
          "energyBarsCalendar, BIT-exact")
    }

    val rs = results.result()
    val json = rs.map { r =>
      s""""${r.name}":{"stream_rows":${r.streamRows},"batch_rows":${r.batchRows},""" +
        s""""match":${r.ok},"check":"${r.detail}"}"""
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(outFile), json + "\n")
    println(json)
    val failed = rs.filterNot(_.ok)
    if (failed.nonEmpty) {
      System.err.println("STREAMING VERIFY FAILURES: " +
        failed.map(_.name).mkString(", "))
      spark.stop(); sys.exit(1)
    }
    println(s"streaming verify OK (${rs.size} twins) -> $outFile")
    spark.stop()
  }
}
