package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import scala.io.Source

/** `query_mix`: one operation is one pass over a fixed list of
  * `SparkEntry.queries` over the committed sf0.01 fixture (`fixtureDir`),
  * each materialized with `write.format("noop")`, plus one [[InfluxRead]],
  * in an order the seed permutes anew for every pass. The check: every
  * query's row count (observed on the timed write), for the oracle-exact
  * queries an order-insensitive content hash against the values in
  * `query_mix_expected.tsv`, and the Influx read's row count and value
  * sum. */
final class QueryMixWorkload(ctx: Ctx, fixtureDir: String) extends Workload {
  import ctx.spark
  import QueryMixWorkload._
  private val rnd = new scala.util.Random(ctx.seed)
  private val influx = new InfluxRead(ctx, nSeries = 500, perSeries = 600)

  override def load(): Unit = influx.load()

  /** Run one step of a pass: its rows, a failure message, its extras. */
  private def step(q: String, pass: Int): OpResult =
    if (q == InfluxQuery) influx.read(pass)
    else {
      val n = noopCount(SparkEntry.queries(q)(spark, fixtureDir))
      OpResult(n, n == expected(q)._1, s"$q rows $n/${expected(q)._1}")
    }

  /** A check pass computing each query's row count and content hash, then
    * one untimed noop pass, so the timed passes start warm. */
  override def warmUp(): Boolean = {
    val checked = rnd.shuffle(Names).map { q =>
      val (n, h) = countAndHash(SparkEntry.queries(q)(spark, fixtureDir))
      val (en, eh) = expected(q)
      val ok = n == en && eh.forall(_ == h)
      if (!ok) System.err.println(s"query_mix check failed: $q rows $n/$en hash $h/$eh")
      ok
    }.forall(identity)
    checked && op(0).ok
  }

  override def op(i: Int): OpResult = {
    var rows = 0L
    var bad = List.empty[String]
    val extra = Map.newBuilder[String, Double]
    rnd.shuffle(All).foreach { q =>
      val counters = ctx.counters.filter(_ => ctx.tracer.enabled)
      val before = counters.map(_.snapshot(spark))
      val t0 = System.nanoTime()
      val r = ctx.tracer.span(s"query.$q")(step(q, i))
      extra += s"query.$q.s" -> (System.nanoTime() - t0) / 1e9
      extra ++= r.extra
      counters.foreach { c =>
        val d = c.since(spark, before.get)
        extra ++= Seq(s"query.$q.jobs" -> d.jobs.toDouble,
          s"query.$q.plan_s" -> d.planNs / 1e9,
          s"query.$q.shuffle_bytes" -> d.shuffleBytes.toDouble,
          s"query.$q.result_bytes" -> d.resultBytes.toDouble)
      }
      rows += r.rows
      if (!r.ok) bad ::= r.detail
    }
    OpResult(rows, bad.isEmpty, bad.mkString("; "), extra.result())
  }

  /** The sum over queries of each query's median time across passes: a
    * pass whose order or a stray pause slows one query does not move it. */
  override def opSeconds(ops: Seq[OpTrace]): Double =
    All.map(q => Stats.median(ops.map(_.result.extra(s"query.$q.s")))).sum

  override def layers(traced: Seq[OpTrace], untilNs: Long): Map[String, Metric] = {
    def med(k: String) = Stats.median(traced.map(_.result.extra(k)))
    All.flatMap { q =>
      Seq("s" -> "s", "jobs" -> "count", "plan_s" -> "s", "shuffle_bytes" -> "B",
        "result_bytes" -> "B").map { case (k, u) =>
        s"query.$q.$k" -> Metric(med(s"query.$q.$k"), u) }
    }.toMap ++ Seq("sources.flux_posts" -> "count", "sources.bytes_per_row" -> "B",
      "stub.busy_s" -> "s", "stub.requests" -> "count", "stub.bytes" -> "B")
      .map { case (k, u) => k -> Metric(med(k), u) }
  }

  override def close(): Unit = influx.close()
}

object QueryMixWorkload {
  /** One query per layer: graft.ext (the linear resample), graft.plans
    * (the as-of merge exec and the banded range join rule), the custom
    * expressions in org.apache.spark.sql.graft (sign sketches), a
    * driver-gated iterative operator (BPE training), and a plain TPC-H join
    * as a control that runs no graft code. */
  val Names: Vector[String] = Vector(
    "events_resample_linear", "events_asof_exec", "events_range_join_auto",
    "media_feature_neardup_lsh", "docs_bpe_merges", "tpch_local_supplier")

  /** The pass's Influx read step ([[InfluxRead]]), and every step. */
  val InfluxQuery = "influx_read"
  val All: Vector[String] = Names :+ InfluxQuery

  /** Queries checked against the DuckDB oracle by the repository's own
    * correctness harness: their content is exact, so it is hashed too. */
  val OracleExact: Set[String] = Set("events_resample_linear", "events_asof_exec",
    "events_range_join_auto", "tpch_local_supplier")

  def noopCount(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  /** Row count and the wrapping sum of a 64-bit hash of each row's JSON. */
  def countAndHash(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(to_json(struct(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*))).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** `name \t rows \t hash-or-dash` lines. */
  lazy val expected: Map[String, (Long, Option[Long])] = {
    val src = Source.fromInputStream(
      getClass.getResourceAsStream("/perfbench/query_mix_expected.tsv"), "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(q, n, h) = l.split('\t')
      q -> (n.toLong, if (h == "-") None else Some(h.toLong))
    }.toMap
    finally src.close()
  }

  /** The lines of `query_mix_expected.tsv`, computed at the current code. */
  def record(ctx: Ctx, fixtureDir: String): Seq[String] = Names.map { q =>
    val (n, h) = countAndHash(SparkEntry.queries(q)(ctx.spark, fixtureDir))
    s"$q\t$n\t${if (OracleExact(q)) h.toString else "-"}"
  }

  /** Each query timed under `count()` and under the noop write, `rounds`
    * times, alternating which action runs first; median seconds of each. */
  def bridge(ctx: Ctx, fixtureDir: String, rounds: Int): Seq[Map[String, Any]] =
    Names.map { q =>
      val fn = SparkEntry.queries(q)
      def time(f: DataFrame => Unit): Double = {
        val t0 = System.nanoTime()
        f(fn(ctx.spark, fixtureDir))
        (System.nanoTime() - t0) / 1e9
      }
      val countAction: DataFrame => Unit = df => df.count()
      val noopAction: DataFrame => Unit = df =>
        df.write.format("noop").mode("overwrite").save()
      time(countAction); time(noopAction) // warm
      val pairs = (0 until rounds).map { r =>
        if (r % 2 == 0) { val c = time(countAction); (c, time(noopAction)) }
        else { val n = time(noopAction); (time(countAction), n) }
      }
      val c = Stats.median(pairs.map(_._1))
      val n = Stats.median(pairs.map(_._2))
      scala.collection.immutable.ListMap("query" -> q, "count_s" -> c, "noop_s" -> n,
        "noop_over_count" -> n / c, "rounds" -> rounds,
        "count_samples" -> pairs.map(_._1), "noop_samples" -> pairs.map(_._2))
    }
}
