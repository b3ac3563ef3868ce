package graft

import graft.streaming.StreamingEvents
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The running Misra–Gries summary resumed from state across micro-batches
  * is the sequential algorithm over the concatenated stream, so the
  * n/(k+1) bounds hold over the whole prefix — asserted here against exact
  * counts after the final batch. */
class HeavyHittersStreamSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private val k = 8

  test("per-lang MG state across batches keeps bounds; hot token leads") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val source = MemoryStream[(String, String)]
    val df = source.toDF().toDF("lang", "text")
    val query = StreamingEvents.heavyHittersStream(df, k).writeStream
      .format("memory").queryName("hh").outputMode("update").start()

    def batch(seed: Int, n: Int): Seq[(String, String)] = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map { _ =>
        val lang = if (rnd.nextBoolean()) "en" else "de"
        val text = (1 to 15).map { _ =>
          val r = rnd.nextDouble()
          if (r < 0.3) s"hot_$lang" else s"tail${rnd.nextInt(150)}"
        }.mkString(" ")
        (lang, text)
      }
    }

    val batches = Seq(batch(1, 120), batch(2, 120), batch(3, 120))
    try {
      batches.foreach { b => source.addData(b: _*); query.processAllAvailable() }

      // exact counts over the WHOLE stream
      val toks = batches.flatten.flatMap { case (l, t) => t.split(" ").map(l -> _) }
      val truth = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val nPerLang = toks.groupBy(_._1).view.mapValues(_.size.toLong).toMap

      // the memory sink in update mode appends each batch's updates; the
      // LAST batch's rows per lang are the final summary
      val all = spark.table("hh")
        .as[(String, String, Long, Long)].collect()
      val finalRows = all.zipWithIndex.groupBy(_._1._1).toSeq.flatMap {
        case (_, rs) =>
          // rank resets per emission: take the last full ranking block
          val lastStart = rs.lastIndexWhere(_._1._4 == 1L)
          rs.drop(lastStart).map(_._1).toSeq
      }

      finalRows.groupBy(_._1).foreach { case (lang, rows) =>
        val n = nPerLang(lang)
        val slack = n / (k + 1)
        rows.foreach { case (l, tok, est, _) =>
          val c = truth.getOrElse((l, tok), 0L)
          withClue(s"$l/$tok est $est true $c slack $slack: ") {
            est should be <= c
            est should be >= c - slack
          }
        }
        // the ~30% planted token must be rank 1
        rows.minBy(_._4)._2 shouldBe s"hot_$lang"
        // bounded state contract: at most k counters reported
        rows.size should be <= k
      }
      finalRows.map(_._1).toSet shouldBe Set("en", "de")
      // and the final summary IS the sequential MG run over the whole
      // stream in arrival order, resumed from state at each trigger
      val agg = new graft.functions.HeavyHittersAggregator(k)
      val sequential = batches.flatten.groupBy(_._1).toSeq.flatMap {
        case (lang, docs) =>
          val buf = scala.collection.mutable.Map.empty[String, Long]
          docs.foreach(d => d._2.split(" ").foreach(agg.reduce(buf, _)))
          agg.finish(buf).zipWithIndex.map { case ((t, c), i) =>
            (lang, t, c, i + 1L) }
      }
      finalRows.toSet shouldBe sequential.toSet
    } finally query.stop()
  }
}
