package graft

import graft.ext.TextAnalysis
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Distributed BPE training vs a sequential reference implementation —
  * the same gating pattern as the heavy-hitters / anomaly streaming twins:
  * the distributed merge list must equal the classic single-machine
  * algorithm's, tie-breaks included. */
class BpeTrainSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Classic sequential BPE (Sennrich et al. 2016) over word counts, with
    * the production tie-break: (count DESC, left ASC, right ASC), symbols
    * split and compared by code point (Spark's UTF-8 string order). */
  private def referenceBpe(wordCounts: Map[String, Long],
                           nMerges: Int): Seq[(Long, String, String, Long)] = {
    var vocab: Map[Seq[String], Long] = wordCounts.map { case (w, n) =>
      (w.codePoints.toArray.toSeq.map(Character.toString) :+ "</w>") -> n
    }
    val out = Seq.newBuilder[(Long, String, String, Long)]
    var r = 0
    var done = false
    while (r < nMerges && !done) {
      val pairCounts = vocab.toSeq.flatMap { case (syms, n) =>
        syms.zip(syms.tail).map(p => p -> n)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      if (pairCounts.isEmpty) done = true
      else {
        import scala.math.Ordering.Implicits.seqOrdering
        def cps(s: String): Seq[Int] = s.codePoints.toArray.toSeq
        val ((l, rr), cnt) = pairCounts.toSeq
          .minBy { case ((a, b), c) => (-c, cps(a), cps(b)) }
        out += ((r + 1L, l, rr, cnt))
        vocab = vocab.map { case (syms, n) =>
          val acc = scala.collection.mutable.ArrayBuffer.empty[String]
          syms.foreach { s =>
            if (acc.nonEmpty && acc.last == l && s == rr)
              acc(acc.length - 1) = l + rr
            else acc += s
          }
          acc.toSeq -> n
        }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        r += 1
      }
    }
    out.result()
  }

  private def trainOn(texts: Seq[String], nMerges: Int) = {
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "web", "en") }
      .toDF("doc_id", "text", "source", "lang")
    TextAnalysis.bpeTrain(docs, nMerges)
      .as[(Long, String, String, Long)].collect().sortBy(_._1).toSeq
  }

  private def wordCounts(texts: Seq[String]): Map[String, Long] =
    texts.flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap

  test("merge list equals the sequential reference on the classic corpus") {
    val texts = Seq(
      "low low low low low",
      "lower lower newest newest",
      "newest newest newest newest widest widest widest")
    val got = trainOn(texts, 12)
    val want = referenceBpe(wordCounts(texts), 12)
    got shouldBe want
    // sanity: the classic first merges surface ("es"/"est"-family pairs
    // dominate this corpus)
    got.head._4 should be >= 9L
  }

  test("merge list equals the sequential reference on fixture documents") {
    val texts = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .orderBy("doc_id").limit(40)
      .select("text").as[String].collect().toSeq
    val got = trainOn(texts, 15)
    val want = referenceBpe(wordCounts(texts), 15)
    got shouldBe want
  }

  test("stops early when no pairs remain") {
    val got = trainOn(Seq("a b"), 10)
    // "a</w>" and "b</w>" each have exactly one pair; after two merges the
    // sequences are single symbols and training must stop
    got.length shouldBe 2
  }

  test("distributed rounds (forced past the driver-size gate) equal the " +
    "reference — pins the >maxDriverWords path the fixtures never reach") {
    // the second corpus ties a supplementary character with U+E000: UTF-16
    // order ranks the surrogate pair first, code-point order ranks it last,
    // and both gate paths must pick the code-point order
    Seq(
      Seq("low low low low low",
        "lower lower newest newest",
        "newest newest newest newest widest widest widest"),
      Seq("\uD835\uDC00 \uE000")).foreach { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "web", "en") }
        .toDF("doc_id", "text", "source", "lang")
      def merges(maxDriverWords: Long) =
        TextAnalysis.bpeTrain(docs, 12, maxDriverWords = maxDriverWords)
          .as[(Long, String, String, Long)].collect().sortBy(_._1).toSeq
      merges(0L) shouldBe referenceBpe(wordCounts(texts), 12)
      merges(Long.MaxValue) shouldBe merges(0L)
    }
  }
}
