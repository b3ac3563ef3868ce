package graft

import graft.ext.Graph
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class GraphSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pageRank: exact integer ranks on a star + isolated node") {
    val nodes = (0L to 4L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("doc_a", "doc_b")
    val got = Graph.pageRank(nodes, pairs, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hand-unrolled: r1 = (2700000, 433333x3, 150000),
    //                r2 = (1254999, 915000x3, 150000)
    got(0L) shouldBe 2483250L // 150000 + 85*(3*915000) div 100... hub
    got(1L) shouldBe 505583L
    got(2L) shouldBe 505583L
    got(3L) shouldBe 505583L
    got(4L) shouldBe 150000L // isolated: teleport floor every round
  }

  test("pageRank: partition-invariant (integer sums are order-free; " +
    "distributed path, forced past the driver-size gate)") {
    val nodes = (0L to 9L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 0L),
      (5L, 6L), (0L, 7L)).toDF("doc_a", "doc_b")
    val a = Graph.pageRank(nodes, pairs, maxDriverGraph = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Graph.pageRank(nodes.repartition(7), pairs.repartition(5),
        maxDriverGraph = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    a shouldBe b
  }

  test("pageRank: driver fold equals the distributed iteration") {
    // branchy graph with a hub, a chain, a 2-cycle and isolated nodes —
    // both strategies must emit identical exact-integer ranks, and one
    // bigint schema for Long and Int ids alike. The hub id is listed
    // twice: both must count its contributions once and emit one row
    val nodes = ((0L to 12L) :+ 0L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L), (3L, 4L), (4L, 5L),
      (6L, 7L), (0L, 7L), (8L, 9L)).toDF("doc_a", "doc_b")
    val intNodes = nodes.selectExpr("CAST(doc_id AS INT) AS doc_id")
    val intPairs = pairs.selectExpr("CAST(doc_a AS INT) AS doc_a",
      "CAST(doc_b AS INT) AS doc_b")
    Seq((nodes, pairs), (intNodes, intPairs)).foreach { case (n, p) =>
      val driver = Graph.pageRank(n, p, maxDriverGraph = Long.MaxValue)
      val dist = Graph.pageRank(n, p, maxDriverGraph = 0L)
      def ranks(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      driver.schema.map(f => (f.name, f.dataType)) shouldBe
        dist.schema.map(f => (f.name, f.dataType))
      ranks(driver) shouldBe ranks(dist)
      ranks(driver).map(_._1) shouldBe (0L to 12L)
    }
  }

  test("pageRank: total mass is conserved minus truncation and leakage") {
    // no isolated nodes, so the only loss is div truncation: the final
    // total must sit within N*(tau_div_losses) of N*scale*0.15 + 0.85*mass
    val nodes = (0L to 3L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)).toDF("doc_a", "doc_b")
    val ranks = Graph.pageRank(nodes, pairs, iters = 1).collect().map(_.getLong(1))
    // cycle of degree-2 nodes: every node sends 2x 500000 and receives
    // 2x 500000 -> all ranks equal 150000 + 850000
    ranks.toSet shouldBe Set(1000000L)
  }
}
