package graft

import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property for the scan's house sharding rule
  * ([[graft.sources.InfluxScan.splitRange]], shared by the raw scan, the
  * rollup leaf and the rollup read mode): the shards must partition the
  * half-open range EXACTLY — first starts it, last ends it, adjacent
  * shards share boundaries (disjoint + covering), every shard non-empty —
  * and the min-width guard collapses narrow ranges to one shard. */
class InfluxSplitRangePropSpec extends AnyFunSuite {

  test("splitRange partitions the range exactly: disjoint, ordered, " +
    "covering, and respecting the min-width guard (property)") {
    val gen = for {
      start <- Gen.chooseNum(-1000000L, 1000000L)
      len <- Gen.chooseNum(1L, 100000L)
      parts <- Gen.chooseNum(1, 40)
    } yield (start, start + len, parts)
    val prop = Prop.forAllNoShrink(gen) { case (start, stop, parts) =>
      val shards = graft.sources.InfluxScan.splitRange(start, stop, parts)
      val stops = shards.map(_._2.get)
      shards.head._1 == start && stops.last == stop &&
        // adjacency = disjoint + covering for half-open ranges
        shards.map(_._1).drop(1) == stops.dropRight(1) &&
        shards.forall { case (s, e) => e.get > s } &&
        (shards.length == parts ||
          (shards.length == 1 && (parts <= 1 || stop - start < parts)))
    }
    PropCheck.check(prop, minSuccessful = 200, tag = "InfluxSplitRangePropSpec#1")
  }

  test("the micro-batch stream shards each trigger's range by splitRange: " +
    "ranges narrower than, as wide as and wider than readPartitions") {
    import graft.sources.{InfluxInputPartition, InfluxMicroBatchStream, InfluxOffset, InfluxScan}
    val parts = 4
    val stream = new InfluxMicroBatchStream(
      graft.etl.InfluxSink.Config("http://unused", "o", "b", "t"), parts,
      InfluxScan.schema, 0L, None, None, None, 0L)
    for (width <- Seq(1L, 3L, 4L, 5L, 1003L)) {
      val (s, e) = (1000L, 1000L + width)
      val got = stream.planInputPartitions(InfluxOffset(s), InfluxOffset(e)).toSeq
        .map { case p: InfluxInputPartition => (p.startMs, p.stopMs) }
      assert(got == InfluxScan.splitRange(s, e, parts), s"width $width")
    }
    assert(stream.planInputPartitions(InfluxOffset(5L), InfluxOffset(5L)).isEmpty)
  }
}
