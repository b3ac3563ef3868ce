package graft

import graft.sources.InfluxScan
import graft.sources.InfluxScan._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** `InfluxScan.branchOf` is the one AggSpec → FluxBranch map of both the
  * flat aggregate push and the windowed rollup. `flux_branches.golden`
  * holds the single-spec program each spec rendered to before the two
  * maps were merged; every program must stay byte-identical. */
class InfluxBranchOfSpec extends AnyFunSuite with Matchers {
  private val flat = Seq[AggSpec](AggMinTime, AggMaxTime, AggMinValue,
    AggMaxValue, AggCountStar, AggSumValue, AggCountValue)
  private val rollupOnly = Seq[AggSpec](AggSumSq, AggLastValue, AggFirstValue,
    AggIncrease, AggFirstNumTime, AggFirstNumValue, AggLastNumTime,
    AggLastNumValue, AggIntegral, AggLocfArea)
  private val groupCols = Seq("measurement")
  private val aggGroupCols = Seq("measurement", "field")

  /** "=== <flat|windowed> <spec>" → the program that followed it. */
  private lazy val golden: Map[String, String] = {
    val src = scala.io.Source.fromResource("graft/flux_branches.golden")
    val lines = try src.getLines().toVector finally src.close()
    lines.zipWithIndex.collect { case (l, i) if l.startsWith("=== ") => i }
      .map { i =>
        val body = lines.drop(i + 1).takeWhile(!_.startsWith("=== "))
        lines(i).stripPrefix("=== ") -> body.mkString("\n")
      }.toMap
  }

  private def render(b: FluxBranch): String =
    InfluxScan.flux("b", 0L, None, None, None, b.limit, b.sortDesc, b.sortCol,
      b.count, b.sumValue, b.countValue, b.groupCols, b.aggPrep,
      b.windowEveryMs, Nil, b.topN, b.increase, Nil, b.windowOffsetMs,
      b.integral, b.sumSq, b.locfArea)

  test("the golden table covers every flat and every windowed spec") {
    golden.keySet shouldBe (flat.map(s => s"flat $s") ++
      (flat ++ rollupOnly).map(s => s"windowed $s")).toSet
  }

  test("flat push: each spec's program is byte-identical to the golden one") {
    flat.foreach { s =>
      withClue(s) {
        render(branchOf(s, groupCols, groupCols)) shouldBe golden(s"flat $s")
      }
    }
  }

  test("windowed rollup: each spec's program is byte-identical to the " +
    "golden one") {
    (flat ++ rollupOnly).foreach { s =>
      withClue(s) {
        render(branchOf(s, groupCols, aggGroupCols, Some(3600000L), 1800000L)) shouldBe
          golden(s"windowed $s")
      }
    }
  }
}
