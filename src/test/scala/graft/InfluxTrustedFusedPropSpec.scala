package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/** The TRUSTED half of the fused-rollup fuzz: `InfluxFusedAggPropSpec`
  * exercises the raw-dump fallback (a lying server), this spec the
  * trusted path — an HONEST server emulator answers each fused POST with
  * the marked windowed-aggregate response a correct InfluxDB would
  * produce (branch kinds classified from the PROGRAM TEXT itself, so the
  * emulator answers exactly what was asked; windows clipped to the
  * shard's range like real Flux; absent tags as empty cells), and the
  * pushed result must equal the unpushed Spark evaluation over the same
  * samples with NO re-POSTs — the trusted parse landed every branch.
  * Count/sum family only (min/max branches return sample-shaped
  * responses with their own trust contract, pinned in the unit specs);
  * dyadic values keep double sums exact in any association. */
class InfluxTrustedFusedPropSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val t0 = 1704067200000L
  private val day = 86400000L
  private val hour = 3600000L

  import InfluxCsvFixture.{S, csvOf}

  private val samplesGen: Gen[List[S]] = for {
    n <- Gen.chooseNum(0, 30)
    ss <- Gen.listOfN(n, for {
      ent <- Gen.oneOf(Some("a"), Some("b"), None)
      off <- Gen.chooseNum(0L, day - 1)
      v <- Gen.option(Gen.chooseNum(-2000, 2000).map(_ / 4.0))
    } yield S(ent, t0 + off, v))
  } yield ss

  private val aggPool: Seq[(String, () => Column)] = Seq(
    "n" -> (() => count(lit(1)).as("n")),
    "nv" -> (() => count(col("value")).as("nv")),
    "s" -> (() => sum(col("value")).as("s")),
    "av" -> (() => avg(col("value")).as("av")),
    "s2" -> (() => sum(col("value") * col("value")).as("s2")))

  /** One branch's honest rows: (groupCell, bucket) → value, clipped
    * window bounds, marker per row (or no marker for a single-branch
    * program). Branch kind read off the stage text. */
  private def honestBranch(stages: String, samples: Seq[S],
                           lo: Long, hi: Long, w: Long, off: Long,
                           grouped: Boolean, marker: Option[Int])
      : Seq[String] = {
    val inRange = samples.filter(s => s.ms >= lo && s.ms < hi)
    def bucketOf(ms: Long) = Math.floorDiv(ms - off, w) * w + off
    val isSumSq = stages.contains("r._value * r._value")
    val isCountStar = stages.contains("count(column: \"_time\")")
    val isCountValue = stages.contains("count(column: \"_value\")")
    val isSum = !isSumSq && !isCountStar && !isCountValue &&
      stages.contains("sum(column: \"_value\")")
    require(isSumSq || isCountStar || isCountValue || isSum,
      s"emulator: unclassifiable branch stages:\n$stages")
    val pop = if (isCountStar) inRange else inRange.filter(_.v.isDefined)
    pop.groupBy(s => ((if (grouped) s.entity.getOrElse("") else ""),
        bucketOf(s.ms)))
      .toSeq.map { case ((g, b), rows) =>
        val v: String =
          if (isCountStar || isCountValue) rows.size.toString
          else if (isSum) rows.flatMap(_.v).sum.toString
          else rows.flatMap(_.v).map(x => x * x).sum.toString
        val start = java.time.Instant.ofEpochMilli(math.max(b, lo)).toString
        val stop =
          java.time.Instant.ofEpochMilli(math.min(b + w, hi)).toString
        val mk = marker.map(m => s",$m").getOrElse("")
        val gc = if (grouped) s",$g" else ""
        s",_result,0,$start,$stop,$v$gc$mk"
      }
  }

  /** The honest server: raw-sample programs get the dump; windowed
    * single-spec programs get one unmarked aggregate block; fused
    * programs get one marked block per branch. */
  private def honestServer(samples: Seq[S], w: Long, off: Long,
                           grouped: Boolean)(flux: String): String = {
    val rangeRe =
      """range\(start: ([0-9T:.Z-]+), stop: ([0-9T:.Z-]+)\)""".r
    val (lo, hi) = rangeRe.findFirstMatchIn(flux) match {
      case Some(m) =>
        (java.time.Instant.parse(m.group(1)).toEpochMilli,
          java.time.Instant.parse(m.group(2)).toEpochMilli)
      case None => (Long.MinValue, Long.MaxValue)
    }
    val gc = if (grouped) ",entity_id" else ""
    if (flux.contains("union(tables: [")) {
      val segs = flux.split("""b\d+ = data""").toSeq.tail
        .map(_.split("union\\(tables").head)
      val header = s",result,table,_start,_stop,_value$gc,_graft_agg"
      val rows = segs.zipWithIndex.flatMap { case (st, i) =>
        honestBranch(st, samples, lo, hi, w, off, grouped, Some(i))
      }
      (header +: rows).mkString("", "\n", "\n")
    } else if (flux.contains("window(every")) {
      val header = s",result,table,_start,_stop,_value$gc"
      val rows = honestBranch(flux, samples, lo, hi, w, off, grouped, None)
      (header +: rows).mkString("", "\n", "\n")
    } else csvOf(samples.filter(s => s.ms >= lo && s.ms < hi))
  }

  test("an HONEST fused windowed response lands every branch through the " +
    "trusted parse — pushed ≡ unpushed, zero re-POSTs, for random agg " +
    "subsets × groupings × shifts × shards (property)") {
    val gen = for {
      ss <- samplesGen
      k <- Gen.chooseNum(1, aggPool.length)
      aggs <- Gen.pick(k, aggPool)
      ent <- Gen.oneOf(true, false)
      shift <- Gen.oneOf(0L, 1800000L, -300000L)
      parts <- Gen.chooseNum(1, 3)
    } yield (ss, aggs.toList, ent, shift, parts)
    val prop = Prop.forAllNoShrink(gen) { case (ss, aggs, ent, shift, parts) =>
      if (aggs.isEmpty || parts < 1) Prop.passed
      else {
        val off = Math.floorMod(-shift, hour)
        val posts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        FakeInflux.reads = Some { flux =>
          posts.add(flux); honestServer(ss, hour, off, ent)(flux)
        }
        try {
          val keyCols: Seq[Column] =
            (if (ent) Seq(col("tags")("entity_id").as("e")) else Nil) :+
              expr(s"(time_ms + $shift) div $hour").as("h")
          def q(df: org.apache.spark.sql.DataFrame) =
            df.groupBy(keyCols: _*)
              .agg(aggs.head._2(), aggs.tail.map(_._2()): _*)
          val base = spark.read.format("influx").option("bucket", "bkt")
            .option("readPartitions", parts.toString).load()
            .filter(col("time_ms") >= t0 && col("time_ms") < t0 + day &&
              col("measurement") === "ha_states")
          def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
            df.collect().map(_.toSeq).toSet
          val pushedDf = q(base)
          val claimed = pushedDf.queryExecution.optimizedPlan.toString
            .contains("InfluxBucketRollup")
          val pushed = rows(pushedDf)
          val fusedPosts = Iterator.continually(posts.poll())
            .takeWhile(_ != null).count(f =>
              f.contains("union(tables: [") || f.contains("window(every"))
          // the unpushed twin re-POSTs raw pulls only; drain its posts
          val unp = rows(q(base.filter(length(col("field")) >= 0)))
          val ok = claimed && pushed == unp && fusedPosts == parts
          val msg = s"trusted fused mismatch: aggs=${aggs.map(_._1)} ent=$ent " +
            s"shift=$shift parts=$parts claimed=$claimed " +
            s"fusedPosts=$fusedPosts\n  pushed=$pushed\n  unpushed=$unp"
          Prop.propBoolean(ok) :| msg
        } finally FakeInflux.reads = None
      }
    }
    PropCheck.check(prop, minSuccessful = 15, tag = "InfluxTrustedFusedPropSpec#1")
  }
}
