package perfbench

import java.io.{ByteArrayOutputStream, DataOutputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.security.{DigestOutputStream, MessageDigest}
import java.time.Instant
import java.util.SplittableRandom

/** A seeded set of Influx samples: `nSeries` series spread evenly over the
  * measurements, each with `perSeries` integer-valued samples (so a value
  * sum is exact) at jittered one-minute steps. The same seed gives the same
  * samples. */
final case class Samples(measurements: Vector[String],
                         series: Vector[(String, String, String)],
                         timesMs: Array[Array[Long]],
                         values: Array[Array[Int]]) {
  def size: Long = values.map(_.length.toLong).sum
  def startMs: Long = timesMs.map(_.head).min
  def stopMs: Long = timesMs.map(_.last).max + 1

  def digest: String = {
    val md = MessageDigest.getInstance("SHA-256")
    val out = new DataOutputStream(new DigestOutputStream(OutputStream.nullOutputStream(), md))
    series.indices.foreach { i =>
      val (m, d, e) = series(i)
      out.writeUTF(m); out.writeUTF(d); out.writeUTF(e)
      timesMs(i).foreach(out.writeLong)
      values(i).foreach(out.writeInt)
    }
    out.flush()
    md.digest().map("%02x".format(_)).mkString
  }

  /** Rows and exact value sum a read of `measurement` in [from, until) must
    * return. */
  def expected(measurement: String, from: Long, until: Long): (Long, Long) = {
    var n = 0L
    var sum = 0L
    series.indices.filter(series(_)._1 == measurement).foreach { i =>
      val t = timesMs(i)
      var k = 0
      while (k < t.length) {
        if (t(k) >= from && t(k) < until) { n += 1; sum += values(i)(k) }
        k += 1
      }
    }
    (n, sum)
  }

  /** Annotated CSV rows, one table per series, in time order per
    * measurement. */
  def render(): SampleIndex = {
    val header =
      ("#datatype,string,long,dateTime:RFC3339,double,string,string,string,string\n" +
        "#group,false,false,false,false,true,true,true,true\n" +
        "#default,_result,,,,,,,\n" +
        ",result,table,_time,_value,_field,_measurement,domain,entity_id\n")
        .getBytes(StandardCharsets.UTF_8)
    val byM = measurements.map { m =>
      val idx = series.indices.filter(series(_)._1 == m)
      val all = idx.flatMap(i => timesMs(i).indices.map(k => (timesMs(i)(k), i, k)))
        .sortBy(r => (r._1, r._2))
      val body = new ByteArrayOutputStream(all.size * 96)
      val offsets = new Array[Int](all.size + 1)
      all.zipWithIndex.foreach { case ((t, i, k), j) =>
        offsets(j) = body.size()
        val (_, d, e) = series(i)
        body.write(s",_result,$i,${Instant.ofEpochMilli(t)},${values(i)(k)},value,$m,$d,$e\n"
          .getBytes(StandardCharsets.UTF_8))
      }
      offsets(all.size) = body.size()
      m -> SampleIndex.Series(all.map(_._1).toArray, offsets, body.toByteArray)
    }.toMap
    new SampleIndex(header, byM)
  }
}

object Samples {
  val Epoch0Ms = 1704067200000L // 2024-01-01T00:00:00Z
  val measurements: Vector[String] = Vector("°C", "%", "W", "kWh")

  def generate(seed: Long, nSeries: Int, perSeries: Int): Samples = {
    val rnd = new SplittableRandom(seed)
    val series = (0 until nSeries).toVector.map { i =>
      (measurements(i % measurements.size), "sensor", s"sensor_$i")
    }
    val times = Array.fill(nSeries) {
      var t = Epoch0Ms + rnd.nextLong(60000L)
      Array.fill(perSeries) { val cur = t; t += 30000L + rnd.nextLong(60000L); cur }
    }
    val values = Array.fill(nSeries)(Array.fill(perSeries)(rnd.nextInt(2001) - 1000))
    Samples(measurements, series, times, values)
  }
}
