package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MEASUREMENT TOOL (r21 scaling demonstration) — not part of the driver
  * contract and not on any query path. Writes a deterministic N× scale-up
  * of an sf fixture directory so the bench can be compared across core
  * counts at a size where shuffles carry real bytes (the committed sf0.1
  * fixtures are ≤11 MB, where per-query cost is stage-count × per-stage
  * constants and 8-core ≈ 32-core — the r20 scaling-block gap).
  *
  * Shape-preserving, duplication-free: each copy c shifts every id by
  * c × 10^9 and ROTATES the document text's letters by c (a per-copy
  * substitution cipher), so token/shingle distributions, doc lengths, and
  * within-copy near-dup structure are identical to the original while no
  * shingle collides across copies — a 10× corpus has ~10× LSH pairs, not
  * the 100× a verbatim union would fabricate. Embedding components get a
  * copy-dependent deterministic jitter for the same reason.
  *
  * Usage: sbt "runMain graft.ScaleGen <srcSfDir> <outDir> <copies>"
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val copies = args(2).toInt
    val spark = GraftSession()
    val idShift = 1000000000L

    def rot(cCol: Int): (String, String) = {
      val lower = "abcdefghijklmnopqrstuvwxyz"
      val upper = lower.toUpperCase
      val r = cCol % 26
      (lower + upper,
        lower.drop(r) + lower.take(r) + upper.drop(r) + upper.take(r))
    }

    def replicate(name: String, f: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val all = (0 until copies).map(c => f(base, c)).reduce(_.unionAll(_))
      all.repartition(32).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
      println(s"$name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    replicate("documents", (df, c) => {
      val (from, to) = rot(c)
      df.select(
        (col("doc_id") + lit(c * idShift)).as("doc_id"),
        translate(col("text"), from, to).as("text"),
        col("lang"), col("source"), col("n_chars"))
    })
    replicate("embeddings", (df, c) =>
      df.select(
        (col("vec_id") + lit(c * idShift)).as("vec_id"),
        transform(col("embedding"),
          x => x + lit(c.toFloat * 0.001f)).as("embedding"),
        col("label")))
    replicate("events", (df, c) =>
      df.select(
        (col("event_id") + lit(c * idShift)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(c * idShift)).as("user_id"),
        col("event_type"), col("value"), col("props")))
    replicate("lineitem", (df, c) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(c * idShift)))
    replicate("orders", (df, c) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(c * idShift))
        .withColumn("o_custkey", col("o_custkey") + lit(c * idShift)))
    replicate("customer", (df, c) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(c * idShift)))
    // dimension tables copied verbatim (their cardinality is fixed)
    Seq("nation", "region", "part", "supplier").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet").write.mode("overwrite")
        .parquet(s"$out/$t.parquet")
      println(s"$t: copied")
    }
    spark.stop()
  }
}
