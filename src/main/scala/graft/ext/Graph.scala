package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph centrality over the near-dup pair graph: PageRank identifies
  * "template hubs" — documents whose boilerplate radiates through many
  * near-dup edges. Curation uses the rank as a de-boost / audit signal the
  * same way cluster size is used, but rank separates the hub from its
  * satellites where cluster size can't (a star and a chain of the same
  * size get very different hub ranks).
  *
  * Every quantity is INTEGER: ranks start at `scale` milli-units per node,
  * an iteration moves `rank div outdeg` along each edge (truncating
  * division — both engines truncate toward zero for non-negative
  * operands), sums are BIGINT (order-free, so partial aggregation and any
  * merge tree give bit-identical results), and damping is
  * `(85 * mass) div 100`. No IEEE tail anywhere — the oracle unrolls the
  * same three iterations in SQL and hash-matches exactly. Nodes with no
  * edges keep the teleport floor; mass arriving nowhere is dropped (the
  * standard lost-mass variant — dangling handling is a documented
  * semantic, identical in both engines).
  *
  * Scale posture (10⁹-node dup graph on 1000 executors):
  *  - the edge list (with per-src out-degree attached) is computed ONCE
  *    and localCheckpointed — iterations re-join it without re-deriving
  *    the LSH pipeline that produced it, the same lineage-truncation
  *    pattern as [[Dedup.canonicalClusters]] and the k-means loop.
  *  - one iteration = one equi-join (ranks ⋈ edges on src) + one
  *    partial-aggregated groupBy(dst) + one left join back to the node
  *    set: all key-only shuffles (8-byte ids + one BIGINT), never
  *    document payloads. In-degree hubs are absorbed map-side by the
  *    partial sum; AQE splits any residual reducer skew.
  *  - overflow headroom: total mass <= N·scale, and the damping multiply
  *    needs 85·N·scale < 2^63 — at 10⁹ nodes scale=10⁶ leaves 10⁵×
  *    headroom; at 10¹² nodes drop scale to 10³ (the rank is a
  *    RELATIVE score; precision loss only shifts the truncation floor).
  */
object Graph {

  /** PageRank over undirected pair edges, `iters` exact integer rounds.
    * Returns every node with its final rank (teleport floor for isolated
    * nodes). dampNum/dampDen = 85/100 is the classic 0.85. */
  def pageRank(nodes: DataFrame, pairs: DataFrame, iters: Int = 3,
               scale: Long = 1000000L,
               maxDriverGraph: Long = 2000000L): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val teleport = scale * 15L / 100L
    // one rank row per distinct id on both paths: a duplicated id would
    // otherwise join its rank into the contributions once per copy
    val nodeIds = nodes.select(col("doc_id").cast("bigint").as("doc_id"))
      .distinct()
    // the pair list is materialized ONCE (observe rides the eager
    // checkpoint, so the pair count costs no extra job); both paths below
    // consume the cached pairs, never the LSH plan again. Ids are cast to
    // bigint once, so both paths emit one schema whatever the input type.
    val obsP = org.apache.spark.sql.Observation("pr_pairs")
    val pairsCk = pairs
      .select(col("doc_a").cast("bigint").as("doc_a"),
        col("doc_b").cast("bigint").as("doc_b"))
      .observe(obsP, count(lit(1)).as("n"))
      .localCheckpoint()
    val nPairs = obsP.get("n").asInstanceOf[Long]
    // r21, size-adaptive strategy (the BPE-trainer / canonicalClusters
    // pattern, guide §1.2): every rank quantity is EXACT integer
    // arithmetic (truncating div, BIGINT sums), so a driver fold over the
    // collected graph reproduces the distributed iteration bit-for-bit
    // (re-proved by the dedup_pagerank oracle hash and GraphSpec's
    // path-equality gate). When the measured node and pair counts are
    // driver-sized, the three rounds run locally after two collects
    // instead of one join+aggregate+join round each. The already-observed
    // pair count is tested first, so past its bound the node count (one
    // scan of `nodes`) never runs; the distributed loop below is
    // unchanged — at 10⁹ nodes the gate fails and nothing is collected.
    if (2 * nPairs <= maxDriverGraph && nodes.count() <= maxDriverGraph) {
      val ids = nodeIds.as[Long].collect()
      val ps = pairsCk.as[(Long, Long)].collect()
      val deg = scala.collection.mutable.HashMap.empty[Long, Long]
      ps.foreach { case (a, b) =>
        deg.updateWith(a)(c => Some(c.getOrElse(0L) + 1L)): Unit
        deg.updateWith(b)(c => Some(c.getOrElse(0L) + 1L)): Unit
      }
      var rank = scala.collection.mutable.HashMap.from(
        ids.iterator.map(_ -> scale))
      for (_ <- 1 to iters) {
        val incoming = scala.collection.mutable.HashMap.empty[Long, Long]
        def send(s: Long, d: Long): Unit = rank.get(s).foreach { r =>
          incoming.updateWith(d)(c => Some(c.getOrElse(0L) + r / deg(s))): Unit
        }
        ps.foreach { case (a, b) => send(a, b); send(b, a) }
        rank = scala.collection.mutable.HashMap.from(ids.iterator.map(id =>
          id -> (teleport + 85L * incoming.getOrElse(id, 0L) / 100L)))
      }
      return ids.iterator.map(id => (id, rank(id))).toSeq
        .toDF("doc_id", "rank")
    }
    val edges = pairsCk.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairsCk.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // one materialization; every iteration re-joins this, not the LSH plan
    val edgesDeg = edges.join(deg, "src").localCheckpoint()

    var ranks = nodeIds.select(col("doc_id"), lit(scale).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = edgesDeg
        .join(ranks, edgesDeg("src") === ranks("doc_id"))
        .select(col("dst"), expr("rank div outdeg").as("c"))
      val incoming = contrib.groupBy(col("dst"))
        .agg(sum(col("c")).as("m"))
      ranks = nodeIds
        .join(incoming, nodeIds("doc_id") === incoming("dst"), "left")
        .select(nodeIds("doc_id"),
          expr(s"CAST($teleport AS BIGINT) + " +
            s"(85 * coalesce(m, CAST(0 AS BIGINT))) div 100").as("rank"))
    }
    ranks
  }
}
