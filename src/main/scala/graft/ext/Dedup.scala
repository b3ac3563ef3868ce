package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** X1/X2 + training-data dedup suite over `documents` / `embeddings`:
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale posture (100 TB corpus):
  *  - exact dedup groups on a 128-bit content hash, never the raw text —
  *    the shuffle carries 16-byte keys, not documents.
  *  - MinHash signatures are computed in ONE pass (explode shingles →
  *    groupBy doc → numHashes min-aggregates), then banded: candidate
  *    generation joins on (band_id, band_hash) buckets only, so join
  *    fan-out is bounded by bucket size, not corpus size. Oversized buckets
  *    (degenerate content) are capped — standard LSH practice.
  *  - SimHash pairs use the pigeonhole chunk trick: hamming(a,b) <= 3 on 64
  *    bits ⇒ at least one of 4 16-bit chunks equal ⇒ equi-join per chunk.
  *  - verification (exact Jaccard / cosine) runs only on candidate pairs.
  */
object Dedup {

  import TextAnalysis.tokens

  /** X1: exact dedup — one canonical (min) doc_id per identical text.
    * Group key = md5(text): constant-width shuffle keys. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_dups"))

  /** Distinct word-level k-shingles per doc (human-readable string form). */
  def shingles(text: Column, k: Int): Column = {
    val toks = tokens(text)
    array_distinct(transform(
      sequence(lit(0), size(toks) - k),
      i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
  }

  /** Distinct 64-bit-hashed k-shingles, built straight from the token array —
    * no shingle strings are ever materialized. Equality ≡ string-shingle
    * equality up to hash collisions (~n²/2⁶⁴); this is the representation
    * every hot path uses. The per-window chained-xxhash64 loop is the custom
    * codegen'd [[org.apache.spark.sql.graft.HashedShingles]] — the previous
    * `transform(sequence(...), i -> xxhash64(...))` formulation evaluated the
    * lambda INTERPRETED per window, which dominated MinHash signature cost. */
  def hashedShingles(text: Column, k: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      org.apache.spark.sql.graft.HashedShingles(
        org.apache.spark.sql.GraftColumnBridge.expression(tokens(text)), k))

  /** MinHash signature columns: for hash family i, h_i(doc) =
    * min over shingles of xxhash64(i, h(shingle)). One explode + one groupBy
    * computes all `numHashes` signature components in a single shuffle.
    * Each shingle string is hashed to a long ONCE; the `numHashes` family
    * members then mix that 8-byte value instead of re-hashing the string —
    * same MinHash guarantees, ~k× cheaper per row. */
  def minhashSignatures(docs0: DataFrame, shingleK: Int, numHashes: Int): DataFrame = {
    val docs = graft.etl.Tables.fanOut(docs0, col("doc_id"))
    val sh = docs
      .select(col("doc_id"), explode(hashedShingles(col("text"), shingleK)).as("h"))
    val aggs = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("h"))).as(s"mh_$i"))
    sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** X2: MinHash-LSH candidate pairs. Signature split into `bands` bands of
    * `rowsPerBand`; docs sharing any band bucket are candidates; candidates
    * are verified with exact Jaccard and filtered at `threshold`.
    *
    * numHashes = bands * rowsPerBand. Probability a pair with Jaccard s is a
    * candidate: 1 - (1 - s^rowsPerBand)^bands.
    */
  def minhashLsh(docs: DataFrame, shingleK: Int, bands: Int,
                 rowsPerBand: Int, threshold: Double,
                 maxBucket: Int = 1000): DataFrame = {
    val numHashes = bands * rowsPerBand
    val sig = minhashSignatures(docs, shingleK, numHashes)
    // band hash = xxhash64 over the band's signature slice
    val banded = sig.select(col("doc_id"),
      posexplode(array((0 until bands).map { b =>
        xxhash64((lit(b) +: (0 until rowsPerBand)
          .map(r => col(s"mh_${b * rowsPerBand + r}"))): _*)
      }: _*)).as(Seq("band", "bucket")))
    // ONE shuffle for candidate generation: group each (band, bucket) into a
    // sorted id list (size-capped — degenerate buckets dropped, standard LSH
    // practice) and expand pairs locally with the codegen'd SortedPairs
    // expression (nested transform() lambdas evaluate interpreted per pair).
    // Replaces the previous window-count + self-join, which shuffled the
    // banded table three times.
    val buckets = banded.groupBy(col("band"), col("bucket"))
      .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
    val pairsCol = org.apache.spark.sql.GraftColumnBridge.column(
      org.apache.spark.sql.graft.SortedPairs(
        org.apache.spark.sql.GraftColumnBridge.expression(col("ids"))))
    val cands = buckets.select(explode(pairsCol).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
    verifyJaccard(cands, docs, shingleK).filter(col("jaccard") >= threshold)
  }

  /** Exact Jaccard over distinct shingle sets, computed for given pairs only.
    * |union| is derived as |A|+|B|-|A∩B| (half the array work of a literal
    * array_union).
    *
    * The DEFAULT is the scale-safe shuffle join: the per-doc shingle-set
    * table grows with the corpus and force-broadcasting it is the path that
    * OOMs at 100 TB — there the bounded candidate set is the small side and
    * AQE picks the build side from runtime stats (at fixture scale AQE
    * converts this to a broadcast join on its own, so small inputs lose
    * nothing). `broadcastSets=true` is the explicit opt-in for corpora KNOWN
    * to be executor-memory-sized when runtime stats are unavailable. */
  def verifyJaccard(pairs: DataFrame, docs: DataFrame, shingleK: Int,
                    broadcastSets: Boolean = false): DataFrame = {
    // verify on SORTED 64-bit shingle-hash arrays: Jaccard is preserved up
    // to xxhash64 collisions, and |A∩B| is the custom codegen'd two-pointer
    // SortedIntersectCount — no hash-set build, no intersection array, per
    // pair. The set table is built fanned-out and aliased AFTER the
    // broadcast hint so both join sides canonicalize to ONE exchange.
    // not keyed: sets is consumed TWICE (sa/sb) — the exchange above each
    // join side is what lets Spark compute the shingle arrays once and
    // ReusedExchange the second side; pre-partitioning by doc_id removes
    // that exchange and re-runs hashedShingles per side
    val sets0 = graft.etl.Tables.fanOut(docs).select(col("doc_id"),
      array_sort(hashedShingles(col("text"), shingleK)).as("sh"))
    val sets = if (broadcastSets) broadcast(sets0) else sets0
    val inter = org.apache.spark.sql.GraftColumnBridge.column(
      org.apache.spark.sql.graft.SortedIntersectCount(
        org.apache.spark.sql.GraftColumnBridge.expression(col("sa.sh")),
        org.apache.spark.sql.GraftColumnBridge.expression(col("sb.sh"))))
    pairs
      .join(sets.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (inter.cast("double") /
          (size(col("sa.sh")) + size(col("sb.sh")) - inter)).as("jaccard"))
  }

  /** Canonical cluster assignment over near-dup pairs: iterative min-label
    * propagation (connected-components-lite) to convergence. Each doc starts
    * labeled with itself; every round, labels flow across pair edges and
    * each doc keeps the minimum seen. Labels only ever DECREASE, so the
    * label-sum is a strictly decreasing convergence witness — the loop stops
    * the first round nothing changes (≤ the longest chain in any component;
    * near-dup clusters are shallow LSH-bucket cliques, so 2-3 rounds
    * typical). Each round is one shuffle of the (edge, label) table; corpus
    * text never moves.
    *
    * Iterative-lineage hygiene (the classic Spark scale-killer this avoids):
    * the edge list is localCheckpoint'ed ONCE — its upstream (the whole LSH
    * candidate pipeline) is computed exactly once, not re-evaluated per
    * round per action — and each round's labels are localCheckpoint'ed too.
    * persist() alone is NOT enough here: `next` references `labels` twice
    * (directly and through neighborMin), so the ANALYZED plan doubles per
    * round even while cached execution stays cheap — and every action
    * stringifies that plan for the SQL listener, which goes exponential
    * around round 13 (observed: a 12-hop chain froze the suite in
    * TreeNode.generateTreeString). localCheckpoint truncates the logical
    * plan to a leaf each round; dropped round RDDs are reclaimed by the
    * ContextCleaner once unreferenced. Output: (doc_id, canonical_id) for
    * every doc in a pair. */
  def canonicalClusters(pairs: DataFrame, maxIters: Int = 20,
                        maxDriverEdges: Long = 2000000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // undirected edge list, both directions, NO self-loops and NO distinct:
    // pairs arrive doc_a < doc_b (both LSH pipelines emit distinct ordered
    // pairs), so the two directions cannot collide — and min-label
    // propagation is unharmed by a duplicate edge in any case (it only
    // re-feeds the same label into a min). Each hop keeps a node's own
    // label by UNIONING the label table into the aggregation instead of
    // materializing per-node self-loop edges — same single exchange per
    // hop, two whole exchanges fewer up front (the old distinct() over
    // 2|E|+|V| rows and the distinct-src node-table build), and the
    // per-hop join carries |E| rows instead of |E|+|V|.
    // checkpoint cuts the LSH lineage; the edge count rides the SAME
    // eager action as an observe metric (zero extra jobs) to gate the
    // size-adaptive strategy below
    // ids are cast to bigint once, so the driver and distributed paths
    // emit one schema whatever the integral type of the input ids
    val obsE = org.apache.spark.sql.Observation("cc_edges")
    val a = col("doc_a").cast("bigint")
    val b = col("doc_b").cast("bigint")
    val edges = pairs.select(a.as("src"), b.as("dst"))
      .union(pairs.select(b.as("src"), a.as("dst")))
      .observe(obsE, count(lit(1)).as("n"))
      .localCheckpoint()
    // r21, size-adaptive strategy (the BPE-trainer pattern, guide §1.2):
    // min-label propagation converges to the per-component MINIMUM doc_id
    // — exactly what union-find computes — so when the measured edge list
    // is driver-sized (it is candidate-pair-sized, NOT corpus-sized: LSH
    // bounds it by bucket caps) the fixpoint is computed in one collect
    // over the already-materialized checkpoint instead of one
    // join+aggregate+checkpoint round per two hops. Union-by-min keeps
    // every root the component minimum, so find(x) IS the converged
    // label; result provably identical to the loop's fixpoint (both are
    // "min doc_id reachable from x"), re-proved by the DedupSpec
    // equality gates and the dedup_clusters_cc recursive-CTE oracle.
    // Past the bound the distributed loop below is unchanged.
    val nEdges = obsE.get("n").asInstanceOf[Long]
    if (nEdges <= maxDriverEdges) {
      val e = edges.as[(Long, Long)].collect()
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      e.foreach { case (s, d) =>
        parent.getOrElseUpdate(s, s): Unit
        parent.getOrElseUpdate(d, d): Unit
        val rs = find(s); val rd = find(d)
        if (rs != rd) {
          if (rs < rd) parent(rd) = rs else parent(rs) = rd
        }
      }
      return parent.keysIterator
        .map(x => (x, find(x))).toSeq
        .toDF("doc_id", "canonical_id")
    }
    // the convergence witness rides the SAME action that materializes the
    // checkpoint (r21, guide §1.2 — halve the driver round-trips): an
    // `observe` CollectMetrics node accumulates sum(label) while
    // localCheckpoint's eager count() drains every row, so the separate
    // per-round label-sum scan job disappears. coalesce: sum over an EMPTY
    // labels frame is NULL (no-candidate corpus), and the loop must
    // converge immediately, not NPE.
    var obsId = 0
    def checkpointWithSum(l: DataFrame): (DataFrame, Long) = {
      obsId += 1
      val obs = org.apache.spark.sql.Observation(s"cc_sum_$obsId")
      val ck = l.observe(obs, coalesce(sum(col("label")), lit(0L)).as("s"))
        .localCheckpoint()
      (ck, obs.get("s").asInstanceOf[Long])
    }
    // hop 0 fused into the init: with label(d) = d, min over self∪neighbors
    // is exactly least(src, min(dst)) — one aggregation, no join, and its
    // group-by already subsumes the old distinct-src node enumeration
    var (labels, prevSum) = checkpointWithSum(
      edges.groupBy(col("src").as("doc_id"))
        .agg(min(col("dst")).as("mn"))
        .select(col("doc_id"), least(col("doc_id"), col("mn")).as("label")))
    var i = 0
    var converged = false
    def hop(l: DataFrame): DataFrame = edges
      .join(l.withColumnRenamed("doc_id", "dst")
        .withColumnRenamed("label", "nlabel"), Seq("dst"))
      .select(col("src").as("doc_id"), col("nlabel").as("label"))
      .union(l)
      .groupBy(col("doc_id"))
      .agg(min(col("label")).as("label"))
    while (i < maxIters && !converged) {
      // TWO propagation hops per materialization: the dominant per-round
      // cost at the small end is driver round-trips, not shuffle volume,
      // so pipelining two hops into one action halves that overhead; plan
      // depth stays bounded at 2 before each eager localCheckpoint resets
      // it to a leaf.
      val (next, nextSum) = checkpointWithSum(hop(hop(labels)))
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      i += 1
    }
    if (!converged) {
      // partially-propagated labels would split one real cluster into
      // several with no signal — make the truncation loud
      throw new IllegalStateException(
        s"canonicalClusters did not converge in $maxIters rounds " +
          s"(${2 * maxIters} hops); raise maxIters for this component depth")
    }
    labels.select(col("doc_id"), col("label").as("canonical_id"))
  }

  /** All-pairs exact n-gram Jaccard above a threshold via a token-posting
    * join (oracle-able; the LSH path above is the scale path). Restricting
    * to same-lang pairs keeps the posting join bounded in the fixture. */
  def ngramJaccardPairs(docs0: DataFrame, threshold: Double): DataFrame = {
    // not keyed: dtok fans out to three consumers (cnt + both join sides)
    val docs = graft.etl.Tables.fanOut(docs0)
    val dtok = docs
      .select(col("doc_id"), col("lang"), explode(array_distinct(tokens(col("text")))).as("tok"))
    val cnt = dtok.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = dtok.as("a").join(dtok.as("b"),
        col("a.tok") === col("b.tok") && col("a.lang") === col("b.lang") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(cnt.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(cnt.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("i").cast("double") / (col("na") + col("nb") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Cross-document paragraph-level exact dedup (the CCNet / RefinedWeb
    * pass: a paragraph already seen in an earlier document is dropped from
    * every later one, and the document is reassembled from its surviving
    * paragraphs). The fixture corpus is a flat token stream with no
    * newlines, so "paragraph" here is a fixed window of `chunkTokens`
    * tokens — the chunker is the only fixture-shaped piece; the plumbing
    * (explode → hash → global first occurrence → reassemble) is the real
    * pipeline shape.
    *
    * First occurrence = min (doc_id, idx) per chunk hash. Scale posture:
    * TWO shuffles total — the first-occurrence aggregation groups on the
    * md5 hex key and keeps ONE copy of each distinct chunk's text
    * (duplicates die map-side in the partial aggregate, so repeated
    * paragraphs — the bulk of a crawl — never cross the wire twice); the
    * reassembly shuffle then carries only surviving chunks. Output is one
    * row per document, including documents whose every chunk was seen
    * earlier (n_kept = 0, empty text). */
  def paragraphDedup(docs0: DataFrame, chunkTokens: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    // not keyed: docs is consumed by both the chunk pipeline and the final
    // reassembly join's left side
    val docs = graft.etl.Tables.fanOut(docs0)
    val toks = tokens(col("text"))
    // ceil(n/P) windows; the trailing window may be partial (slice clamps)
    val nChunks = ceil(size(toks) / lit(chunkTokens.toDouble)).cast("int")
    val chunks = docs
      .select(col("doc_id"), nChunks.as("n_chunks"), toks.as("toks"))
      // guard the sequence: n_chunks = 0 (possible for a caller with a
      // different tokenizer — split() never yields an empty array) would
      // make sequence(0, -1) infer a DESCENDING step and emit phantom
      // chunks [0, -1]; such docs contribute no chunks and surface as
      // n_kept = 0 via the left join below, matching the oracle's range(0)
      .filter(col("n_chunks") >= 1)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("n_chunks") - 1),
          j => concat_ws(" ", slice(col("toks"), j * chunkTokens + 1, lit(chunkTokens)))))
          .as(Seq("idx", "chunk")))
    // chunk text is identical within an md5 group (collisions ~n²/2¹²⁸),
    // so first(chunk) is deterministic in VALUE and the kept text rides
    // the aggregation instead of a second join back to the exploded table
    val kept = chunks
      .groupBy(md5(col("chunk")).as("h"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("f"),
        first(col("chunk")).as("chunk"))
      .groupBy(col("f.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("f.idx").as("idx"),
            col("chunk").as("chunk")))), s => s.getField("chunk")),
          " ").as("kept_text"))
    docs.select(col("doc_id"), nChunks.cast("long").as("n_chunks"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** Incremental dedup of a NEW batch against an EXISTING corpus — the
    * shape every periodic crawl ingest runs (dedupe the delta, never
    * re-pair the base corpus with itself): a new doc is dropped if its
    * content fingerprint already exists in the base OR collides with an
    * earlier new doc (first occurrence wins within the batch, like
    * [[paragraphDedup]]). ONE left join on the 16-byte fingerprint — the
    * base corpus contributes only (fp) keys, never text — plus a tiny
    * first-occurrence aggregate over the batch. Output = one row per new
    * doc with its verdict, so the caller can route kept/dropped. */
  def incrementalDedup(base: DataFrame, batch: DataFrame): DataFrame = {
    val fp = TextAnalysis.prefixFingerprint(col("text"))
    // not keyed by fp: a keyed repartition evaluates the md5 fingerprint
    // once for the exchange and again in the projection, and batchFp fans
    // out to two consumers whose ENSURE exchanges are the reuse points
    val baseFps = graft.etl.Tables.fanOut(base)
      .select(fp.as("fp")).distinct()
      .withColumn("in_base", lit(true))
    val batchFp = graft.etl.Tables.fanOut(batch)
      .select(col("doc_id"), fp.as("fp"))
    val firstInBatch = batchFp.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("first_id"))
    batchFp
      .join(firstInBatch, Seq("fp"))
      .join(baseFps, Seq("fp"), "left")
      .select(col("doc_id"),
        coalesce(col("in_base"), lit(false)).as("dup_of_base"),
        (col("doc_id") =!= col("first_id")).as("dup_in_batch"))
      .withColumn("kept", !col("dup_of_base") && !col("dup_in_batch"))
  }

  /** SimHash: 64-bit signature; bit b is the sign of Σ_tokens (±1 by bit b
    * of xxhash64(token)). One codegen'd per-row expression
    * ([[org.apache.spark.sql.graft.SimHash64]]) — simhash needs no cross-row
    * aggregation, so the previous explode → groupBy(64 × sum(when)) pass
    * shuffled every token of the corpus only to re-group rows that started
    * out together. Equivalence vs that formulation is asserted in DedupSpec. */
  def simhash(docs0: DataFrame): DataFrame =
    graft.etl.Tables.fanOut(docs0).select(col("doc_id"),
      org.apache.spark.sql.GraftColumnBridge.column(
        org.apache.spark.sql.graft.SimHash64(
          org.apache.spark.sql.GraftColumnBridge.expression(tokens(col("text")))))
        .as("simhash"))

  /** The explode + 64-conditional-sum-aggregate formulation SimHash64
    * replaced — retained as the equivalence-spec reference model only. */
  private[graft] def simhashViaAggregates(docs0: DataFrame): DataFrame = {
    val docs = graft.etl.Tables.fanOut(docs0)
    val t = docs.select(col("doc_id"),
      explode(tokens(col("text"))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s_$b")
    }
    val sums = t.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64).map { b =>
      when(col(s"s_$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    sums.select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs with hamming distance <= maxDist (pigeonhole on
    * 4 x 16-bit chunks: join per equal chunk, then exact popcount check). */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3): DataFrame = {
    val sig = simhash(docs)
    // repartition on the join key → the self-join reuses ONE exchange and
    // the 64-aggregate simhash computation runs once, not once per side
    val chunked = sig.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("simhash"), c * 16).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("chunk", "ckey")))
      .repartition(col("chunk"), col("ckey"))
    // hamming is computed on the joined row, BEFORE the distinct (r21,
    // guide §2.3): it is functionally determined by the pair (both chunk
    // copies carry the same signatures), so dedup over (pair, hamming) ≡
    // dedup over (pair, sig_a, sig_b) — but the distinct's exchange now
    // carries 17-byte rows instead of 32-byte (two longs → one int), 3.2
    // → 2.5 MiB at sf0.1. (The hamming FILTER itself was already pushed
    // into the join condition by Catalyst in the old formulation — the
    // win is the narrower dedup key, not earlier filtering.)
    chunked.as("a").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** Embedding-cosine near-dup pairs: sign-LSH bucketing (random-hyperplane
    * sketch over `planes` deterministic pseudo-random hyperplanes) +
    * exact cosine verification on bucket-colliding pairs. */
  def embeddingNearDups(emb: DataFrame, threshold: Double = 0.95,
                        planes: Int = 8): DataFrame = {
    // sketch AND norm are computed once per vector, before the pair fan-out;
    // the repartition pins an Exchange on the computed table so the
    // self-join's second side is a ReusedExchange instead of re-running the
    // (very wide) sketch expression over the whole input
    val sketched = graft.etl.Tables.fanOut(emb).select(col("vec_id"), col("embedding"),
      Similarity.signSketch(col("embedding"), planes, 64).as("bucket"),
      Similarity.norm(col("embedding")).as("nrm"))
      .repartition(col("bucket"))
    val cands = sketched.as("a").join(sketched.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        col("a.embedding").as("ea"), col("b.embedding").as("eb"),
        col("a.nrm").as("na"), col("b.nrm").as("nb"))
    cands
      .select(col("id_a"), col("id_b"),
        (Similarity.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup-style semantic dedup: within each embedding cluster, order
    * vectors by distance to the cluster centroid (farthest first — the
    * paper's keep-priority: duplicates near the centroid are the
    * redundant ones), then drop any vector whose cosine to an
    * earlier-priority cluster-mate is >= `threshold`. That greedy
    * "similar to any earlier point" rule is the reference
    * implementation's, not connected components — it needs no iteration.
    *
    * Scale posture: the centroid table is clusters×dim (tiny, broadcast);
    * keep-priority is compared lexicographically ((ccos, vec_id)) INSIDE
    * the pair-join condition, so there is no per-cluster Window over the
    * corpus; the self-join is an equi-join on the cluster key, and the
    * quadratic pair fan-out is bounded by cluster size — the SemDeDup
    * contract (cluster count scales with the corpus so clusters stay
    * small; k-means assignment is [[Similarity.ivfAssign]]'s shuffle-free
    * projection when no precomputed cluster column exists). */
  def semanticDedup(emb0: DataFrame, threshold: Double): DataFrame = {
    import Similarity.ddot
    val emb = graft.etl.Tables.fanOut(emb0)
    val cent = Similarity.centroidVectors(emb0)
    val v = col("embedding").cast("array<double>")
    val ccos = ddot(v, col("cvec")) /
      (sqrt(ddot(v, v)) * sqrt(ddot(col("cvec"), col("cvec"))))
    // cosine-to-centroid and the pair-side norm both computed ONCE per
    // vector, before the pair fan-out
    val scored = emb.join(broadcast(cent), Seq("label"))
      .select(col("vec_id"), col("label"), col("embedding"),
        Similarity.norm(col("embedding")).as("nrm"),
        round(ccos, 6).as("ccos"))
    val pairCos = Similarity.dot(col("a.embedding"), col("b.embedding")) /
      (col("a.nrm") * col("b.nrm"))
    val dropped = scored.as("a").join(scored.as("b"),
        col("a.label") === col("b.label") &&
          (col("a.ccos") < col("b.ccos") ||
            (col("a.ccos") === col("b.ccos") && col("a.vec_id") < col("b.vec_id"))))
      .filter(round(pairCos, 6) >= threshold)
      .select(col("b.vec_id").as("vec_id"))
      .distinct()
    scored.join(dropped.withColumn("hit", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("label").cast("int").as("label"),
        col("ccos"), col("hit").isNull.as("kept"))
  }
}
