package graft

import graft.ext.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class DedupSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog tonight", "en"),
    (1L, "the quick brown fox jumps over the lazy cat tonight", "en"), // near-dup of 0
    (2L, "completely different words about spark catalyst engines here", "en"),
    (3L, "the quick brown fox jumps over the lazy dog tonight", "en"), // exact dup of 0
    (4L, "der schnelle braune fuchs springt heute nacht", "de")
  ).toDF("doc_id", "text", "lang")

  test("X1 exact dedup: identical texts collapse to min doc_id") {
    val out = Dedup.exact(docs).collect()
    out.length shouldBe 4 // 5 docs, one exact pair
    val dupGroup = out.find(_.getAs[Long]("n_dups") == 2).get
    dupGroup.getAs[Long]("canonical_id") shouldBe 0L
  }

  test("shingles: word k-grams, distinct, first-to-last") {
    val out = docs.filter($"doc_id" === 0)
      .select(Dedup.shingles(col("text"), 3).as("sh"))
      .as[Seq[String]].head()
    out.head shouldBe "the quick brown"
    out should contain("lazy dog tonight")
    out.length shouldBe 8 // 10 tokens → 8 trigrams, all distinct here
  }

  test("hashedShingles ≡ chained builtin xxhash64 over each token window") {
    // the codegen'd HashedShingles must produce exactly the values the
    // HOF formulation produced: xxhash64(tok_i, …, tok_{i+k-1}) per window
    val k = 2
    val toks = split(col("text"), " ")
    val reference = array_distinct(transform(
      sequence(lit(0), org.apache.spark.sql.functions.size(toks) - lit(k)),
      i => xxhash64((0 until k).map(j => element_at(toks, i + j + 1)): _*)))
    val rows = docs.select(
      Dedup.hashedShingles(col("text"), k).as("fast"),
      reference.as("ref"))
      .as[(Seq[Long], Seq[Long])].collect()
    rows.foreach { case (fast, ref) => fast shouldBe ref }
  }

  test("hashedShingles: fewer than k tokens gives an empty shingle set") {
    val short = Seq((0L, "single")).toDF("doc_id", "text")
    short.select(Dedup.hashedShingles(col("text"), 2).as("sh"))
      .as[Seq[Long]].head() shouldBe empty
  }

  test("SortedPairs: expands a bucket id list to all a<b pairs") {
    val ids = Seq(Seq(3L, 5L, 9L)).toDF("ids")
    val pairs = ids.select(explode(
      org.apache.spark.sql.GraftColumnBridge.column(
        org.apache.spark.sql.graft.SortedPairs(
          org.apache.spark.sql.GraftColumnBridge.expression(col("ids"))))).as("p"))
      .select("p.doc_a", "p.doc_b").as[(Long, Long)].collect().toSet
    pairs shouldBe Set((3L, 5L), (3L, 9L), (5L, 9L))
  }

  test("X2 MinHash-LSH: finds the planted near-dup, not the unrelated doc") {
    val pairs = Dedup.minhashLsh(docs, shingleK = 2, bands = 16, rowsPerBand = 2,
      threshold = 0.3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    pairs should contain((0L, 1L))
    pairs should contain((0L, 3L)) // exact dup survives too
    pairs.flatMap(p => Set(p._1, p._2)) should not contain 2L
    pairs.flatMap(p => Set(p._1, p._2)) should not contain 4L
  }

  test("verifyJaccard: exact dup scores 1.0, near-dup in (0,1)") {
    val cand = Seq((0L, 1L), (0L, 3L)).toDF("doc_a", "doc_b")
    val j = Dedup.verifyJaccard(cand, docs, shingleK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    j((0L, 3L)) shouldBe 1.0
    j((0L, 1L)) should (be > 0.4 and be < 1.0)
  }

  test("SimHash64 expression ≡ explode + 64-conditional-sum aggregate model") {
    val fast = Dedup.simhash(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = Dedup.simhashViaAggregates(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    fast shouldBe ref
  }

  test("SimHash: exact dup has distance 0; pairs are distinct, a<b") {
    val pairs = Dedup.simhashPairs(docs, maxDist = 0)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    pairs should contain((0L, 3L))
    all(pairs.map(p => p._1 < p._2)) shouldBe true
  }

  test("fingerprint: whitespace/case normalization collapses variants") {
    val variants = Seq(
      (0L, "Hello  World"), (1L, "hello world"), (2L, "HELLO   WORLD"))
      .toDF("doc_id", "text")
    TextAnalysis.fingerprint(variants)
      .select("fp").distinct().count() shouldBe 1
  }

  test("canonicalClusters: chains collapse to the minimum doc_id") {
    // components: {1,2,3,9} via chain 1-2, 2-3, 3-9; {5,7}; singleton pairs none
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 7L)).toDF("doc_a", "doc_b")
    val out = Dedup.canonicalClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out(1L) shouldBe 1L
    out(2L) shouldBe 1L
    out(3L) shouldBe 1L
    out(9L) shouldBe 1L
    out(5L) shouldBe 5L
    out(7L) shouldBe 5L
  }

  test("canonicalClusters: empty pair set yields empty clusters, no crash") {
    // a diverse corpus can produce ZERO near-dup candidates — the loop must
    // converge on the empty frame (sum over empty is NULL, not 0)
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    Dedup.canonicalClusters(empty).count() shouldBe 0L
  }

  test("canonicalClusters: non-convergence within maxIters is loud " +
    "(distributed path, forced past the driver-size gate)") {
    val chain = (0 until 12).map(i => (i.toLong, i.toLong + 1))
      .toDF("doc_a", "doc_b")
    val err = intercept[IllegalStateException] {
      Dedup.canonicalClusters(chain, maxIters = 2, maxDriverEdges = 0L)
        .collect()
    }
    err.getMessage should include("converge")
  }

  test("canonicalClusters: driver union-find equals the distributed " +
    "label-propagation fixpoint") {
    // branchy components + a chain + a singleton pair — both strategies
    // must emit the identical (doc_id, canonical_id) set, and one bigint
    // schema for Long and Int ids alike
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 7L), (4L, 9L),
      (11L, 12L), (10L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val intPairs = pairs.selectExpr("CAST(doc_a AS INT) AS doc_a",
      "CAST(doc_b AS INT) AS doc_b")
    Seq(pairs, intPairs).foreach { p =>
      val driver = Dedup.canonicalClusters(p, maxDriverEdges = Long.MaxValue)
      val dist = Dedup.canonicalClusters(p, maxDriverEdges = 0L)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      driver.schema.map(f => (f.name, f.dataType)) shouldBe
        dist.schema.map(f => (f.name, f.dataType))
      rows(driver) shouldBe rows(dist)
    }
  }

  test("paragraphDedup: first occurrence wins across docs, in-doc dups die, " +
    "trailing partial chunk survives") {
    val corpus = Seq(
      (0L, "a b c d e f"),       // chunks "a b c","d e f" — both first occurrences
      (1L, "a b c x y z"),       // "a b c" already seen in doc 0 → dropped
      (2L, "a b c d e f"),       // every chunk seen → empty survivor
      (3L, "p q r p q r p q")    // in-doc dup chunk + trailing partial "p q"
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(corpus, chunkTokens = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    out(0L) shouldBe ((2L, 2L, "a b c d e f"))
    out(1L) shouldBe ((2L, 1L, "x y z"))
    out(2L) shouldBe ((2L, 0L, ""))
    out(3L) shouldBe ((3L, 2L, "p q r p q"))
  }

  test("paragraphDedup: kept chunks reassemble in original idx order") {
    // doc 1 shares only doc 0's MIDDLE chunk — survivors must keep their
    // original relative order, not collect_list's arrival order
    val corpus = Seq(
      (0L, "m m m"),
      (1L, "x x x m m m y y y")
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(corpus, chunkTokens = 3)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    out(1L) shouldBe "x x x y y y"
  }

  test("semanticDedup: greedy within-cluster prune keeps one of a dup pair, " +
    "orthogonal and cross-cluster vectors survive") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f), 0),  // dup pair with v1 — tie on ccos → v0 kept
      (1L, Seq(1.0f, 0.0f), 0),  // dropped: identical to earlier-priority v0
      (2L, Seq(0.0f, 1.0f), 0),  // orthogonal to both → kept
      (3L, Seq(1.0f, 0.0f), 1)   // identical to v0 but another cluster → kept
    ).toDF("vec_id", "embedding", "label")
    val out = Dedup.semanticDedup(emb, threshold = 0.9)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    out shouldBe Map(0L -> true, 1L -> false, 2L -> true, 3L -> true)
  }

  test("semanticDedup: the survivor of a near-dup pair is the one farther " +
    "from the cluster centroid") {
    // v10 is close to the cluster mass, v11 slightly off-axis; they are
    // near-dups of each other. The centroid is dragged toward (1,0) by the
    // anchor vectors, so v11 (farther from centroid) must be the keeper.
    val emb = Seq(
      (8L, Seq(1.0f, 0.0f), 0), (9L, Seq(1.0f, 0.0f), 0),
      (10L, Seq(1.0f, 0.1f), 0),
      (11L, Seq(1.0f, 0.2f), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Dedup.semanticDedup(emb, threshold = 0.97)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    // keep-priority order (ccos asc): 11, 10, then the axis pair; 11 kills
    // 10 (cos≈0.9988) and both axis vectors after the first survivor
    out(11L) shouldBe true
    out(10L) shouldBe false
  }

  test("incrementalDedup: batch docs drop on base collisions and earlier " +
    "batch collisions, fresh docs keep") {
    // fingerprint = first 8 tokens; all fixtures here are 8 tokens long
    val mk = (i: Int, seed: String) => (1 to 8).map(j => s"$seed$j").mkString(" ")
    val base = Seq((0L, mk(0, "a")), (2L, mk(2, "b"))).toDF("doc_id", "text")
    val batch = Seq(
      (1L, mk(1, "a")),  // collides with base doc 0 → dup_of_base
      (3L, mk(3, "c")),  // fresh → kept
      (5L, mk(5, "d")),  // first of an in-batch pair → kept
      (7L, mk(7, "d"))   // second of the pair → dup_in_batch
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(base, batch)
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))))
      .toMap
    out(1L) shouldBe ((true, false, false))
    out(3L) shouldBe ((false, false, true))
    out(5L) shouldBe ((false, false, true))
    out(7L) shouldBe ((false, true, false))
  }

  test("chunkForRag: stride windows cover every token, overlap preserved, " +
    "short docs yield one chunk") {
    val text = (1 to 10).map(i => s"t$i").mkString(" ") // 10 tokens
    val df = Seq((0L, text), (1L, "x y")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkForRag(df, chunkTokens = 4, stride = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    // doc 0: n=10, chunks = ceil((10-4)/2)+1 = 4 → starts 0,2,4,6
    out.keys.count(_._1 == 0L) shouldBe 4
    out((0L, 0L)) shouldBe ((0L, 4L))
    out((0L, 3L)) shouldBe ((6L, 4L)) // last window ends exactly at token 10
    // doc 1: 2 tokens <= chunk → single (possibly short) chunk
    out((1L, 0L)) shouldBe ((0L, 2L))
    out.keys.count(_._1 == 1L) shouldBe 1
  }

  test("tokenizeToIds: frequency ranks ids, rare tokens fall to OOV 0") {
    // "hi" ×3 → id 1; "lo" ×2 → id 2; tie "aa"/"bb" ×1 break lexically;
    // vocabSize 3 leaves "bb" out-of-vocab
    val corpus = Seq((0L, "hi lo hi"), (1L, "hi lo aa bb")).toDF("doc_id", "text")
    val out = TextAnalysis.tokenizeToIds(corpus, vocabSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    out shouldBe Map(
      (0L, 0L) -> 1L, (0L, 1L) -> 2L, (0L, 2L) -> 1L,
      (1L, 0L) -> 1L, (1L, 1L) -> 2L, (1L, 2L) -> 3L, (1L, 3L) -> 0L)
  }

  test("canonicalClusters: converges on a chain longer than any fixed round count " +
    "(distributed path, forced past the driver-size gate)") {
    // a 12-hop path: min-label needs one round per hop — the loop must keep
    // iterating to convergence, not stop at a fixed small iteration count
    val chain = (0 until 12).map(i => (i.toLong, i.toLong + 1))
      .toDF("doc_a", "doc_b")
    val out = Dedup.canonicalClusters(chain, maxDriverEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.size shouldBe 13
    all(out.values) shouldBe 0L
  }
}
