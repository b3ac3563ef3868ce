package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.unsafe.types.UTF8String

/** X4 + training-data text ops over the `documents` fixture: token counting,
  * quality scoring, language-ID heuristic, fingerprinting. All pure
  * `functions._` column expressions — whole-stage-codegen'd, no UDFs — and
  * all integer/exact arithmetic so the DuckDB oracle matches bit-for-bit.
  *
  * Scale: per-document ops are map-side only (no shuffle); the term-frequency
  * queries shuffle once on (lang, token) with map-side partial aggregation.
  */
object TextAnalysis {

  def tokens(text: Column): Column = split(text, " ")

  /** Near-dup content fingerprint: md5 of the first `k` tokens — the
    * cheap boilerplate-robust key the leakage audit and incremental dedup
    * share (documents with a common opening are near-dup candidates). */
  def prefixFingerprint(text: Column, k: Int = 8): Column =
    md5(concat_ws(" ", slice(tokens(text), lit(1), lit(k))))

  /** Frequency-ranked vocabulary build + token-id encoding — the
    * tokenizer-prep pass of a pretraining pipeline: the top `vocabSize`
    * tokens by (count DESC, token ASC) get ids 1..V, everything else
    * encodes as OOV id 0. The vocab is top-V of a partial-aggregated
    * token count (TakeOrderedAndProject — no global sort), its ranking
    * window runs over V ≤ vocabSize rows (constant, NOT corpus-sized),
    * and the encode join broadcasts the vocab — so the only corpus-scale
    * work is one count shuffle of token keys and a map-side explode. */
  def tokenizeToIds(docs0: DataFrame, vocabSize: Int = 1024): DataFrame = {
    val docs = graft.etl.Tables.fanOut(docs0)
    val topV = docs.select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok").asc).limit(vocabSize)
    val rank = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("tok").asc)
    val vocab = topV
      .select(col("tok"), row_number().over(rank).cast("long").as("token_id"))
    docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .join(broadcast(vocab), Seq("tok"), "left")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        coalesce(col("token_id"), lit(0L)).as("token_id"))
  }

  /** Sliding-window chunking for retrieval indexing (the RAG prep pass):
    * windows of `chunkTokens` tokens advancing by `stride` (overlap =
    * chunkTokens − stride preserves context across boundaries). A doc of
    * n tokens yields 1 chunk if n ≤ chunkTokens, else
    * ceil((n − chunkTokens)/stride) + 1 — every token covered, no
    * fully-redundant tail window. Pure map-side (explode only); the
    * output carries the chunk fingerprint, not the text, so downstream
    * index joins shuffle 16-byte keys. */
  def chunkForRag(docs0: DataFrame, chunkTokens: Int = 64,
                  stride: Int = 32): DataFrame = {
    require(stride >= 1 && chunkTokens >= stride,
      s"need 1 <= stride <= chunkTokens, got stride=$stride chunk=$chunkTokens")
    val docs = graft.etl.Tables.fanOut(docs0)
    val toks = tokens(col("text"))
    val n = size(toks)
    val nChunks = when(n <= chunkTokens, lit(1))
      .otherwise(ceil((n - chunkTokens).cast("double") / stride).cast("int") + 1)
    docs.select(col("doc_id"), toks.as("toks"), n.as("n"), nChunks.as("nc"))
      .select(col("doc_id"), col("n"),
        posexplode(transform(sequence(lit(0), col("nc") - 1),
          i => concat_ws(" ", slice(col("toks"), i * stride + 1, lit(chunkTokens)))))
          .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        (col("chunk_idx") * stride).cast("long").as("start_tok"),
        // arithmetic, not a per-chunk string re-split: the clamped slice
        // length is min(chunkTokens, n - start), same as the oracle's
        least(lit(chunkTokens).cast("long"),
          col("n") - col("chunk_idx") * stride).as("n_tokens"),
        md5(col("chunk")).as("chunk_fp"))
  }

  /** Tiny English stopword list for ratio features; deterministic, mirrored
    * verbatim in the oracle SQL. */
  val stopwords: Seq[String] =
    Seq("the", "of", "and", "to", "in", "a", "is", "for", "on", "it")

  /** The codegen'd one-pass per-row token statistics
    * ([[org.apache.spark.sql.graft.TokenStats]]) — the shared base of
    * tokenStats / qualityScore / gopherRules. */
  private[graft] def tokenStatsCol(toks: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      org.apache.spark.sql.graft.TokenStats(
        org.apache.spark.sql.GraftColumnBridge.expression(toks), stopwords))

  /** Per-doc token stats: n_tokens, n_distinct, avg token length, stopword
    * ratio. Ratios are int/int double divisions — exact cross-engine. All
    * counts come from the one-pass codegen'd expression; the previous
    * size/array_distinct/aggregate-HOF/filter-isin column formulation
    * (retained below as the equivalence-spec reference) walked the token
    * array four times with interpreted lambdas. */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
        tokenStatsCol(tokens(col("text"))).as("ts"))
      .select(
        col("doc_id"), col("lang"),
        // BIGINT counts: DuckDB len()/count() are BIGINT, so the oracle's
        // schema only matches if we widen Spark's int size() here
        col("ts.n_tokens").as("n_tokens"),
        col("ts.n_distinct").as("n_distinct"),
        (col("ts.sum_len").cast("double") / col("ts.n_tokens"))
          .as("avg_token_len"),
        (col("ts.n_stopword").cast("double") / col("ts.n_tokens"))
          .as("stopword_ratio"))

  /** The composed-builtins formulation TokenStats replaced — retained as
    * the equivalence-spec reference model only (four interpreted passes
    * over the token array). */
  private[graft] def tokenStatsViaHof(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(
      col("doc_id"), col("lang"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct"),
      (aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
        size(toks)).as("avg_token_len"),
      (size(filter(toks, t => t.isin(stopwords: _*))).cast("double") /
        size(toks)).as("stopword_ratio"))
  }

  /** Quality score: documents that are long enough, diverse enough, and not
    * stopword-soup. Pure integer-ratio arithmetic (exact). */
  def qualityScore(docs: DataFrame): DataFrame = {
    val s = tokenStats(docs)
    s.select(col("doc_id"), col("n_tokens"), col("n_distinct"),
      col("stopword_ratio"),
      (col("n_distinct").cast("double") / col("n_tokens")).as("ttr"),
      (when(col("n_tokens") >= 20, 1).otherwise(0) +
        when(col("n_distinct").cast("double") / col("n_tokens") > 0.3, 1).otherwise(0) +
        when(col("stopword_ratio") < 0.5, 1).otherwise(0)).cast("long").as("quality_score"))
  }

  /** Language-ID heuristic: score = stopword hit-ratio per candidate
    * stopword set; here a single-set en-vs-other n-gram-free heuristic that
    * stays SQL-expressible. Real multi-language sets plug into the same
    * shape. */
  def langId(docs: DataFrame): DataFrame = {
    val ts = tokenStatsCol(tokens(col("text")))
    docs.select(col("doc_id"), col("lang").as("declared_lang"), ts.as("ts"))
      .select(col("doc_id"), col("declared_lang"),
        (col("ts.n_stopword").cast("double") / col("ts.n_tokens")).as("en_score"))
      .select(col("doc_id"), col("declared_lang"), col("en_score"),
        when(col("en_score") >= 0.15, lit("en")).otherwise(lit("other"))
          .as("predicted_lang"))
  }

  /** Document fingerprint: md5 of the normalized text (lower + squeezed
    * whitespace) — the exact-dedup key. md5 is identical in Spark and
    * DuckDB. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      md5(lower(regexp_replace(col("text"), " +", " "))).as("fp"))

  /** Term frequency per (lang, token); top-n per lang by count desc, token
    * asc (deterministic tie-break). One shuffle on (lang, token) with
    * partial aggregation; the top-n window re-shuffles only the aggregated
    * term table (vocab-sized, tiny vs corpus). */
  def topTermsPerLang(docs: DataFrame, n: Int): DataFrame = {
    val tf = docs
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("cnt").desc, col("token").asc)
    tf.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= n)
  }

  /** Heavy-hitter tokens per language via the mergeable Misra–Gries
    * summary ([[graft.functions.HeavyHittersAggregator]]) — the sketch
    * scale twin of [[topTermsPerLang]]: the exact query shuffles every
    * (lang, token) count; this ships at most k counters per lang per map
    * task, the same contract as the HLL / quantile-sketch twins. Estimates
    * undercount by at most n/(k+1) (asserted vs exact in
    * HeavyHittersSpec); summary contents are merge-tree-dependent →
    * rows-only driver gate. */
  def heavyHittersPerLang(docs: DataFrame, k: Int): DataFrame = {
    val agg = udaf(new graft.functions.HeavyHittersAggregator(k))
    graft.etl.Tables.fanOut(docs)
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("lang"))
      .agg(agg(col("token")).as("hh"))
      .select(col("lang"), posexplode(col("hh")).as(Seq("pos", "s")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("s._1").as("token"), col("s._2").as("est_count"))
  }

  /** Guaranteed heavy hitters, end-to-end EXACT: the two-pass pattern that
    * makes the Misra–Gries sketch oracle-checkable. Pass 1 runs the MG
    * summary per language — its superset guarantee says every token with
    * true frequency > n/(k+1) survives among the ≤ k candidates. Pass 2
    * recounts ONLY the candidates (left-semi against the ≤ k×|langs|-row
    * broadcast candidate set, so the recount shuffle carries heavy tokens
    * only) and keeps those above the threshold — which by the guarantee is
    * exactly the true heavy-hitter set with exact counts, independent of
    * merge order. Same sketch-to-oracle bridge as the portable-dedup
    * twins: DuckDB reproduces the output with a plain count + threshold,
    * no sketch required. */
  def heavyHittersExact(docs: DataFrame, k: Int): DataFrame = {
    val toks = graft.etl.Tables.fanOut(docs)
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
    val agg = udaf(new graft.functions.HeavyHittersAggregator(k))
    val cands = toks.groupBy(col("lang")).agg(agg(col("token")).as("hh"))
      .select(col("lang"), explode(col("hh")).as("s"))
      .select(col("lang"), col("s._1").as("token"))
    val totals = toks.groupBy(col("lang")).agg(count(lit(1)).as("total"))
    toks.join(broadcast(cands), Seq("lang", "token"), "left_semi")
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("n_occurrences"))
      .join(broadcast(totals), Seq("lang"))
      .filter(col("n_occurrences") >
        col("total").cast("double") / lit((k + 1).toDouble))
      .select(col("lang"), col("token"), col("n_occurrences"))
  }

  /** BPE-ish pre-tokenization (GPT-2-style pretokenizer, simplified to the
    * RE2-compatible subset — no lookahead — so the DuckDB oracle runs the
    * identical pattern): runs of letters, digits, or punctuation, each with
    * an optional leading space. */
  val bpeIshPattern: String = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+"

  def bpeTokenCount(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(bpeIshPattern), lit(0)))
        .cast("long").as("n_bpe_tokens"))

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, MOSS):
    * Rabin-Karp rolling hash over char k-grams, window-min sampling,
    * dedupe — implemented as the custom codegen'd
    * [[org.apache.spark.sql.graft.WinnowFingerprints]] expression.
    * Higher-order-function lambdas evaluate interpreted per element, which
    * at one gram per character is the entire CPU budget of a corpus scan;
    * the native expression keeps the loop inside whole-stage codegen. The
    * mod-prime arithmetic (B=31, P=1e9+7) is reproducible in ANSI SQL, so
    * the DuckDB oracle checks it exactly. */
  def winnowingFingerprints(docs: DataFrame, k: Int = 8, w: Int = 4): DataFrame = {
    val fps = org.apache.spark.sql.GraftColumnBridge.column(
      org.apache.spark.sql.graft.WinnowFingerprints(
        org.apache.spark.sql.GraftColumnBridge.expression(col("text")), k, w))
    graft.etl.Tables.fanOut(docs).select(col("doc_id"), explode(fps).as("fp"))
  }

  /** TF-IDF over the corpus: tf = occurrences in doc, df = docs containing
    * the token, tfidf = tf·ln(N/df) rounded to 6dp (absorbs any last-ulp
    * libm difference between engines). Two shuffles — (doc, token) for tf,
    * (token) for df — both with map-side partial aggregation; the df table
    * is vocabulary-sized and broadcast back. */
  def tfidf(docs: DataFrame): DataFrame = {
    val n = docs.count()
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), Seq("token"))
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        round(col("tf") * log(lit(n.toDouble) / col("df")), 6).as("tfidf"))
  }

  /** CCNet-style unigram language-model scoring: train a unigram LM on the
    * corpus itself (p(t) = c(t)/N) and score every doc by its mean token
    * log-probability — the perplexity-filter stage of a training-data
    * pipeline (low avg_logp ≈ far from the corpus distribution: boilerplate,
    * noise, wrong-language). Two corpus-sized shuffles, both partial-
    * aggregated — (doc, token) for tf and (token) for the vocab counts —
    * then a vocab join (AQE broadcasts the vocab side when it fits; at
    * corpus scale it degrades to a hash join keyed on the token). N arrives
    * as a ONE-ROW broadcast cross join, not a global window. Per-token
    * ln(c/N) rounds to 6dp (absorbing last-ulp libm skew, the tfidf/bm25
    * convention) and the per-doc sum runs in DECIMAL so aggregation order
    * can't perturb the double; one terminal division per doc. */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    val toks = graft.etl.Tables.fanOut(docs, col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val tf = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("c"))
    val total = vocab.agg(sum(col("c")).as("total"))
    val logp = round(log(col("c").cast("double") / col("total").cast("double")), 6)
    tf.join(vocab, Seq("token")).crossJoin(broadcast(total))
      .select(col("doc_id"), col("tf"),
        logp.cast(org.apache.spark.sql.types.DecimalType(20, 6)).as("logp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        round((sum(col("logp") * col("tf")).cast("double") /
          sum(col("tf"))), 6).as("avg_logp"))
  }

  /** Bigram LM scoring — the conditional-probability upgrade of
    * [[unigramLogProb]]: p(t_i | t_{i-1}) = c(t_{i-1}, t_i) / c(t_{i-1}, ·)
    * with both counts from the corpus itself, doc score = tf-weighted mean
    * ln p over bigram positions. Adjacent pairs come from zipping the
    * token array against itself shifted by one — a map-side
    * `arrays_zip(slice, slice)` + explode, never a per-doc window sort or
    * a positional self-join. The prefix table is a sum over the bigram
    * table (vocab-sized), so the corpus shuffles are the per-doc tf
    * aggregate and the bigram-vocab aggregate, both partial-agg'd.
    * Cross-engine rounding identical to unigram: 6dp ln, DECIMAL sum, one
    * terminal division. */
  def bigramLogProb(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val bg = graft.etl.Tables.fanOut(docs, col("doc_id")).filter(size(toks) >= 2)
      .select(col("doc_id"),
        explode(arrays_zip(slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1))).as("bg"))
      .select(col("doc_id"), col("bg").getField("0").as("t1"),
        col("bg").getField("1").as("t2"))
    val tf = bg.groupBy(col("doc_id"), col("t1"), col("t2"))
      .agg(count(lit(1)).as("tf"))
    val c2 = tf.groupBy(col("t1"), col("t2")).agg(sum(col("tf")).as("c2"))
    val c1 = c2.groupBy(col("t1")).agg(sum(col("c2")).as("c1"))
    val logp = round(log(col("c2").cast("double") / col("c1").cast("double")), 6)
    tf.join(c2, Seq("t1", "t2")).join(broadcast(c1), Seq("t1"))
      .select(col("doc_id"), col("tf"),
        logp.cast(org.apache.spark.sql.types.DecimalType(20, 6)).as("logp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"),
        round((sum(col("logp") * col("tf")).cast("double") /
          sum(col("tf"))), 6).as("avg_logp"))
  }

  /** Intra-document repetition (Gopher-style quality signal): fraction of
    * word trigrams that are repeats of an earlier trigram in the same doc.
    * Distinct-trigram counting rides the codegen'd HashedShingles (the
    * oracle counts distinct trigram STRINGS — equal up to xxhash64
    * collisions, ~hundreds-per-doc² / 2⁶⁴). Map-side only, no shuffle. */
  def repetitionStats(docs0: DataFrame): DataFrame = {
    val docs = graft.etl.Tables.fanOut(docs0)
    val toks = tokens(col("text"))
    docs.filter(size(toks) >= 3)
      .select(col("doc_id"),
        (size(toks) - 2).cast("long").as("n_trigrams"),
        size(Dedup.hashedShingles(col("text"), 3)).cast("long")
          .as("n_distinct_trigrams"))
      .select(col("doc_id"), col("n_trigrams"), col("n_distinct_trigrams"),
        ((col("n_trigrams") - col("n_distinct_trigrams")).cast("double") /
          col("n_trigrams")).as("dup_ratio"))
  }

  /** Cross-document trigram novelty: per doc, the fraction of its distinct
    * trigrams appearing in NO other document — the inter-doc complement of
    * [[repetitionStats]] and a cheap near-dup prefilter. One shuffle on the
    * 8-byte trigram hash for the df table, one partial-aggregated shuffle
    * back on doc_id; document text never moves. */
  def trigramNovelty(docs0: DataFrame): DataFrame = {
    val docs = graft.etl.Tables.fanOut(docs0, col("doc_id"))
    val withSh = docs.filter(size(tokens(col("text"))) >= 3)
      .select(col("doc_id"), Dedup.hashedShingles(col("text"), 3).as("hs"))
    // a doc-unique trigram (df = 1) has exactly one owner, recoverable as
    // min(doc_id) in the SAME aggregation that computes df — so the big
    // exploded table shuffles ONCE (by trigram hash) and never joins back;
    // the per-doc distinct count is just size(hs), computed row-local.
    // The previous t ⋈ df formulation re-shuffled the full exploded table
    // a second time for the join.
    val uniq = withSh.select(col("doc_id"), explode(col("hs")).as("h"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("owner"))
      .filter(col("df") === 1)
      .groupBy(col("owner").as("doc_id"))
      .agg(count(lit(1)).as("n_unique_trigrams"))
    withSh.select(col("doc_id"), size(col("hs")).cast("long").as("n_distinct_trigrams"))
      .join(uniq, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_distinct_trigrams"),
        coalesce(col("n_unique_trigrams"), lit(0L)).as("n_unique_trigrams"),
        (coalesce(col("n_unique_trigrams"), lit(0L)).cast("double") /
          col("n_distinct_trigrams")).as("novelty"))
  }

  /** BM25 relevance of every document to a fixed term set (k1=1.2,
    * b=0.75) — the retrieval scorer a data pipeline uses for targeted
    * corpus slicing. Corpus stats (N, Σdl) and per-term document
    * frequencies are one-row / |terms|-row frames joined back by
    * broadcast, so the only corpus-sized shuffles are the tf aggregation
    * and the final per-doc sum. Per-term scores round to 6dp and sum as
    * DECIMAL so aggregation order can't perturb the double; every
    * arithmetic step is written identically in the oracle SQL. */
  def bm25(docs0: DataFrame, terms: Seq[String]): DataFrame = {
    val docs = graft.etl.Tables.fanOut(docs0, col("doc_id"))
    val base = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("dl"))
    val g = base.agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
    val tf = base.select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val dft = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val avgdl = col("sumdl").cast("double") / col("n")
    val idf = log(((col("n") - col("df")) + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val termScore = round(idf * ((col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + (lit(0.75) * col("dl")) / avgdl))), 6)
    tf.join(broadcast(dft), Seq("tok")).crossJoin(broadcast(g))
      .select(col("doc_id"), termScore.as("ts"))
      .groupBy(col("doc_id"))
      .agg(sum(col("ts").cast(org.apache.spark.sql.types.DecimalType(12, 6)))
        .cast("double").as("score"),
        count(lit(1)).as("n_terms_matched"))
  }

  /** Corpus mixing weights per (source, lang): doc/token counts and their
    * corpus shares — the sampling-weight table a training-data pipeline
    * feeds its mixer. The share denominators come from a ONE-ROW total
    * broadcast-cross-joined back onto the already-aggregated
    * (source × lang)-sized frame — no single-partition window shuffle;
    * BIGINT/BIGINT single divisions keep the doubles exact cross-engine. */
  def sourceMix(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val agg = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(size(toks)).as("n_tokens"))
    val totals = agg.agg(sum(col("n_docs")).as("tot_docs"),
      sum(col("n_tokens")).as("tot_tokens"))
    agg.crossJoin(broadcast(totals))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        (col("n_docs").cast("double") / col("tot_docs")).as("doc_share"),
        (col("n_tokens").cast("double") / col("tot_tokens")).as("token_share"))
  }

  /** Corpus token counts per language (X4 aggregate rollup). */
  /** Distributed BPE merge TRAINING (Sennrich et al. 2016; the HF-tokenizers
    * word-count formulation) — the vocabulary-construction step the
    * existing encode path ([[tokenizeToIds]], [[bpeTokenCount]]) consumes.
    *
    * The corpus is touched ONCE: explode → (word, count), the standard
    * reduction that makes BPE trainable at 100 TB because every later step
    * operates on the DISTINCT-WORD table (vocabulary-sized, corpus-size-
    * independent). Each of the `nMerges` rounds then (a) explodes each
    * word's current symbol sequence into adjacent pairs weighted by word
    * count (zip_with over the vocab table — small by construction), (b)
    * takes the argmax pair via TakeOrderedAndProject with the
    * deterministic (count DESC, pair ASC) tie-break, and (c) rewrites the
    * symbol sequences with an `aggregate` HOF left-fold (merge-last-or-
    * append ≡ greedy left-to-right non-overlapping replacement — "aaa"
    * under (a,a) folds to [aa, a]). localCheckpoint per round pins the
    * rewritten table and cuts the 30-round lineage, the same loop
    * discipline as the dedup cluster propagation.
    *
    * Merge-list output is rows-only for the driver (an argmax-dependent
    * 30-round recursion isn't oracle SQL); BpeTrainSpec pins it to a
    * sequential reference implementation, the heavy-hitters gating
    * pattern. */
  def bpeTrain(docs: DataFrame, nMerges: Int = 30,
               maxDriverWords: Long = 100000L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // end-of-word marker as its own symbol, the classic formulation —
    // merges crossing word boundaries are impossible by construction
    var words = graft.etl.Tables.fanOut(docs)
      .select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .select(concat(split(col("word"), ""), array(lit("</w>"))).as("syms"),
        col("n"))
      .localCheckpoint()
    // r21, size-adaptive strategy (the AQE philosophy — derive it from
    // measured input size, not a constant): the corpus reduction above is
    // the only corpus-sized work in BPE training; every merge round
    // operates on the DISTINCT-WORD table, whose in-memory footprint is
    // bounded by Σ_w len(w). At ≤ maxDriverWords distinct words that table
    // is driver-sized — the HF-tokenizers trainers this operator cites
    // hold exactly this table in one process — so the ENTIRE merge loop
    // runs on the collected table: ONE collect job instead of one
    // argmax job per round plus periodic checkpoint jobs (44 → 7
    // stage-jobs at sf0.1; measured in OPTIMIZATION_r21.md). The loop
    // body below is the exact integer-count / (cnt DESC, l ASC, r ASC) /
    // greedy-left-fold semantics of the distributed path — merge list
    // provably unchanged (BpeTrainSpec pins both paths to the sequential
    // reference). Past the bound the distributed rounds are untouched.
    if (words.count() <= maxDriverWords) {
      var vocab: Array[(Array[String], Long)] =
        words.as[(Seq[String], Long)].collect()
          .map { case (s, n) => (s.toArray, n) }
      val merges = Seq.newBuilder[(Long, String, String, Long)]
      var r = 0
      while (r < nMerges) {
        val totals =
          scala.collection.mutable.HashMap.empty[(String, String), Long]
        vocab.foreach { case (syms, n) =>
          var i = 0
          while (i < syms.length - 1) {
            totals.updateWith((syms(i), syms(i + 1)))(
              c => Some(c.getOrElse(0L) + n)): Unit
            i += 1
          }
        }
        if (totals.isEmpty) r = nMerges
        else {
          // ties break in UTF-8 byte (= code-point) order, Spark's string
          // order in the distributed orderBy — not String.compareTo's
          // UTF-16 order, which ranks surrogate pairs below U+E000–U+FFFF
          def utf8(s: String) = UTF8String.fromString(s)
          val ((l, rr), cnt) = totals.reduce { (x, y) =>
            if (x._2 != y._2) { if (x._2 > y._2) x else y }
            else {
              val c = utf8(x._1._1).compareTo(utf8(y._1._1))
              if (c < 0 || (c == 0 &&
                  utf8(x._1._2).compareTo(utf8(y._1._2)) < 0)) x else y
            }
          }
          merges += ((r + 1L, l, rr, cnt))
          // greedy left-to-right non-overlapping replacement — the same
          // merge-into-tail-or-append left fold as the distributed
          // `aggregate` HOF ("aaa" under (a,a) folds to [aa, a])
          vocab = vocab.map { case (syms, n) =>
            val acc = scala.collection.mutable.ArrayBuffer.empty[String]
            syms.foreach { s =>
              if (acc.nonEmpty && acc.last == l && s == rr)
                acc(acc.length - 1) = l + rr
              else acc += s
            }
            (acc.toArray, n)
          }
          r += 1
        }
      }
      return merges.result().toDF("rank", "left", "right", "pair_count")
    }
    def bestPair(w: DataFrame): Option[(String, String, Long)] = {
      val pairs = w.select(explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"), col("n"))
      pairs.groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1)
        .collect()
        .headOption.map(b => (b.getString(0), b.getString(1), b.getLong(2)))
    }
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var r = 0
    while (r < nMerges) {
      val best = bestPair(words)
      if (best.isEmpty) r = nMerges
      else {
        val (l, rr, cnt) = best.get
        merges += ((r + 1L, l, rr, cnt))
        val merged = lit(l + rr)
        // greedy left-to-right non-overlapping replacement as a left-fold:
        // merge into the accumulator's tail or append
        val rewritten = aggregate(col("syms"),
          array().cast("array<string>"),
          (acc, s) => when(
            size(acc) > 0 && element_at(acc, -1) === lit(l) && s === lit(rr),
            concat(slice(acc, lit(1), size(acc) - 1), array(merged)))
            .otherwise(concat(acc, array(s))))
        words = words.select(rewritten.as("syms"), col("n"))
        // pin every 5th round: each checkpoint is a vocab-sized job, so
        // per-round pinning doubles the job count for lineage the analyzer
        // handles fine at depth 5
        if ((r + 1) % 5 == 0) words = words.localCheckpoint()
        r += 1
      }
    }
    merges.result().toDF("rank", "left", "right", "pair_count")
  }

  def langStats(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs"),
      sum(size(toks)).as("n_tokens"),
      sum(col("n_chars")).as("n_chars"),
      (sum(size(toks)).cast("double") / count(lit(1))).as("avg_tokens_per_doc"))
  }

  /** Corpus n-gram counting with a min-count cutoff — the LM-data staple
    * (KenLM-style count tables, contamination n-gram indexes, phrase
    * mining all start here). Trigram fan-out is MAP-SIDE (arrays_zip over
    * token slices, same family as bigramLogProb), counts partial-aggregate
    * on the (t1,t2,t3) key so the exchange carries per-task distinct
    * n-grams, not token instances, and the HAVING cutoff — the step that
    * makes 100 TB n-gram tables storable at all (Google n-grams ships
    * count ≥ 40) — filters AFTER the final aggregate. n_docs (document
    * frequency) rides the same pass as an exact distinct count. */
  def ngramCounts(docs: DataFrame, minCount: Long = 3L): DataFrame = {
    val toks = tokens(col("text"))
    graft.etl.Tables.fanOut(docs).filter(size(toks) >= 3)
      .select(col("doc_id"),
        explode(arrays_zip(slice(toks, lit(1), size(toks) - 2),
          slice(toks, lit(2), size(toks) - 2),
          slice(toks, lit(3), size(toks) - 2))).as("tg"))
      .select(col("doc_id"), col("tg").getField("0").as("t1"),
        col("tg").getField("1").as("t2"), col("tg").getField("2").as("t3"))
      .groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n") >= minCount)
  }
}
