package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (SURVEY.md §7.5):
  * language ID, quality scoring, token counting, document fingerprinting.
  * Scan-side and shuffle-free: built-in expressions plus the fused
  * `graft_*` kernels of [[graft.functions.VectorExpressions]] (the
  * quality and token counts are one [[graft.functions.TextStats]] pass
  * per document); the remaining higher-order filters run once per doc,
  * not per token pair.
  *
  * Each kernel runs once per document. The stats struct is added with
  * [[Dedup.withColumnOnce]], not `withColumn`: Catalyst substitutes a
  * projection's alias into the filters it pushes below it, so a caller
  * filtering on `quality` or `n_words` would otherwise run the kernel
  * again inside the filter, once for every column the filter reads.
  */
object TextOps {

  val StopEn: Seq[String] = Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "for")
  val StopEs: Seq[String] = Seq("el", "la", "de", "que", "y", "en", "un", "por", "con", "no")
  val StopDe: Seq[String] = Seq("der", "die", "und", "das", "ist", "ein", "zu", "mit", "den", "von")
  val StopFr: Seq[String] = Seq("le", "la", "de", "et", "les", "des", "en", "un", "une", "du")
  val StopZh: Seq[String] = Seq("的", "了", "是", "在", "我", "有", "和", "就", "不", "人")

  /** Per-language stopword lists — the broadcast lookup behind
    * [[withQualityByLang]]/[[gopherRulesByLang]]. English-only scoring
    * systematically penalizes every non-English document (its own
    * function words never hit `StopEn`), which then biases every
    * downstream consumer of `quality` — source caps, canonical
    * selection, the training mix — against the corpus's non-English
    * half. A production deployment extends this seq (hundreds of
    * languages is a few KB — still a broadcast); languages absent from
    * it fall back to English, which is the pre-round-11 behavior and
    * the loud-in-the-scaladoc default.
    */
  val StopByLang: Seq[(String, Seq[String])] = Seq(
    "en" -> StopEn, "es" -> StopEs, "de" -> StopDe,
    "fr" -> StopFr, "zh" -> StopZh)

  /** Left-joins each row's language's stopword list as `__st`
    * (English fallback for unlisted languages). The k-language table
    * broadcasts, so the join stays in the scan stage — no shuffle at
    * any corpus size.
    */
  private def withLangStops(df: DataFrame, langCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val tbl = broadcast(StopByLang.toDF("__slang", "__stops"))
    df.join(tbl, col(langCol) === col("__slang"), "left")
      .withColumn("__st",
        coalesce(col("__stops"), array(StopEn.map(lit): _*)))
      .drop("__slang", "__stops")
  }

  /** Characteristic character trigrams per language (with word-boundary
    * spaces), for the n-gram language-ID variant.
    */
  val TriEn: Seq[String] = Seq(" th", "the", "he ", "ing", " an")
  val TriEs: Seq[String] = Seq(" de", " la", "os ", " qu", "ión")
  val TriDe: Seq[String] = Seq("sch", " ei", "ein", "ung", " zu")

  def words(c: Column): Column = split(Dedup.normText(c), " ")

  def stopwordHits(ws: Column, stops: Seq[String]): Column =
    size(filter(ws, w => w.isInCollection(stops)))

  /** N-gram/stopword-heuristic language ID: argmax of per-language
    * stopword hit counts (tie order en > es > de, fixed).
    */
  def withLangId(df: DataFrame, textCol: String): DataFrame = {
    val ws = words(col(textCol))
    df.withColumn("hits_en", stopwordHits(ws, StopEn).cast("long"))
      .withColumn("hits_es", stopwordHits(ws, StopEs).cast("long"))
      .withColumn("hits_de", stopwordHits(ws, StopDe).cast("long"))
      .withColumn("lang_pred",
        when(col("hits_en") >= col("hits_es") && col("hits_en") >= col("hits_de"), "en")
          .when(col("hits_es") >= col("hits_de"), "es")
          .otherwise("de"))
  }

  /** Substring occurrence count via length differencing — identical
    * arithmetic in any engine with replace(): occurrences of `pat` =
    * (len(t) - len(replace(t, pat, ''))) / len(pat).
    */
  def substrCount(t: Column, pat: String): Column =
    (length(t) - length(regexp_replace(t, java.util.regex.Pattern.quote(pat), ""))) / pat.length

  /** Character-trigram language ID: sum of characteristic-trigram
    * occurrence counts per language over the normalized text (leading/
    * trailing space added so boundary trigrams fire at the edges),
    * argmax with the same fixed tie order as the stopword variant.
    */
  def withLangIdTrigram(df: DataFrame, textCol: String): DataFrame = {
    val t = concat(lit(" "), Dedup.normText(col(textCol)), lit(" "))
    def score(tris: Seq[String]): Column =
      tris.map(substrCount(t, _)).reduce(_ + _).cast("long")
    df.withColumn("tri_en", score(TriEn))
      .withColumn("tri_es", score(TriEs))
      .withColumn("tri_de", score(TriDe))
      .withColumn("lang_pred_tri",
        when(col("tri_en") >= col("tri_es") && col("tri_en") >= col("tri_de"), "en")
          .when(col("tri_es") >= col("tri_de"), "es")
          .otherwise("de"))
  }

  /** One fused [[graft.functions.TextStats]] pass over the text and its
    * Spark-lowered copy: the struct of counts behind the quality and
    * token features. `stops` is the stop-word list (array<string>).
    */
  private def textStats(df: DataFrame, textCol: String, stops: Column): Column = {
    graft.functions.VectorExpressions.register(df.sparkSession)
    call_function("graft_text_stats", col(textCol), lower(col(textCol)), stops)
  }

  /** Heuristic quality score from length / punctuation / stopword
    * ratios. Deterministic arithmetic (single divisions, fixed op
    * order), rounded once at the end. `stops` is the stop-word list —
    * the English literal for the monolingual entry point, the per-row
    * list for the per-language one.
    */
  private def qualityFrom(df: DataFrame, textCol: String, stops: Column): DataFrame =
    Dedup.withColumnOnce(df, "__ts", textStats(df, textCol, stops))
      .withColumn("n_chars_raw", col("__ts.n_chars"))
      .withColumn("n_words", col("__ts.n_words"))
      .withColumn("n_alpha", col("__ts.n_alpha"))
      .withColumn("punct_ratio", col("__ts.n_punct").cast("double") / col("n_chars_raw"))
      .withColumn("avg_word_len", col("n_alpha").cast("double") / col("n_words"))
      .withColumn("stop_ratio", col("__ts.stop_hits").cast("double") / col("n_words"))
      .withColumn("quality",
        round(least(col("avg_word_len") / 8.0, lit(1.0)) * 0.4
          + least(col("stop_ratio") * 5.0, lit(1.0)) * 0.4
          + (lit(1.0) - col("punct_ratio")) * 0.2, 9))
      .drop("__ts")

  /** Monolingual (English-list) scoring — correct for an
    * English-gated corpus; on a multilingual one prefer
    * [[withQualityByLang]], which this is the `lang`-blind special
    * case of.
    */
  def withQuality(df: DataFrame, textCol: String): DataFrame =
    qualityFrom(df, textCol, array(StopEn.map(lit): _*))

  /** Per-language quality scoring: `stop_ratio` counts hits against
    * the ROW'S OWN language's stopword list ([[StopByLang]], broadcast
    * — English fallback for unlisted languages), so a clean Spanish
    * document is no longer scored as if its articles were noise. Same
    * output columns and arithmetic as [[withQuality]]; only the list
    * varies per row.
    */
  def withQualityByLang(df: DataFrame, textCol: String,
      langCol: String): DataFrame =
    qualityFrom(withLangStops(df, langCol), textCol, col("__st")).drop("__st")

  /** Model-based quality scoring: a fixed linear classifier over the
    * [[withQuality]] features — the shape of fasttext-style quality
    * filtering (CCNet / Gopher pipelines), with deterministic built-in
    * weights standing in for trained ones (a production build loads the
    * weight vector from a model table; the scoring dataflow — scan-side
    * saturating features → dot product → sigmoid → threshold — is
    * identical). Adds `logit`, `prob`, `keep`; everything stays inside
    * whole-stage codegen, no shuffle.
    */
  def withModelQuality(df: DataFrame, textCol: String): DataFrame =
    withQuality(df, textCol)
      // logit stays UNROUNDED: every term is +,-,*,/,least over integer
      // ratios, so both engines produce the bit-identical double — while
      // round-to-9dp would reintroduce the decimal-half-boundary hazard
      // (a logit of exactly 0.5000390625 rounded differently across
      // engines in dev at sf0.1: Spark rounds the shortest decimal
      // string HALF_UP, DuckDB rounds the binary value, which sits
      // below the half). Only prob rounds, because exp() is the one
      // op libms may differ on.
      .withColumn("logit",
        lit(2.0) * least(col("stop_ratio") * 5.0, lit(1.0)) +
          lit(1.5) * least(col("avg_word_len") / 8.0, lit(1.0)) -
          lit(3.0) * col("punct_ratio") +
          lit(0.5) * least(col("n_words").cast("double") / 200.0, lit(1.0)) -
          lit(1.2))
      .withColumn("prob", round(lit(1.0) / (lit(1.0) + exp(-col("logit"))), 9))
      .withColumn("keep", (col("prob") >= 0.5).cast("long"))

  /** Whitespace tokens (`split(trim(text), '\\s+')`) and a BPE-ish
    * token count (letter runs, digit runs, single non-alphanumerics of
    * the lowered text) from one [[graft.functions.TextStats]] pass.
    */
  def withTokenCounts(df: DataFrame, textCol: String): DataFrame =
    Dedup.withColumnOnce(df, "__ts", textStats(df, textCol, array().cast("array<string>")))
      .withColumn("ws_tokens", col("__ts.ws_tokens"))
      .withColumn("bpe_tokens", col("__ts.bpe_tokens"))
      .drop("__ts")

  /** Rolling polynomial fingerprint over word hashes:
    * h ← (31·h + hash32(word)) mod 1e9+7, left fold from 0.
    */
  def withFingerprint(df: DataFrame, textCol: String): DataFrame = {
    graft.functions.VectorExpressions.register(df.sparkSession)
    df.withColumn("__w", words(col(textCol)))
      .withColumn("fingerprint",
        expr("""aggregate(transform(__w, w -> graft_hash32(w)),
                 0L, (acc, h) -> (acc * 31 + h) % 1000000007L)"""))
      .drop("__w")
  }

  /** Intra-document repetition score: the fraction of word n-grams that
    * are duplicates of an earlier n-gram in the SAME document
    * (`1 − distinct/total`) — the Gopher-family repetition filter that
    * catches boilerplate loops, keyboard mashing, and decoding failures
    * before they reach a training set. Pure scan-side projection: no
    * shuffle, no join, every document scored including ones too short
    * to shingle (ratio 0 — nothing repeats in zero n-grams).
    */
  def withRepetition(df: DataFrame, textCol: String, n: Int = 3): DataFrame = {
    val sh = (0 until n).map(j => s"__w[i+$j]").mkString(", ")
    df.withColumn("__w", words(col(textCol)))
      .withColumn("__sh",
        when(size(col("__w")) >= n,
          expr(s"transform(sequence(0, size(__w)-$n), i -> concat_ws(' ', $sh))"))
          .otherwise(array().cast("array<string>")))
      .withColumn("n_ngrams", size(col("__sh")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("__sh"))).cast("long"))
      .withColumn("rep_ratio",
        when(col("n_ngrams") > 0,
          round(lit(1.0) - col("n_distinct").cast("double") / col("n_ngrams"), 9))
          .otherwise(lit(0.0)))
      .drop("__w", "__sh")
  }

  /** Benchmark decontamination: (corpus doc, benchmark doc) pairs
    * sharing ≥ `minOverlap` distinct word `n`-grams — the overlap check
    * every serious training-data pipeline runs against its eval sets so
    * test questions don't leak into training text.
    *
    * Plan shape for 100 TB: the benchmark is an eval set — thousands of
    * docs, not billions — so its distinct-shingle postings BROADCAST;
    * corpus postings are computed scan-side (fused 64-bit shingle
    * hashes, strings never materialized) and hash-probe the broadcast:
    * the corpus is never shuffled to find matches. Only MATCHED postings
    * (contaminated-doc rows, a tiny fraction) reach the pair-count
    * aggregate's shuffle. A corpus-side self-join or a bench-side
    * shuffle would both be scale errors here.
    */
  def contaminationPairs(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 8, minOverlap: Int = 10): DataFrame = {
    require(n >= 1 && minOverlap >= 1)
    def postings(df: DataFrame, out: String, h: String): DataFrame =
      Dedup.withShingleSet(df, textCol, n)
        .select(col(idCol).as(out), explode(col("__hs")).as(h))
    val bench = postings(benchmark, "bench_id", "__hb")
    val corp = postings(corpus, "doc_id", "__hc")
    // both sides are per-doc DISTINCT shingles, so each shared shingle
    // contributes exactly one matched row: count == |intersection|
    corp.join(broadcast(bench), col("__hc") === col("__hb"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minOverlap)
      .select(col("doc_id"), col("bench_id"), col("n_shared"))
  }

  /** Bloom-pre-filtered decontamination: same answer as
    * [[contaminationPairs]], different 100 TB cost model. Even the
    * broadcast-postings plan probes a hash relation for EVERY corpus
    * shingle; here the benchmark's distinct shingle hashes compress into
    * a bitset a few KB–MB wide ([[graft.functions.BloomBits]], ~16
    * bits/element) that rides the plan as a literal, and candidacy is a
    * pure scan-side projection ([[graft.functions.BloomHits]], one
    * codegen'd pass per doc). Blooms have NO false negatives, so a doc
    * whose bloom-hit count is below `minOverlap` cannot reach
    * `minOverlap` true shared shingles with ANY single benchmark doc
    * (hits ≥ max over bench docs of the true pair overlap) — dropping it
    * is lossless. Only surviving candidates (a vanishing fraction of a
    * clean corpus) pay the exact broadcast-join verify, which also
    * removes the bloom's false positives. Result frame is identical to
    * the exact operator's — ExtOpsSpec pins the equality, the oracle is
    * the exact answer.
    */
  def bloomContaminationPairs(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 8, minOverlap: Int = 10,
      k: Int = 5): DataFrame = {
    import org.apache.spark.sql.graft.PlanDf
    def withHashes(df: DataFrame): DataFrame = Dedup.withShingleSet(df, textCol, n)
    // build side: the eval set — a scale-fixed model input (BloomBits
    // caps it loudly); one small distinct-aggregate, never corpus-sized
    val benchHashes = withHashes(benchmark)
      .select(explode(col("__hs")).as("__h")).distinct()
      .collect().map(_.getLong(0))
    val bits = graft.functions.BloomBits.build(benchHashes, k)
    val candidates = withHashes(corpus)
      .withColumn("__bloom_hits",
        PlanDf.column(graft.functions.BloomHits(
          PlanDf.expression(col("__hs")), bits, k)))
      .filter(col("__bloom_hits") >= minOverlap)
      .drop("__words", "__hs", "__bloom_hits")
    contaminationPairs(candidates, benchmark, idCol, textCol, n, minOverlap)
  }

  /** TF-IDF keyword extraction: top-k terms per document. Two shuffled
    * aggregates (term frequency per (doc, term), document frequency per
    * term), the corpus size as a broadcast scalar, and a per-doc window
    * top-k. Ranking is on integers only (tf desc, term asc) so ordering
    * can never hinge on a float ulp; the tfidf score itself is rounded
    * once to 9 dp (the engine-portable transcendental contract). The
    * df join key is the term — hot stopword terms are exactly the skew
    * AQE's skew-join handling splits at scale.
    */
  def tfIdfTopK(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = df.select(col(idCol), explode(words(col(textCol))).as("term"))
    val tf = terms.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df_docs"))
    val n = df.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("tf").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log((col("n_docs") + 1).cast("double") / (col("df_docs") + 1)), 9))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col(idCol), col("rn"), col("term"), col("tf"), col("df_docs"), col("tfidf"))
  }

  /** Sparse TF-IDF all-pairs similarity join (the classic similarity
    * self-join): documents become sparse TF-IDF vectors and pairs score
    * by cosine via a TERM-KEYED join — only docs sharing a term ever
    * meet, and terms with document frequency above `maxDf` are pruned
    * from pair GENERATION (the standard frequent-term cut: a term in
    * half the corpus contributes nothing to discrimination but df²
    * candidate pairs). The cosine is computed entirely in the pruned
    * subspace — norms over the df-capped terms too — so a pair of
    * near-identical docs scores ≈ 1 regardless of how many frequent
    * terms were cut (full-vector norms would deflate every score by
    * the pruned mass and make the threshold meaningless).
    *
    * Scale: pair volume is Σ_t df_t² ≤ maxDf · |postings| — linear in
    * the corpus with a constant bound, the same propose discipline as
    * the MinHash bands; one term shuffle + one (doc_a, doc_b) reduce.
    * Dot/norm sums use the BM25 decimal discipline (9-dp-rounded
    * ln-derived products, DECIMAL(27,9) accumulation — exact and
    * order-independent).
    */
  def tfidfSimilarPairs(docs: DataFrame, idCol: String, textCol: String,
      maxDf: Int, minSim: Double, ngram: Int = 3): DataFrame =
    tfidfPairsFromPostings(
      // both self-join sides read the postings — materialize unless the
      // caller staged them at ingest ([[tfidfWeightedPostings]])
      tfidfWeightedPostings(docs, idCol, textCol, maxDf, ngram)
        .localCheckpoint(),
      idCol, minSim)

  /** The df-capped weighted postings frame [[tfidfSimilarPairs]]'s pair
    * stage joins on: (id, term, w rounded TF-IDF weight, nrm pruned-
    * subspace L2 norm). Factored out so an ingest phase can persist it
    * once per corpus (the rankedTokens/ANN-index `ensure*` pattern) —
    * building it is the op's dominant cold cost (tokenize + shingle +
    * two corpus aggregates + norm re-join), and postings were the last
    * pair family still rebuilding in-query every round (VERDICT r12
    * item 1). Each posting row carries its document's norm: 8 bytes per
    * posting buys back the two doc-keyed norm joins downstream — the
    * ngramJaccardPairs widened-row argument.
    */
  def tfidfWeightedPostings(docs: DataFrame, idCol: String, textCol: String,
      maxDf: Int, ngram: Int = 3): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // terms are word n-gram shingles: on a small-vocabulary corpus
    // unigrams are all frequent (the sf0.01 fixture has 31 distinct
    // words, min df 25 — every term would be pruned) while shingles
    // recover discriminative context, exactly as in the MinHash family.
    // Shingles are HASHED to longs in the one-pass kernel (no shingle
    // STRING column is ever materialized): the ~25-char term string
    // previously paid its weight through two aggregates and the pair
    // join — the same md5-32 family as the MinHash/prefix-filter
    // proposes, replayed verbatim in the oracle, so even the ~1e-9
    // collision mass is identical in both engines and cancels in the
    // compare (measured isolated at sf0.1: min 6.8 → 3.8 s, ~1.3×
    // after calib normalization — smaller than the prefix-filter win
    // because the tf/df aggregates already shrank the frame before
    // the strings' heaviest consumer, the pair join)
    graft.functions.VectorExpressions.register(docs.sparkSession)
    val shingleable = docs.withColumn("__w", words(col(textCol)))
      .filter(size(col("__w")) >= ngram)
      .localCheckpoint()
    val terms = shingleable
      .select(col(idCol),
        explode(expr(s"graft_shingle_hashes32(__w, $ngram)")).as("term"))
    val tf = terms.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df_docs"))
    // n_docs counts the docs that actually enter the shingle space
    val n = shingleable.agg(count(lit(1)).as("n_docs"))
    val w = tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("w",
        round(col("tf") * log((col("n_docs") + 1).cast("double") / (col("df_docs") + 1)), 9))
      .localCheckpoint() // reused by the norm aggregate and the re-join
    val pruned = w.filter(col("df_docs") <= maxDf)
    // norms over the df-capped subspace ONLY — full-vector norms would
    // deflate every score by the pruned mass (see scaladoc above)
    val norms = pruned.groupBy(col(idCol))
      .agg(round(sqrt(sum(round(col("w") * col("w"), 9)
        .cast(DecimalType(27, 9))).cast("double")), 9).as("nrm"))
    pruned.join(norms, Seq(idCol))
      .select(col(idCol), col("term"), col("w"), col("nrm"), col("df_docs"))
  }

  /** [[tfidfSimilarPairs]] from a pre-built [[tfidfWeightedPostings]]
    * frame (typically read back from an ingest-time parquet artifact).
    */
  def tfidfPairsFromPostings(postings: DataFrame, idCol: String,
      minSim: Double): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // pair stage stays a shuffled equi join: the bucket-local variant
    // (collect_list(struct(doc, w)) per term + scan-side combination
    // expansion — the containmentPairs rewrite) was measured ~2×
    // SLOWER here (min 2.6 s → 4.9 s at sf0.1): with a weight payload
    // the object-hash list aggregate over millions of term groups
    // costs more than it saves, and unlike containment no distinct
    // follows — the dot aggregate dedups anyway. The two shapes are
    // semantically interchangeable; pick per payload.
    // Singleton terms (df_docs = 1) can never produce a doc_a < doc_b
    // match — on a shingle vocabulary they are the MAJORITY of postings,
    // and carrying them through the self-join's build and probe sides
    // was most of the serve cost. They still count: their weights are
    // already baked into `nrm` upstream, so dropping them HERE (join
    // inputs only) leaves every cosine bit-identical.
    PostingIndex.selfJoin(postings.filter(col("df_docs") >= 2), idCol, Seq("term"),
        Seq(col("w").as("wa"), col("nrm").as("__na")),
        Seq(col("w").as("wb"), col("nrm").as("__nb")))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(round(col("wa") * col("wb"), 9)
        .cast(DecimalType(27, 9))).cast("double").as("dot"),
        first(col("__na")).as("__na"), first(col("__nb")).as("__nb"))
      .withColumn("sim", round(col("dot") / (col("__na") * col("__nb")), 9))
      .filter(col("sim") >= minSim)
      .select(col("doc_a"), col("doc_b"), col("sim"))
  }

  /** CCNet-style unigram language-model quality score: each document's
    * mean negative log-likelihood under an add-1-smoothed unigram model
    * trained on the corpus itself (p(w) = (count(w)+1)/(total+vocab)).
    * High NLL = improbable word sequence = the gibberish/boilerplate a
    * perplexity filter drops; the real pipeline uses a KenLM n-gram
    * model, but the dataflow — train counts on the corpus, score every
    * doc against them — is exactly this.
    *
    * Plan shape for 100 TB: term counts are one shuffled aggregate
    * (map-side partials over the vocabulary key); scoring re-joins docs
    * to the count table on the term — the same term-keyed join as
    * TF-IDF, with AQE splitting hot stopword keys. Determinism: each
    * term's −ln p rounds to 9 dp and the per-doc mean sums those as
    * DECIMAL(27,9) (exact, order-independent) before one double
    * division — the same moment discipline as the k-means centroid
    * means; ln term-by-term matches the oracle bit-for-bit because the
    * operand of every ln is identical in both engines.
    */
  def lmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val terms = df.select(col(idCol), explode(words(col(textCol))).as("term"))
    // lazy checkpoint (r17): the total/vocab collect below is the first
    // action and materializes the count table — without it the full
    // term aggregate (a corpus explode + shuffle) re-ran inside the
    // scoring join. Vocabulary-sized rows: the right frame to persist
    // at any corpus scale (the token stream itself is not).
    val freqs = terms.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = false)
    val Array(total, vocab) = freqs
      .agg(sum(col("cnt")).cast("long"), count(lit(1))).collect()(0) match {
        case r => Array(r.getLong(0), r.getLong(1))
      }
    val denom = (total + vocab).toDouble
    terms.join(freqs, "term")
      .withColumn("__nll",
        round(-log((col("cnt") + 1).cast("double") / lit(denom)), 9)
          .cast(org.apache.spark.sql.types.DecimalType(27, 9)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        round((sum(col("__nll")).cast("double") / count(lit(1))), 6).as("avg_nll"))
  }

  /** Overlapping fixed-size word chunks per document — the RAG/context
    * chunking op: windows of `window` words starting every `step` words
    * (overlap = window - step), last chunk short. Scan-side per doc
    * (split + sequence + explode + slice), no shuffle: chunking 100 TB
    * is embarrassingly parallel.
    */
  def chunkWindows(df: DataFrame, idCol: String, textCol: String,
      window: Int = 50, step: Int = 40): DataFrame = {
    require(window >= step && step >= 1, s"need window >= step >= 1, got ($window, $step)")
    val overlap = window - step
    // nChunks = ceil(max(len - overlap, 1) / step): every word is in
    // some chunk and no chunk starts past the end.
    val chunk = slice(col("__w"), (col("chunk_no") * step + 1).cast("int"), lit(window))
    df.select(col(idCol), words(col(textCol)).as("__w"))
      .withColumn("__nc",
        ceil(greatest(size(col("__w")) - overlap, lit(1)).cast("double") / step).cast("long"))
      .select(col(idCol),
        explode(sequence(lit(0L), col("__nc") - 1)).as("chunk_no"), col("__w"))
      .select(col(idCol), col("chunk_no"),
        md5(concat_ws(" ", chunk)).as("chunk_md5"),
        size(chunk).cast("long").as("n_words"))
  }

  /** Email/phone pattern (Java ∩ RE2 regex subset so the DuckDB oracle
    * compiles the identical pattern): PII redaction is a per-row
    * projection — scan-side, shuffle-free, codegen'd regex.
    */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "\\+?[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}(-[0-9]{3,4})?"

  /** PII redaction for training corpora: replace email/phone spans with
    * typed placeholder tokens and report per-document hit counts (the
    * audit trail a compliance pass needs). Purely scan-side.
    */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = lower(col(textCol))
    df.select(col(idCol),
      size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(t, lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
      regexp_replace(regexp_replace(t, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")
        .as("redacted"))
  }

  /** Cross-corpus boilerplate share: cut each document into
    * non-overlapping `chunkWords`-word chunks, count how often each
    * chunk text occurs corpus-wide, and report per document the
    * fraction of its chunks that are duplicated somewhere else (the
    * standard boilerplate/repetition signal used to filter crawl data).
    * One explode + one hash aggregate on the chunk digest + one join
    * back — the chunk digest is the shuffle key, so the corpus text
    * itself never reshuffles.
    */
  def chunkDupStats(df: DataFrame, idCol: String, textCol: String,
      chunkWords: Int = 8): DataFrame = {
    require(chunkWords >= 1)
    val chunks = df
      .select(col(idCol), words(col(textCol)).as("__w"))
      .withColumn("__nc", (size(col("__w")) / chunkWords).cast("long"))
      .filter(col("__nc") >= 1)
      .select(col(idCol), explode(sequence(lit(0L), col("__nc") - 1)).as("__c"), col("__w"))
      .select(col(idCol),
        md5(concat_ws(" ",
          slice(col("__w"), (col("__c") * chunkWords + 1).cast("int"), lit(chunkWords))))
          .as("chunk_md5"))
    val freq = chunks.groupBy(col("chunk_md5"))
      .agg(count(lit(1)).as("__corpus_n"))
    chunks.join(freq, "chunk_md5")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__corpus_n") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_ratio",
        col("n_dup_chunks").cast("double") / col("n_chunks"))
  }

  /** Concatenate-and-cut context packing — how pretraining corpora are
    * cut into fixed token windows: documents concatenate in `idCol`
    * order into one global token stream, and each document reports the
    * window range [first_window, last_window] it lands in.
    *
    * The global running total is computed as a distributed prefix sum —
    * range-partition by id, cumulate within partitions, then add each
    * partition's offset (partition totals are numPartitions rows, a
    * broadcast) — NOT as a single-partition global window, which would
    * serialize 100 TB through one task.
    */
  def packWindows(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int): DataFrame =
    packWindowsByCount(
      df.select(col(idCol), size(words(col(textCol))).cast("long").as("n_tokens")),
      idCol, windowTokens)

  /** Packing over an explicit per-document token-count frame
    * (`idCol`, `n_tokens`) — the metering is pluggable: whitespace
    * words ([[packWindows]]), subword tokens ([[subwordTokens]]), or a
    * production tokenizer's counts, all share the same distributed
    * prefix-sum cut.
    */
  def packWindowsByCount(counts: DataFrame, idCol: String,
      windowTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(windowTokens >= 1)
    val toks = counts
      .repartitionByRange(col(idCol))
      .withColumn("__pid", spark_partition_id())
    val offsets = toks.groupBy(col("__pid"))
      .agg(sum(col("n_tokens")).as("__ptotal"))
      .withColumn("__offset",
        coalesce(sum(col("__ptotal"))
          .over(Window.orderBy(col("__pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__offset"))
    val wIn = Window.partitionBy(col("__pid")).orderBy(col(idCol))
    toks.join(broadcast(offsets), "__pid")
      .withColumn("__end", sum(col("n_tokens")).over(wIn) + col("__offset"))
      .withColumn("start_pos", col("__end") - col("n_tokens"))
      .select(col(idCol), col("n_tokens"), col("start_pos"),
        floor(col("start_pos") / windowTokens).cast("long").as("first_window"),
        floor((col("__end") - 1) / windowTokens).cast("long").as("last_window"))
  }

  /** Corpus-global repeated-line removal (the CCNet/RefinedWeb
    * boilerplate cut): normalize each line, count how many times each
    * normalized line occurs corpus-wide, drop lines occurring ≥
    * `minDocs` times (cookie banners, footers, nav chrome — the text
    * that repeats across a crawl), and reassemble every document with
    * its surviving lines in original order. Reports per document the
    * line count before/after and an md5 pin of the cleaned text.
    *
    * Plan shape for 100 TB: two shuffles, both on the right keys. The
    * frequency pass aggregates on the line DIGEST (map-side partials;
    * the md5 is the shuffle key, not the line text), and only digests
    * at or above `minDocs` survive into the dup dictionary — bounded by
    * total_lines/minDocs, and in production `minDocs` scales with the
    * corpus, so the dictionary stays broadcast-sized and AQE plans the
    * back-join as a broadcast probe (left join + null test, never a
    * corpus-wide digest shuffle). Reassembly then regroups lines by
    * document id — the one unavoidable shuffle, since line verdicts are
    * corpus-global but output is per-document. Ordering is restored by
    * sorting the collected (pos, line) structs INSIDE the aggregate, so
    * the result is partition-order-independent.
    */
  def lineDedupGlobal(df: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 10): DataFrame = {
    require(minDocs >= 2, s"minDocs < 2 would drop every line, got $minDocs")
    val lines = df
      .select(col(idCol), posexplode(split(col(textCol), "\n")))
      .select(col(idCol), col("pos"),
        Dedup.normText(col("col")).as("__norm"))
      .withColumn("__h", md5(col("__norm")))
    val dupDict = lines.groupBy(col("__h"))
      .agg(count(lit(1)).as("__corpus_n"))
      .filter(col("__corpus_n") >= minDocs)
    lines.join(dupDict, Seq("__h"), "left")
      .withColumn("__kept", col("__corpus_n").isNull)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("__kept"), 1L).otherwise(0L)).as("n_kept"),
        md5(concat_ws("\n",
          transform(
            array_sort(collect_list(when(col("__kept"),
              struct(col("pos"), col("__norm"))))),
            s => s.getField("__norm")))).as("cleaned_md5"))
  }

  /** PER-SOURCE boilerplate scrub — the line-granular, domain-
    * conditioned member of the surgical-removal family (doc tier:
    * `Dedup.exact`; span tier: [[spanRemoval]]; global line tier:
    * [[lineDedupGlobal]]): a line is boilerplate FOR A SOURCE when it
    * appears in ≥ fracPct% of that source's documents (and ≥ 2 docs) —
    * the CCNet/RefinedWeb-style per-domain cut. The distinction
    * matters both ways at corpus scale: a site's nav footer saturates
    * its own domain but can sit below any global count on a small
    * crawl slice, and a phrase mildly common EVERYWHERE (a share
    * button, a date format) never dominates one source and survives —
    * where a global threshold would wrongly cut it. The threshold
    * compares in integer arithmetic (df·100 ≥ fracPct·nDocs), so
    * boundary sources flag identically in every engine.
    *
    * Plan: lines explode scan-side, the dictionary is one
    * (source, line-hash) distinct-doc aggregate against a broadcast
    * per-source size table, and the scrub is the same hash-keyed
    * left join + in-order reassembly as the global tier. Corpus text
    * reshuffles nowhere.
    */
  def boilerplateScrubBySource(df: DataFrame, idCol: String, srcCol: String,
      textCol: String, fracPct: Int = 25): DataFrame = {
    require(fracPct >= 1 && fracPct <= 100)
    val lines = df
      .select(col(idCol), col(srcCol).as("source"),
        posexplode(split(col(textCol), "\n")))
      .select(col(idCol), col("source"), col("pos"),
        Dedup.normText(col("col")).as("__norm"))
      .withColumn("__h", md5(col("__norm")))
      // consumed twice (dictionary aggregate + scrub join-back) —
      // without this the corpus line-explode runs twice (ADVICE r11)
      .localCheckpoint()
    val srcSizes = df.groupBy(col(srcCol).as("source"))
      .agg(count(lit(1)).as("__nd"))
    val boiler = lines.groupBy(col("source"), col("__h"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .join(broadcast(srcSizes), Seq("source"))
      .filter(col("__df") * 100 >= lit(fracPct) * col("__nd") &&
        col("__df") >= 2)
      .select(col("source"), col("__h"), lit(true).as("__bp"))
    lines.join(boiler, Seq("source", "__h"), "left")
      .withColumn("__kept", col("__bp").isNull)
      .groupBy(col(idCol), col("source"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("__kept"), 1L).otherwise(0L)).as("n_kept"),
        md5(concat_ws("\n",
          transform(
            array_sort(collect_list(when(col("__kept"),
              struct(col("pos"), col("__norm"))))),
            s => s.getField("__norm")))).as("cleaned_md5"))
  }

  /** Gopher-style document quality rules (Rae et al. 2021, §A1.1): word
    * count in [minWords, maxWords], mean word length in [minWlen,
    * maxWlen], at least `minStopDistinct` distinct English stop words
    * present. Emits the per-rule flags plus the composite keep bit so a
    * pipeline can audit WHICH rule cut each document, not just that one
    * did. Pure scan-side projection — no shuffle, no join; rule
    * evaluation over 100 TB is embarrassingly parallel.
    *
    * Determinism: the word-length rule compares in integer arithmetic
    * (`minWlen·n ≤ chars ≤ maxWlen·n`), never against the rounded
    * double `mean_wlen` — a document sitting exactly on the boundary
    * must flag identically in every engine.
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 30, maxWords: Int = 100000,
      minWlen: Int = 3, maxWlen: Int = 10,
      minStopDistinct: Int = 2): DataFrame =
    gopherFrom(df, idCol, textCol, array(StopEn.map(lit): _*),
      minWords, maxWords, minWlen, maxWlen, minStopDistinct, Nil)

  /** Per-language Gopher rules: the distinct-stop-word rule checks the
    * ROW'S OWN language's list ([[StopByLang]], broadcast — English
    * fallback for unlisted languages). With the English-only list the
    * stop rule is a de-facto language gate (every non-English doc
    * fails it); per-lang lists make it the fluency check Gopher means
    * it to be on a multilingual corpus. Same flags/arithmetic as
    * [[gopherRules]].
    */
  def gopherRulesByLang(df: DataFrame, idCol: String, textCol: String,
      langCol: String,
      minWords: Int = 30, maxWords: Int = 100000,
      minWlen: Int = 3, maxWlen: Int = 10,
      minStopDistinct: Int = 2,
      carry: Seq[(String, Column)] = Nil): DataFrame =
    gopherFrom(withLangStops(df, langCol), idCol, textCol, col("__st"),
      minWords, maxWords, minWlen, maxWlen, minStopDistinct, carry)

  /** `carry` — extra (name, expression) columns evaluated in the SAME
    * text scan as the rules (e.g. a content hash): a caller that needs
    * both otherwise pays a second full pass over the corpus text just
    * to re-derive them (guide §1.2 step 1 — don't compute in two passes
    * what one projection yields).
    */
  private def gopherFrom(df: DataFrame, idCol: String, textCol: String,
      stops: Column, minWords: Int, maxWords: Int,
      minWlen: Int, maxWlen: Int, minStopDistinct: Int,
      carry: Seq[(String, Column)]): DataFrame = {
    val ws = words(col(textCol))
    df.select(Seq(col(idCol), ws.as("__w"),
        length(Dedup.normText(col(textCol))).cast("long").as("__nc"),
        stops.as("__stl")) ++ carry.map { case (n, c) => c.as(n) }: _*)
      .withColumn("n_words", size(col("__w")).cast("long"))
      .withColumn("n_word_chars", col("__nc") - (col("n_words") - 1))
      .withColumn("mean_wlen",
        round(col("n_word_chars").cast("double") / col("n_words"), 9))
      .withColumn("n_stop_distinct",
        size(array_intersect(array_distinct(col("__w")), col("__stl")))
          .cast("long"))
      .withColumn("flag_words",
        (col("n_words") >= minWords && col("n_words") <= maxWords)
          .cast("long"))
      .withColumn("flag_wlen",
        (col("n_word_chars") >= col("n_words") * minWlen &&
          col("n_word_chars") <= col("n_words") * maxWlen).cast("long"))
      .withColumn("flag_stop",
        (col("n_stop_distinct") >= minStopDistinct).cast("long"))
      .withColumn("keep",
        col("flag_words") * col("flag_wlen") * col("flag_stop"))
      .drop("__w", "__nc", "__stl")
  }

  /** DSIR-style hashed-n-gram importance weights (Xie et al. 2023):
    * score every document by how much more likely its words are under a
    * TARGET distribution (here: the rows where `targetFlag` holds, e.g.
    * one language or one trusted source) than under the raw corpus —
    * the log importance weight targeted resampling orders by. Features
    * are hashed unigram buckets (`hash32(word) mod buckets`), counts
    * are add-1 smoothed over the bucket space, and a document's weight
    * is Σ ln(p_target(b)/p_raw(b)) over its word occurrences.
    *
    * Plan shape for 100 TB: ONE shuffled aggregate with at most
    * `buckets` groups (both distributions come out of the same pass via
    * a conditional sum — the target is a column predicate, not a second
    * scan), a two-value driver aggregate for the smoothing denominators
    * (`buckets` rows in, one row out), and a broadcast of the ≤
    * `buckets`-row log-ratio table back onto the term stream — the
    * corpus text itself never reshuffles; only the per-doc weight sum
    * aggregates.
    *
    * Determinism: both ln operands are double divisions of exact
    * integers (identical bit patterns in any engine), each ln rounds to
    * 9 dp and the difference/sum run in DECIMAL(27,9) — the same
    * transcendental contract as [[lmScore]].
    */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
      targetFlag: Column, buckets: Int = 1024): DataFrame = {
    require(buckets >= 2)
    graft.functions.VectorExpressions.register(df.sparkSession)
    val terms = df
      .select(col(idCol), targetFlag.as("__t"),
        explode(words(col(textCol))).as("__term"))
      .withColumn("__b", expr(s"graft_hash32(__term) % $buckets"))
    val counts = terms.groupBy(col("__b")).agg(
      count(lit(1)).as("__cr"),
      sum(when(col("__t"), 1L).otherwise(0L)).as("__ct"))
    val totals = counts
      .agg(sum(col("__cr")).cast("long"), sum(col("__ct")).cast("long"))
      .collect()(0)
    val denomRaw = (totals.getLong(0) + buckets).toDouble
    val denomTgt = (totals.getLong(1) + buckets).toDouble
    val dec = org.apache.spark.sql.types.DecimalType(27, 9)
    val lam = counts.select(col("__b"),
      (round(log((col("__ct") + 1).cast("double") / lit(denomTgt)), 9).cast(dec) -
        round(log((col("__cr") + 1).cast("double") / lit(denomRaw)), 9).cast(dec))
        .as("__lam"))
    terms.join(broadcast(lam), "__b")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        round(sum(col("__lam")).cast("double"), 6).as("dsir_logw"))
  }

  /** Exact-substring duplicate spans (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): flag every word
    * `n`-gram whose exact text occurs more than once corpus-wide, then
    * merge each document's flagged (overlapping) gram positions into
    * maximal duplicated spans. Per document: total/duplicated gram
    * counts, the merged span count, and how many words sit inside a
    * duplicated span — the quantity span-level dedup actually cuts.
    *
    * Plan shape for 100 TB: gram postings hash scan-side (the codegen'd
    * 64-bit shingle kernel — gram strings never materialize), the
    * frequency pass aggregates on the hash with map-side partials, and
    * only postings whose hash clears the repeat threshold (a small
    * fraction) flow back through the term-keyed join. The span merge is
    * then pure per-document array math over the collected flagged
    * positions — sorted inside the aggregate, so no window function and
    * no partition-order dependence. Corpus text reshuffles nowhere.
    *
    * Span arithmetic on sorted positions p₁..pₘ (each covering
    * [pᵢ, pᵢ+n−1]): consecutive diffs dᵢ = pᵢ₊₁ − pᵢ; spans = 1 + #{dᵢ
    * > n} (a gap strictly wider than n breaks the run; = n merges two
    * exactly-adjacent duplicated regions); covered words = n + Σ
    * min(dᵢ, n). All integer arithmetic.
    */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5): DataFrame = {
    require(n >= 2)
    graft.functions.VectorExpressions.register(df.sparkSession)
    val grams = Dedup.withWords(df, textCol, n)
      .withColumn("__hs", expr(s"graft_shingle_hashes64(__words, $n)"))
      .select(col(idCol), posexplode(col("__hs")))
    val rep = grams.groupBy(col("col")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2)
    val perDoc = grams.join(rep, Seq("col"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dup_grams"),
        array_sort(collect_list(col("pos"))).as("__ps"))
      .withColumn("__diffs",
        // sequence(1, 0) DESCENDS in Spark — guard the single-gram case
        when(size(col("__ps")) >= 2,
          transform(sequence(lit(1), size(col("__ps")) - 1),
            i => element_at(col("__ps"), i + 1) - element_at(col("__ps"), i)))
          .otherwise(array().cast("array<int>")))
      .select(col(idCol), col("n_dup_grams"),
        (size(filter(col("__diffs"), d => d > n)) + 1).cast("long").as("n_spans"),
        (aggregate(col("__diffs"), lit(0L), (acc, d) => acc + least(d, lit(n)))
          + n).cast("long").as("dup_words"))
    val base = df.select(col(idCol),
      size(words(col(textCol))).cast("long").as("n_words"))
      .withColumn("n_grams", greatest(col("n_words") - (n - 1), lit(0L)))
    base.join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_words"), col("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_words"), lit(0L)).as("dup_words"))
      .withColumn("dup_ratio",
        round(col("dup_words").cast("double") / col("n_words"), 9))
  }

  /** Position packing bound for [[spanRemoval]]'s canonical-occurrence
    * key (doc_id·2²⁰ + pos must be collision-free, so docs are capped
    * at 2²⁰ words — a ~6 MB text; the guard fails loudly, and a corpus
    * with longer docs raises the shift, not the semantics).
    */
  val SpanPosPack: Long = 1L << 20

  /** SURGICAL exact-substring removal — the cut [[repeatedSpans]] only
    * meters (Lee et al. 2022 apply it: all but one occurrence of each
    * duplicated substring is deleted, the rest of the document
    * survives). Every word `n`-gram occurring ≥ 2 times corpus-wide
    * keeps its lexicographically first occurrence (min (doc_id, pos),
    * packed as doc_id·2²⁰+pos) as CANONICAL; every other occurrence's
    * covered word positions [p, p+n−1] are cut. Per document: word
    * counts before/after, the removed-word count, and an md5 pin of
    * the exact cleaned text (space-joined surviving words in original
    * order) — the oracle checks the surgery itself, not just its size.
    *
    * Gram-granular approximation, stated honestly: when two DIFFERENT
    * duplicated grams overlap and their canonicals live in different
    * documents, a canonical copy can lose words to the other gram's
    * cut — the union-of-cuts semantics. The one-maximal-substring
    * refinement needs cross-gram run merging before choosing keepers;
    * at corpus scale the union semantics is what one hash pass buys,
    * and it never deletes BOTH copies of the n-gram itself (its own
    * canonical always survives its own cut).
    *
    * Plan shape for 100 TB: gram hashing is scan-side (md5-derived
    * 120-bit keys — both md5 halves from ONE digest; 60 bits would
    * birthday-collide in volume at 10¹²-gram scale and each collision
    * silently deletes non-duplicate text, so the cutting tier pays the
    * extra long where the metering tier `text_dup_spans` doesn't —
    * the key is the shuffle key, corpus text never reshuffles); the
    * canonical pass is one map-side-combinable (count, min) aggregate
    * on the key pair; only grams whose key repeats (a small fraction)
    * flow back through the key-joined pass; the cut itself is
    * per-document array arithmetic
    * over the collected start positions — no window, no pair listing,
    * no propose bound to tune. The gram frame is checkpointed because
    * it feeds both the aggregate and the join-back (the groupedCdf
    * lesson, ADVICE r11).
    */
  def spanRemoval(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, posPack: Long = SpanPosPack): DataFrame = {
    require(n >= 2 && posPack >= 2)
    graft.functions.VectorExpressions.register(df.sparkSession)
    // packed occurrence key; the when-guard cannot be pruned away (it
    // sits inside the aggregate/filter expressions themselves), so an
    // over-long doc fails loudly instead of colliding keys silently
    def packed(idc: Column, p: Column): Column =
      when(p < posPack, idc * posPack + p)
        .otherwise(raise_error(lit(
          s"spanRemoval: gram position >= $posPack — raise SpanPosPack"))
          .cast("long"))
    val base = df.select(col(idCol), words(col(textCol)).as("__w"))
    // gram hashing is the codegen'd md5-120 kernel (one loop, ONE
    // digest per gram, no gram strings materialized) — bit-equal to
    // the oracle idioms ('0x'||substr(md5(g),1,15))::BIGINT and
    // ('0x'||substr(md5(g),17,15))::BIGINT (pinned in Round14Spec)
    val sp = base
      .filter(size(col("__w")) >= n)
      .select(col(idCol),
        posexplode(expr(s"graft_shingle_md5_120(__w, $n)")))
      .select(col(idCol), col("pos").as("__pos"),
        col("col.h1").as("__h1"), col("col.h2").as("__h2"))
      .localCheckpoint()
    val canon = sp.groupBy(col("__h1"), col("__h2"))
      .agg(count(lit(1)).as("__c"),
        min(packed(col(idCol), col("__pos"))).as("__ck"))
      .filter(col("__c") >= 2)
    val cuts = sp.join(canon, Seq("__h1", "__h2"))
      .filter(packed(col(idCol), col("__pos")) =!= col("__ck"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_set(col("__pos"))).as("__starts"))
    base.join(cuts, Seq(idCol), "left")
      .withColumn("__cov", when(col("__starts").isNotNull,
          array_distinct(flatten(transform(col("__starts"),
            s => sequence(s, s + (n - 1))))))
        .otherwise(array().cast("array<int>")))
      .withColumn("__kept",
        expr("filter(__w, (x, i) -> NOT array_contains(__cov, i))"))
      .select(col(idCol),
        size(col("__w")).cast("long").as("n_words"),
        size(col("__cov")).cast("long").as("removed_words"),
        size(col("__kept")).cast("long").as("kept_words"),
        md5(concat_ws(" ", col("__kept"))).as("clean_md5"))
      .withColumn("removed_ratio",
        round(col("removed_words").cast("double") / col("n_words"), 9))
  }

  /** OLS slope of ln(y) on ln(x) over the ≤R collected fit points —
    * shared by [[zipfCurve]]/[[heapsGrowth]], whose point frames are
    * bounded (topR rows / `buckets` rows), so the fit is driver-side
    * arithmetic on a bounded read, not a Spark job (the former
    * aggregate + broadcast-fit shape cost two extra jobs per query —
    * VERDICT r14 item 5's residual). The arithmetic is the exact twin
    * of the retired aggregate and of the oracle's OlsSql: point
    * coordinates are 9-dp-rounded lns (BigDecimal-of-string HALF_UP ==
    * Spark `round`) held exact as BigDecimal so the cross-moments match
    * the old DECIMAL(18,9)/(37,18) sums bit-for-bit; the closing
    * algebra is IEEE doubles on identical operands. Positive points
    * only (log(0) is NULL in Spark but ln(0) raises/-inf elsewhere),
    * signed zero normalized (+0.0), non-finite passthrough, null on an
    * empty fit — all pinned behaviors of the aggregate version.
    */
  private def olsSlopeLocal(pts: Seq[(Double, Double)]): java.lang.Double = {
    val p = pts.filter { case (x, y) => x > 0d && y > 0d }
      .map { case (x, y) =>
        (BigDecimal(math.log(x)).setScale(9, BigDecimal.RoundingMode.HALF_UP),
          BigDecimal(math.log(y)).setScale(9, BigDecimal.RoundingMode.HALF_UP))
      }
    if (p.isEmpty) null
    else {
      val n = p.size.toDouble
      val sx = p.map(_._1).sum.toDouble
      val sy = p.map(_._2).sum.toDouble
      val sxy = p.map { case (a, b) => a * b }.sum.toDouble
      val sxx = p.map { case (a, _) => a * a }.sum.toDouble
      val v = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val r =
        if (v.isNaN || v.isInfinite) v
        else BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (r == 0d) 0d else r
    }
  }

  /** The fitted slope as a literal double column (null-safe). */
  private def slopeLit(beta: java.lang.Double): Column =
    if (beta == null) lit(null).cast("double") else lit(beta.doubleValue)

  /** Zipf head of the corpus: the top-R token frequencies with their
    * rank and the fitted log-log slope (a healthy natural-language
    * corpus sits near −1; a slope collapsing toward 0 marks template/
    * boilerplate floods, a cliff marks vocabulary truncation) — the
    * one-look corpus-health readout next to `text_ngram_diversity`.
    * Scale shape: one token-frequency aggregate (map-side combined),
    * then a DISTRIBUTED top-R (orderBy+limit = TopK per partition,
    * not a global window sort over the vocabulary); the R-row fit is
    * arithmetic on one aggregate row.
    */
  def zipfCurve(df: DataFrame, idCol: String, textCol: String,
      topR: Int = 20): DataFrame = {
    require(topR >= 3)
    val spark = df.sparkSession
    val tf = df.select(explode(words(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
    // distributed TopK (TakeOrderedAndProject — per-partition heads,
    // never a global window sort over the vocabulary), then the ≤R
    // rows collect once: rank assignment, the log-log fit, and the
    // output frame are driver-side on a bounded read
    val top = tf.orderBy(col("freq").desc, col("token")).limit(topR)
      .collect().toSeq
    val ranked = top.zipWithIndex.map { case (r, i) =>
      (i + 1L, r.getString(0), r.getLong(1))
    }
    val beta = olsSlopeLocal(ranked.map(t => (t._1.toDouble, t._3.toDouble)))
    import spark.implicits._
    ranked.toDF("rank", "token", "freq")
      .withColumn("zipf_slope", slopeLit(beta))
  }

  /** Heaps vocabulary-growth curve: cumulative distinct tokens vs
    * cumulative documents over `buckets` corpus prefixes (prefix order
    * = doc id), with the fitted log-log slope — Heaps' law's β
    * (English prose ~0.5; β drifting up marks vocabulary churn/noise,
    * down marks duplication). The prefix trick makes it one pass: a
    * token's FIRST-SEEN document (min id) decides which prefix first
    * counts it, so there is no per-prefix distinct — one token
    * aggregate plus a bounded driver-side closing (running sums, doc
    * boundaries, fit).
    */
  def heapsGrowth(df: DataFrame, idCol: String, textCol: String,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 3)
    val spark = df.sparkSession
    val base = df.select((col(idCol) + 1L).as("__rk"),
      words(col(textCol)).as("__w"))
    // Prefix rank = doc id + 1 REQUIRES dense 0-based ids; gapped or
    // offset ids would skew bucket sizes (and can zero out leading
    // buckets). Guard loudly rather than paying a global row_number
    // sort over the corpus — the documents table's contract is dense.
    // The max/count pair is ONE bounded one-row driver read (the
    // convergence-aggregate pattern); inlining N as a literal keeps the
    // guard out of the distributed plan, where it was re-broadcast into
    // both bucket aggregates (one extra corpus scan each — the residual
    // cost VERDICT r14 item 5 asked to fold away).
    val head = base.agg(max(col("__rk")), count(lit(1))).head()
    val n = if (head.isNullAt(0)) 0L else head.getLong(0)
    require(n == head.getLong(1),
      s"heapsGrowth requires dense 0-based $idCol: max+1=$n, " +
        s"count=${head.getLong(1)}")
    def bucketOf(rk: Column): Column =
      (floor((rk * buckets - 1).cast("double") /
        lit(n).cast("double")) + 1).cast("long")
    // ≤ `buckets` rows collect once — the only corpus pass left is the
    // token first-seen aggregate (VERDICT r14 item 5: the aggregate-fit
    // shape paid two extra jobs and re-read this frame)
    val vocabPer = base
      .select(col("__rk"), explode(col("__w")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(min(col("__rk")).as("__fs"))
      .groupBy(bucketOf(col("__fs")).as("bucket"))
      .agg(count(lit(1)).as("__nv"))
      .collect()
    val nv = vocabPer.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Per-bucket DOC counts need no scan: with dense ranks 1..N,
    // bucketOf is monotone in rk, so bucket b's cumulative doc count is
    // the largest rk whose bucket ≤ b — a driver-side binary search
    // over the SAME long→double arithmetic the distributed expression
    // evaluates (bit-identical IEEE ops, so it matches the oracle's
    // grouped count exactly), replacing a whole-corpus aggregate.
    def bucketOfL(rk: Long): Long =
      math.floor((rk * buckets - 1).toDouble / n.toDouble).toLong + 1
    def boundary(b: Long): Long = {
      var lo = 0L
      var hi = n
      while (lo < hi) {
        val mid = lo + (hi - lo + 1) / 2
        if (bucketOfL(mid) <= b) lo = mid else hi = mid - 1
      }
      lo
    }
    val rows = (1 to buckets).map { b =>
      (b.toLong, boundary(b.toLong),
        (1 to b).map(i => nv.getOrElse(i.toLong, 0L)).sum)
    }
    val beta = olsSlopeLocal(rows.map(r => (r._2.toDouble, r._3.toDouble)))
    import spark.implicits._
    rows.toDF("bucket", "n_docs", "vocab")
      .withColumn("heaps_beta", slopeLit(beta))
  }

  /** Padding-waste economics of batch formation at a fixed batch size:
    * 'arrival' batches documents in id order, 'length_sorted' batches
    * them ordered by token count — per batch every sequence pads to the
    * batch max, so waste = 1 − real/padded tokens. The readout that
    * justifies length-grouped batching in a training loader (typically
    * several-fold less padding) measured on THIS corpus. Batches form
    * per md5-deterministic shard — exactly how a distributed loader
    * forms them. The in-shard sequence number comes from the
    * distributed prefix-sum rank ([[graft.etl.StatOps.withRowNumber]]),
    * never a window partitioned on the small shard modulus (which
    * would funnel corpus/shards rows through one reducer task at
    * 100 TB — the q72 hazard, VERDICT r14 item 1).
    */
  def paddingWaste(df: DataFrame, idCol: String, textCol: String,
      batchSize: Int = 16, shards: Int = 64): DataFrame = {
    require(batchSize >= 2 && shards >= 1)
    val base = df.select(col(idCol).as("__id"),
        size(words(col(textCol))).cast("long").as("__nt"))
      .withColumn("__shard", Dedup.hash32(col("__id").cast("string")) % shards)
    def strat(name: String, order: Seq[Column]): DataFrame = {
      graft.etl.StatOps.withRowNumber(base, Seq("__shard"), order, "__rn")
        .withColumn("__b", ((col("__rn") - 1L) / batchSize).cast("long"))
        .groupBy(col("__shard"), col("__b"))
        .agg(count(lit(1)).as("__c"), max(col("__nt")).as("__mx"),
          sum(col("__nt")).as("__s"))
        .agg(count(lit(1)).as("n_batches"),
          sum(col("__s")).as("real_tokens"),
          sum(col("__mx") * col("__c")).as("padded_tokens"))
        .select(lit(name).as("strategy"), col("n_batches"),
          col("real_tokens"), col("padded_tokens"),
          round(lit(1.0) - col("real_tokens").cast("double") /
            col("padded_tokens").cast("double"), 9).as("waste_ratio"))
    }
    strat("arrival", Seq(col("__id")))
      .unionByName(strat("length_sorted", Seq(col("__nt"), col("__id"))))
  }

  /** Greedy longest-match subword tokenization per document: one
    * codegen'd kernel pass ([[graft.functions.SubwordTokens]]) over the
    * normalized word stream — scan-side, shuffle-free. Emits the token
    * count (what packing/mixture budgeting meters) and an md5 pin of
    * the exact token sequence (order-sensitive, '|'-joined), so the
    * oracle checks the tokenization itself, not just its length.
    */
  def subwordTokens(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.VectorExpressions.register(df.sparkSession)
    df.select(col(idCol), words(col(textCol)).as("__w"))
      .withColumn("__toks",
        expr("graft_subword_tokens(filter(__w, x -> x <> ''))"))
      .select(col(idCol),
        size(col("__toks")).cast("long").as("n_subwords"),
        md5(array_join(col("__toks"), "|")).as("tokens_md5"))
  }

  /** Bigram language-model quality score — the n-gram step up from
    * [[lmScore]]'s unigram model: every document's mean negative
    * log-likelihood under add-1-smoothed bigram probabilities trained
    * on the corpus itself, p(w2|w1) = (c(w1,w2)+1) / (prefix(w1)+V).
    * Word order now matters (scrambled text scores worse than fluent
    * text with the same unigram profile — exactly what the unigram
    * model cannot see).
    *
    * Plan shape: bigram extraction is scan-side; the two count tables
    * shuffle on (w1,w2) / w1 — the same term-keyed aggregates as
    * TF-IDF with AQE handling hot-prefix skew; V is a 1-row broadcast.
    * Determinism: per-bigram −ln rounds to 9 dp, per-doc sums fold as
    * DECIMAL(27,9), one double division — the lmScore contract.
    */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val pairs = df.select(col(idCol), words(col(textCol)).as("__w"))
      .filter(size(col("__w")) >= 2)
      .select(col(idCol), explode(expr(
        """transform(sequence(0, size(__w) - 2),
           i -> struct(element_at(__w, i + 1) AS w1, element_at(__w, i + 2) AS w2))"""))
        .as("__p"))
      .select(col(idCol), col("__p.w1").as("w1"), col("__p.w2").as("w2"))
      // eager (r17): the bigram stream feeds BOTH count tables and the
      // scoring join — three corpus explodes collapse to one (multiply
      // referenced before the first action, so the lazy form is unsafe)
      .localCheckpoint()
    val bigramCounts = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val prefixCounts = pairs.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = df.select(explode(words(col(textCol))).as("__t"))
      .agg(countDistinct(col("__t")).as("v"))
    pairs
      .join(bigramCounts, Seq("w1", "w2"))
      .join(prefixCounts, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("__nll",
        round(-log((col("c2") + 1).cast("double") / (col("c1") + col("v")).cast("double")), 9))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("__nll").cast(org.apache.spark.sql.types.DecimalType(27, 9)))
          .cast("double") / count(lit(1))).as("bigram_nll"))
  }

  // ---- BM25 ranked retrieval ----------------------------------------------

  /** Inverted-index postings: one row per (term, doc, term-frequency),
    * carrying the doc length so scoring never re-touches the corpus.
    * Two shuffled aggregates (dl per doc, tf per (doc, term)) that share
    * the doc-id partitioning; the result is the postings-list layout
    * every search engine persists — build once at ingest, probe per
    * query (the ANN index tier's build/serve split, applied to text).
    */
  def buildInvertedIndex(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // `split("")` yields [""] — drop it so an empty/whitespace doc has
    // NO postings (which also makes an empty re-crawl a deletion in
    // mergeInvertedIndex); non-empty docs never produce empty tokens
    // (normText collapses+trims whitespace)
    val toks = df.select(col(idCol), explode(words(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .join(dl, idCol)
      .select(col("term"), col(idCol), col("tf"), col("dl"))
  }

  /** Corpus-level stats the scorer needs besides the postings: doc
    * count and summed doc length (avgdl derives as a double division of
    * these two exact integers — no float aggregate to diverge).
    */
  def corpusStats(postings: DataFrame, idCol: String): DataFrame =
    postings.groupBy(col(idCol)).agg(first(col("dl")).as("__dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__dl")).cast("long").as("sum_dl"))

  /** Incremental inverted-index maintenance — the text twin of the
    * near-dup fingerprint index's probe path, and the U2 upsert
    * discipline applied to the index tier: merge a delta corpus into a
    * persisted (postings, stats) pair without re-tokenizing the stored
    * corpus. A delta doc_id already in the index is a re-crawl — its
    * old postings are replaced wholesale (delta ids anti-join the
    * stored postings; the delta id set broadcasts, so the "removal" is
    * a scan-side filter of the index, never an index shuffle); unseen
    * ids append. Stats update by exact counter deltas (− re-crawled
    * docs' (1, dl), + delta docs' (1, dl)) — the 100 TB index is never
    * re-aggregated. A re-crawl that tokenizes to zero words is a
    * deletion: its postings vanish and the counters drop it.
    *
    * Contract (Round9Spec + the text_index_merge oracle): serving the
    * merged index ≡ rebuilding from the union corpus, postings-for-
    * postings and stat-for-stat.
    */
  def mergeInvertedIndex(postings: DataFrame, stats: DataFrame,
      deltaDocs: DataFrame, idCol: String, textCol: String): (DataFrame, DataFrame) = {
    val deltaPosts = buildInvertedIndex(deltaDocs, idCol, textCol)
    val deltaIds = deltaDocs.select(col(idCol)).distinct()
    // the using-column anti join reorders doc_id first; restore the
    // (term, id, tf, dl) postings layout so merged ≡ built column-for-column
    val merged = postings.join(broadcast(deltaIds), Seq(idCol), "left_anti")
      .select(col("term"), col(idCol), col("tf"), col("dl"))
      .unionByName(deltaPosts)
    val removed = postings.join(broadcast(deltaIds), Seq(idCol), "left_semi")
      .groupBy(col(idCol)).agg(first(col("dl")).as("__dl"))
      .agg(count(lit(1)).as("__rm_docs"),
        coalesce(sum(col("__dl")), lit(0L)).cast("long").as("__rm_dl"))
    val added = deltaPosts
      .groupBy(col(idCol)).agg(first(col("dl")).as("__dl"))
      .agg(count(lit(1)).as("__add_docs"),
        coalesce(sum(col("__dl")), lit(0L)).cast("long").as("__add_dl"))
    val mergedStats = stats.crossJoin(broadcast(removed)).crossJoin(broadcast(added))
      .select(
        (col("n_docs") - col("__rm_docs") + col("__add_docs")).as("n_docs"),
        (col("sum_dl") - col("__rm_dl") + col("__add_dl")).cast("long").as("sum_dl"))
    (merged, mergedStats)
  }

  /** BM25 top-k over postings already filtered to the query's terms.
    * Every input to the score is an integer (tf, dl, df, N, sum_dl), so
    * both engines evaluate the identical IEEE expression; the one
    * transcendental (ln) gets bit-identical operands, each per-term
    * score rounds once to 9 dp, and the per-doc sum is an exact
    * DECIMAL(27,9) fold — the established cross-engine float contract.
    * Constants k1=1.2, b=0.75 are fixed so the formula text (and thus
    * literal binary doubles) can match the oracle exactly.
    *
    * Plan shape: df(term) is a tiny per-term count off the filtered
    * postings; the scoring join broadcasts it; ranking is
    * TakeOrderedAndProject (orderBy.limit) — never a single-partition
    * window over all matching docs — with row_number applied only to
    * the k survivors.
    */
  def bm25RankFromPostings(postings: DataFrame, stats: DataFrame,
      idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df_docs"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df_docs") + lit(0.5)) / (col("df_docs") + lit(0.5)))
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val sat = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl)))
    val scored = postings
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("__score_t", round(idf * sat, 9))
      .groupBy(col(idCol))
      .agg(sum(col("__score_t").cast(org.apache.spark.sql.types.DecimalType(27, 9)))
        .cast("double").as("score"))
    val topk = scored.orderBy(col("score").desc, col(idCol)).limit(k)
    topk.withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col(idCol))).cast("long"))
      .select(col("rank"), col(idCol), col("score"))
  }

  /** End-to-end BM25 (tokenize → postings → score) for the from-corpus
    * query; the serve path reads persisted postings instead and joins
    * the same scorer.
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int): DataFrame = {
    val postings = buildInvertedIndex(df, idCol, textCol)
    val stats = corpusStats(postings, idCol)
    bm25RankFromPostings(postings.filter(col("term").isInCollection(queryTerms)),
      stats, idCol, k)
  }

  /** BM25 with pseudo-relevance feedback (Rocchio/RM1-lite, two
    * rounds): score the base query, take the top `feedbackK` docs as
    * the feedback set, pick the `expandE` terms with the highest
    * summed tf inside it (base terms excluded; ties by term — all
    * integer evidence, so the expansion set is deterministic), then
    * re-score with base ∪ expansion. The classic recall lever when
    * queries underspecify (the expansion terms are whatever the
    * corpus itself says co-occurs with the hits).
    *
    * Serve-shaped: takes the PERSISTED postings/stats (the
    * `ensureTextIndex` artifact — ingest builds, queries probe), and
    * every stage is term-keyed: base scoring touches base-term
    * postings only, the feedback tf scan is an idCol-broadcast semi
    * join (feedbackK rows), final scoring touches the ≤ |base|+E term
    * postings. Nothing rescans the corpus text.
    */
  def bm25Prf(postings: DataFrame, stats: DataFrame, idCol: String,
      baseTerms: Seq[String], feedbackK: Int = 5, expandE: Int = 3,
      k: Int = 25): DataFrame = {
    require(feedbackK >= 1 && expandE >= 0)
    val base = bm25RankFromPostings(
      postings.filter(col("term").isInCollection(baseTerms)), stats, idCol,
      feedbackK)
    val fb = base.select(col(idCol))
    val exp = postings.join(broadcast(fb), idCol)
      .filter(!col("term").isInCollection(baseTerms))
      .groupBy(col("term")).agg(sum(col("tf")).as("__w"))
      .orderBy(col("__w").desc, col("term")).limit(expandE)
      .select(col("term"))
    val spark = postings.sparkSession
    import spark.implicits._
    val qt = baseTerms.toDF("term").unionByName(exp).distinct()
    bm25RankFromPostings(postings.join(broadcast(qt), "term"), stats, idCol, k)
  }

  /** Batch BM25: a whole query TABLE (query_id, term) scores in one
    * pass — the broadcast query set probes the postings on the term
    * key, df(term) comes from the postings restricted to the query
    * vocabulary (a semi join, still term-keyed), and ranking windows
    * per query over candidates only. One postings shuffle serves every
    * query simultaneously — the batch-serving shape, not q sequential
    * searches.
    */
  def bm25MultiRank(postings: DataFrame, stats: DataFrame,
      queryTerms: DataFrame, idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // dedupe the query table too, not just its vocabulary: a repeated
    // (query_id, term) row would silently double-count that term's
    // score in the per-doc fold
    val qt = queryTerms.select(col("query_id"), col("term")).distinct()
    val vocab = qt.select(col("term")).distinct()
    val hits = postings.join(broadcast(vocab), "term")
    val dfreq = hits.groupBy(col("term")).agg(count(lit(1)).as("df_docs"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df_docs") + lit(0.5)) / (col("df_docs") + lit(0.5)))
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val sat = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl)))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col(idCol))
    hits
      .join(broadcast(qt), "term")
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("__score_t", round(idf * sat, 9))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("__score_t").cast(org.apache.spark.sql.types.DecimalType(27, 9)))
        .cast("double").as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol), col("score"))
  }

  // ---- BPE tokenizer induction -------------------------------------------

  /** Learn `rounds` byte-pair-encoding merges over the corpus (Sennrich
    * et al. 2016): reduce the corpus to a word-frequency table, spell
    * each word as '|'-delimited symbols ("low" → "|l|o|w|"), and per
    * round (a) count adjacent symbol pairs weighted by word frequency,
    * (b) pick the most frequent pair (ties: lexicographic), (c) rewrite
    * every occurrence "|a|b|" → "|ab|". The rewrite is `replace` applied
    * to fixpoint (5 nested passes — a word of ≤64 chars converges in
    * ≤6): a single left-to-right pass misses the second of two touching
    * occurrences because the shared '|' delimiter is consumed by the
    * first match. Returns the learned merge table (round, left_sym,
    * right_sym, pair_cnt).
    *
    * Scale posture (100 TB): the corpus-size work is the initial word
    * count — one map-side-combining aggregate; every merge round runs
    * over the DISTINCT-word table (vocabulary-bounded, not corpus-
    * bounded) with one pair-count shuffle and a broadcast 1-row merge
    * rule. This is exactly how production BPE trainers scale: corpus →
    * word histogram once, then iterate on the histogram.
    */
  def bpeMerges(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1)
    var words = docs
      .select(explode(expr(s"regexp_extract_all(lower($textCol), '[a-z]+', 0)")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(concat(lit("|"), regexp_replace(col("word"), "(.)", "$1|")).as("seq"),
        col("cnt"))
      .localCheckpoint()
    val merges = Seq.newBuilder[DataFrame]
    var exhausted = false
    for (r <- 1 to rounds if !exhausted) {
      val best = words
        .withColumn("__syms", expr("filter(split(seq, '\\\\|'), x -> x != '')"))
        .filter(size(col("__syms")) >= 2)
        .select(col("cnt"), explode(expr(
          """transform(sequence(1, size(__syms) - 1),
               i -> struct(__syms[i - 1] AS l, __syms[i] AS r))""")).as("p"))
        .groupBy(col("p.l").as("left_sym"), col("p.r").as("right_sym"))
        .agg(sum(col("cnt")).as("pair_cnt"))
        .orderBy(col("pair_cnt").desc, col("left_sym"), col("right_sym"))
        .limit(1)
        .select(lit(r.toLong).as("merge_round"), col("left_sym"), col("right_sym"),
          col("pair_cnt"))
        .localCheckpoint()
      // a fully-merged vocabulary has no adjacent pairs left: stop
      // instead of cross-joining an empty rule (which would wipe the
      // histogram) — the output then has fewer than `rounds` rows
      if (best.isEmpty) { exhausted = true }
      else {
      merges += best
      val rule = broadcast(best.select(
        concat(lit("|"), col("left_sym"), lit("|"), col("right_sym"), lit("|")).as("__pat"),
        concat(lit("|"), col("left_sym"), col("right_sym"), lit("|")).as("__rep")))
      val merged = Iterator.iterate(col("seq"))(s =>
        replace(s, col("__pat"), col("__rep"))).drop(5).next()
      words = words.crossJoin(rule)
        .select(merged.as("seq"), col("cnt"))
        .localCheckpoint()
      }
    }
    val ms = merges.result()
    require(ms.nonEmpty, "corpus has no adjacent symbol pairs to merge")
    ms.reduce(_ unionByName _).orderBy(col("merge_round"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): score each
    * document with the corpus unigram LM ([[lmScore]]), then cut each
    * language at its own 33rd/67th avg-NLL percentiles into head /
    * middle / tail buckets — the standard crawl-quality partition
    * (head trains, middle is kept as backoff, tail is dropped or
    * down-weighted). Per-language thresholds matter: absolute NLL is
    * not comparable across languages, so a global cut would silently
    * discard whole low-resource languages.
    *
    * Scale posture: lmScore is term-keyed (corpus text never
    * reshuffles); the thresholds come from [[graft.etl.StatOps
    * .percentiles]]' distributed CDF (bounded per-task state — a
    * builtin `percentile` over a 100 TB score column is the exact
    * single-buffer hazard StatOps exists to avoid) and broadcast back
    * as one row per language. Bucket assignment is scan-side.
    *
    * Determinism: avg_nll is a 6 dp rounded double in both engines;
    * the interpolated thresholds are bit-identical to `quantile_cont`
    * (StatOps contract), so boundary comparisons cannot disagree.
    */
  def ccnetBuckets(df: DataFrame, idCol: String, textCol: String,
      langCol: String): DataFrame = {
    // lazy checkpoint: `scored` feeds the threshold CDF AND the bucket
    // join — without it the whole term-keyed LM pass runs twice; the
    // percentiles' eager histogram checkpoint is the first action over
    // it, so it materializes there (narrow per-doc rows) at no extra job
    val scored = lmScore(df, idCol, textCol)
      .join(df.select(col(idCol), col(langCol)), idCol)
      .localCheckpoint(eager = false)
    val th = graft.etl.StatOps.percentiles(scored, Seq(langCol), "avg_nll",
      Seq(("p33", 1.0 / 3), ("p67", 2.0 / 3)))
    scored.join(broadcast(th), langCol)
      .withColumn("bucket",
        when(col("avg_nll") <= col("p33"), lit("head"))
          .when(col("avg_nll") <= col("p67"), lit("middle"))
          .otherwise(lit("tail")))
      .select(col(idCol), col(langCol), col("n_words"), col("avg_nll"),
        col("bucket"))
  }

  /** Per-source unigram KL divergence from the corpus language model —
    * the domain-analysis number behind "which sources even belong in
    * this mixture": a source whose token distribution sits far from
    * the corpus is either a contamination candidate or a diversity
    * win, and either way the mixture solver wants the number. Both
    * distributions are Laplace-smoothed over the corpus vocabulary;
    * the sum runs over terms PRESENT in the source (the standard
    * practical truncation — absent terms' mass is the smoothing floor
    * and their omission is documented, not hidden).
    *
    * Scale: one (source, term) aggregate, one term-keyed join of the
    * per-source cells against the corpus term counts (the corpus text
    * never reshuffles — term cells do); the per-source totals join on
    * the source key WITHOUT a broadcast hint — at web scale that frame
    * is one row per domain (millions), and the cell frame is already
    * source-keyed, so a shuffled join is the safe default and AQE
    * broadcasts it when it is actually small. Only the one-row corpus
    * total broadcasts unconditionally.
    * Determinism: p and q round to 9 dp before the ln; each
    * term's contribution rounds to 12 dp and sums as DECIMAL(38,12)
    * (order-independent), one double division at the end.
    */
  def sourceKlDivergence(df: DataFrame, textCol: String,
      srcCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 12)
    val terms = df.select(col(srcCol), explode(words(col(textCol))).as("__t"))
    val st = terms.groupBy(col(srcCol), col("__t"))
      .agg(count(lit(1)).as("__cst"))
      .localCheckpoint() // three aggregates below share it
    val corpus = st.groupBy(col("__t")).agg(sum(col("__cst")).as("__ct"))
    val perSrc = st.groupBy(col(srcCol))
      .agg(sum(col("__cst")).as("__ns"), count(lit(1)).as("__vs"))
    val tot = corpus.agg(sum(col("__ct")).as("__n"),
      count(lit(1)).as("__v"))
    st.join(corpus, "__t")
      .join(perSrc, srcCol)
      .crossJoin(broadcast(tot))
      .withColumn("__p",
        round((col("__cst") + 1).cast("double") / (col("__ns") + col("__v")), 9))
      .withColumn("__q",
        round((col("__ct") + 1).cast("double") / (col("__n") + col("__v")), 9))
      .groupBy(col(srcCol))
      .agg(first(col("__ns")).as("n_tokens"),
        first(col("__vs")).as("n_terms"),
        round(sum(round(col("__p") * log(col("__p") / col("__q")), 12)
          .cast(dec)).cast("double"), 9).as("kl"))
  }

  /** Length-bucketed batching layout: assign each document the smallest
    * power-of-two token bucket ≥ its whitespace token count (floor 16,
    * cap 2^20) — the padding-minimizing batch grouping every trainer
    * uses, with the padding-waste fraction as the reported metric.
    * Pure integer arithmetic over a 17-element literal array (no
    * `log2`, whose libm rounding at exact powers could differ between
    * engines), scan-side and shuffle-free.
    */
  def lengthBuckets(df: DataFrame, idCol: String, textCol: String): DataFrame =
    lengthBucketsFromLengths(
      df.select(col(idCol), size(words(col(textCol))).cast("long").as("n_words")))

  /** [[lengthBuckets]] from a pre-computed (id, n_words) length frame —
    * the per-doc token count is the canonical ingest-time silver scalar
    * (the `ensureDocStats` doctrine); bucketing stays in the query.
    */
  def lengthBucketsFromLengths(lengths: DataFrame): DataFrame = {
    val bucketSizes = (4 to 20).map(i => lit(1L << i))
    val capped = least(greatest(col("n_words"), lit(1L)), lit(1L << 20))
    lengths.withColumn("bucket_size",
      array_min(filter(array(bucketSizes: _*), b => b >= capped)))
  }

  /** Per-group word-trigram diversity audit — the "is this source
    * template spam?" readout a training-mix owner checks before
    * weighting it up. For each group: total and distinct trigram
    * counts, type–token ratio (distinct/total — collapses toward 0 on
    * boilerplate), the single most frequent trigram's share, and the
    * Herfindahl concentration Σ shareᵢ² (1 = one trigram repeated,
    * →1/k = uniform over k trigrams). Herfindahl over Shannon entropy
    * deliberately: it needs only exact integer sums and one division —
    * no runtime log, so the number is engine-exact (the RA-over-
    * Adamic-Adar argument). Two map-side-combined aggregates
    * (group×trigram counts, then per-group moments); Σn² accumulates
    * in DECIMAL(38,0) — a degenerate one-trigram group at corpus scale
    * would overflow BIGINT.
    */
  def triDiversity(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val tf = df
      .select(col(groupCol), words(col(textCol)).as("__w"))
      .filter(size(col("__w")) >= 3)
      .select(col(groupCol), explode(expr(
        "transform(sequence(0, size(__w) - 3), " +
          "i -> concat_ws(' ', __w[i], __w[i+1], __w[i+2]))")).as("__tri"))
      .groupBy(col(groupCol), col("__tri"))
      .agg(count(lit(1)).as("__n"))
    tf.groupBy(col(groupCol))
      .agg(sum(col("__n")).as("n_tri"),
        count(lit(1)).as("n_distinct"),
        max(col("__n")).as("__top"),
        // cast an OPERAND before multiplying: the product is then
        // computed in decimal arithmetic, so a degenerate one-trigram
        // group at corpus scale (n > ~3e9) cannot wrap in LongType
        // before the widening (ADVICE r11)
        sum(col("__n").cast(DecimalType(38, 0)) * col("__n")).as("__s2"))
      .withColumn("ttr",
        round(col("n_distinct").cast("double") / col("n_tri").cast("double"), 9))
      .withColumn("top_share",
        round(col("__top").cast("double") / col("n_tri").cast("double"), 9))
      .withColumn("herfindahl",
        round(col("__s2").cast("double") /
          (col("n_tri").cast("double") * col("n_tri").cast("double")), 9))
      .drop("__top", "__s2")
  }

  /** Winnowing fingerprints (the MOSS local-fingerprinting scheme,
    * Schleimer et al., SIGMOD'03): per doc, k-word-gram rolling hashes,
    * a sliding window of `w` consecutive gram hashes, the MINIMUM hash
    * per window kept as a fingerprint, distinct per doc — then the
    * shared-fingerprint mass per doc against the corpus. The two
    * winnowing guarantees are what make this THE partial-overlap
    * detector at scale: (1) density — expected fingerprints per doc are
    * ~2/(w+1) of its grams, so the index is a small fixed fraction of
    * the corpus regardless of doc length; (2) coverage — any shared
    * run of at least w+k−1 words shares at least one fingerprint, so
    * sufficiently long plagiarized/boilerplate spans are NEVER missed
    * (unlike sampled shingles). Complements [[withFingerprint]] (one
    * global rolling hash per doc: exact-dup keying) and the dup-spans
    * counter (every span counted, no density bound). One explode +
    * hash aggregate + join-back — the dup-spans dataflow, pair-free.
    * Hashes are the md5-60-bit family shared verbatim with the oracle.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4): DataFrame =
    // consumed twice (doc-frequency aggregate + join-back) — the
    // dup-spans/groupedCdf checkpoint lesson
    winnowFingerprintsFromPostings(
      winnowPostings(df, idCol, textCol, k, w).localCheckpoint(), idCol)

  /** [[winnowFingerprints]] from a pre-built [[winnowPostings]] frame
    * (typically an ingest-time parquet artifact — the md5-per-gram
    * hashing is the dominant cost of the live op and is shared verbatim
    * by the pair product, so one staged posting frame serves both).
    */
  def winnowFingerprintsFromPostings(fps: DataFrame, idCol: String): DataFrame =
    PostingIndex.sharedKeyRatio(fps, idCol, "__fp", "n_fps", "n_shared", "shared_ratio")

  /** Per-doc DISTINCT winnow fingerprints as (id, __fp) posting rows —
    * the shared stem of the per-doc signal ([[winnowFingerprints]]) and
    * the pair product ([[winnowPairs]]).
    */
  def winnowPostings(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4): DataFrame = {
    df.select(col(idCol), words(col(textCol)).as("__w"))
      .filter(size(col("__w")) >= k + w - 1)
      .select(col(idCol), gramHashes60(k).as("__h"))
      .select(col(idCol), explode(expr(
        s"""array_distinct(transform(sequence(0, size(__h) - $w),
            i -> array_min(slice(__h, i + 1, $w))))""")).as("__fp"))
  }

  /** Winnow-fingerprint PAIR product — the plagiarism/boilerplate pair
    * detector the per-doc `shared_ratio` signal points at: pairs of
    * docs sharing ≥ `minShared` winnow fingerprints, with the shared
    * count and the containment-style overlap (shared / min fingerprint
    * count — 1.0 means the smaller doc's fingerprint set is fully
    * inside the larger's, the quotation/wrapper case). The winnowing
    * coverage guarantee makes the propose span-complete: any shared
    * run ≥ w+k−1 words shares a fingerprint, so a long-enough lifted
    * span ALWAYS surfaces its pair — the recall argument the MinHash
    * bands (whole-doc similarity) cannot make for short spans in long
    * docs. Scale contract: fingerprints in more than `maxDf` docs are
    * dropped from pair generation (boilerplate fingerprints carry no
    * pair signal — the containment df-cap contract, loud in the
    * signature), so pair volume is Σ df² ≤ maxDf · |postings|, linear
    * in the corpus; df=1 fingerprints skip the join entirely.
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      minShared: Int, maxDf: Int = 20, k: Int = 4, w: Int = 4): DataFrame =
    winnowPairsFromPostings(
      winnowPostings(df, idCol, textCol, k, w).localCheckpoint(),
      idCol, minShared, maxDf)

  /** [[winnowPairs]] from a pre-built [[winnowPostings]] frame (the
    * staged-artifact twin — see [[winnowFingerprintsFromPostings]]).
    */
  def winnowPairsFromPostings(fps: DataFrame, idCol: String,
      minShared: Int, maxDf: Int = 20): DataFrame = {
    require(minShared >= 1 && maxDf >= 2,
      s"need minShared >= 1 and maxDf >= 2, got ($minShared, $maxDf)")
    val totals = fps.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    val dfreq = fps.groupBy(col("__fp")).agg(count(lit(1)).as("__df"))
    val keep = fps.join(dfreq.filter(col("__df").between(2, maxDf)), "__fp")
    PostingIndex.selfJoin(keep, idCol, Seq("__fp"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(totals.select(col(idCol).as("doc_a"), col("__n").as("__na")), "doc_a")
      .join(totals.select(col(idCol).as("doc_b"), col("__n").as("__nb")), "doc_b")
      .withColumn("overlap", round(col("n_shared").cast("double") /
        least(col("__na"), col("__nb")).cast("double"), 9))
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("overlap"))
  }

  /** Sliding word n-gram SPAN postings — one row per span occurrence:
    * (id, __h) with __h the 60-bit md5-prefix hash of the space-joined
    * n-word gram. The shared ingest projection of the span-granular
    * dup metering (`text_dup_spans`): hashing every sliding n-gram is
    * the dominant cost of the live op and is a pure function of the
    * corpus, so an ingest pass persists it once (the winnowPostings
    * recipe) and the counting query reads parquet. Docs under n words
    * carry no span and are excluded by construction.
    */
  def spanPostings(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"span width must be positive, got $n")
    df.select(col(idCol), words(col(textCol)).as("__w"))
      .filter(size(col("__w")) >= n)
      .select(col(idCol), explode(gramHashes60(n)).as("__h"))
  }

  /** The 60-bit hash of every sliding n-word gram of the `__w` words
    * array, in order: the first 15 hex digits of md5 over the
    * space-joined gram — the family the oracle replays verbatim.
    */
  private def gramHashes60(n: Int): Column = {
    val grams = (0 until n).map(j => s"__w[i+$j]").mkString(", ")
    expr(s"""transform(sequence(0, size(__w) - $n),
      i -> cast(conv(substring(md5(concat_ws(' ', $grams)), 1, 15), 16, 10) AS BIGINT))""")
  }

  /** Per-doc duplicated-span stats from a [[spanPostings]] frame (live
    * or staged): for every document, the fraction of its spans that
    * also occur in at least one OTHER document — span-granular
    * contamination (Lee et al. exact-substring metering). Entirely
    * linear: hash-keyed doc-frequency aggregate + one join-back +
    * per-doc aggregate; no pair is ever listed.
    */
  def dupSpanStatsFromPostings(postings: DataFrame, idCol: String): DataFrame =
    PostingIndex.sharedKeyRatio(postings, idCol, "__h", "n_spans", "n_dup", "dup_ratio")

  /** Live twin of the staged span-counting path: hash + count in one
    * query (the posting frame is consumed twice — doc-frequency
    * aggregate + join-back — hence the checkpoint).
    */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    dupSpanStatsFromPostings(
      spanPostings(df, idCol, textCol, n).localCheckpoint(), idCol)
}
