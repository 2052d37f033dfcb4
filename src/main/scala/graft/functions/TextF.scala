package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.KernelCall

/** Text-analysis scalar surface for the training-data-pipeline extension ops
  * (tokenization, quality scoring, language-ID, fingerprinting, shingling).
  *
  * Everything here is built from `org.apache.spark.sql.functions._` or
  * kernel calls ([[graft.plans.KernelCall]] of the kernels in
  * `TextKernels.scala` and `InRowModels.scala`) — no UDFs — so a 100 TB
  * documents scan keeps whole-stage codegen end-to-end and the work
  * parallelizes per input split with zero shuffles. Where a built-in
  * higher-order function (filter/aggregate — INTERPRETED in Catalyst)
  * sat on the per-token hot path, a kernel replaced it with
  * the composed form kept as the spec-asserted reference
  * (TokenStatSpec).
  *
  * All ratio math is pure IEEE-754 over exactly-computed integers with the
  * same expression tree as the DuckDB oracle SQL (graft.queries.ExtQueries),
  * so results are bit-identical without rounding fudge.
  */
object TextF {

  /** Whitespace tokenizer: trim then split on runs of whitespace.
    * Empty/whitespace-only input tokenizes to an EMPTY array (a bare
    * split("") would yield [""], a phantom token); NULL stays NULL.
    * Since round 9 this is the byte-level scanner kernel
    * ([[WsTokens]]) — identical semantics to the composed
    * trim+split form (including its leading/trailing-empty-token quirks
    * for non-space whitespace at the ends), property-proven in
    * `WsTokensSpec`; no java.util.regex on any tokenizing scan. */
  def tokens(text: Column): Column =
    KernelCall.column("ws_tokens", WsTokens, "compute", StringArray,
      Seq(text -> StringType))

  private val StringArray = ArrayType(StringType, containsNull = false)
  private val Tokens = ArrayType(StringType)

  /** The composed reference form of [[tokens]], kept for the
    * equivalence spec. */
  def tokensComposed(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  def lowerTokens(text: Column): Column = tokens(lower(text))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** English-ish stopword list shared with the DuckDB oracle (keep in sync
    * with the SQL in `graft.queries.ExtQueries`). */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "that")

  /** Fused corpus-clean transform — mask emails then URLs then
    * trim+collapse whitespace — as the single-pass scanner kernel
    * ([[TextMaskF.cleanText]]); property-proven equal to the
    * regexp_replace chain it replaces (`TextMaskSpec`). */
  def cleanText(text: Column): Column =
    KernelCall.column("clean_text", this, "cleanTextUtf8", StringType,
      Seq(text -> StringType))
  def cleanTextUtf8(s: UTF8String): UTF8String =
    UTF8String.fromString(TextMaskF.cleanText(s.toString))

  /** Extended PII-clean (r16): e-mails, URLs, phones, IPv4, then
    * trim+collapse — the [[TextMaskF.cleanTextPii]] scanner kernel;
    * scanner-vs-regex equality property-proven in `TextMaskSpec`. */
  def cleanTextPii(text: Column): Column =
    KernelCall.column("clean_text_pii", this, "cleanTextPiiUtf8", StringType,
      Seq(text -> StringType))
  def cleanTextPiiUtf8(s: UTF8String): UTF8String =
    UTF8String.fromString(TextMaskF.cleanTextPii(s.toString))

  /** Card-extended PII-clean (r18): e-mails, URLs, Luhn-checked credit
    * cards, phones, IPv4, then trim+collapse — the
    * [[TextMaskF.cleanTextPiiCard]] scanner kernel; the card arm has no
    * regex equivalent (Luhn), so `TextMaskSpec` property-checks the
    * scanner against a candidate-extractor + integer-checksum
    * reference and the adversarial oracle restates planted outcomes
    * through SQL integer arithmetic. */
  def cleanTextPiiCard(text: Column): Column =
    KernelCall.column("clean_text_pii_card", this, "cleanTextPiiCardUtf8",
      StringType, Seq(text -> StringType))
  def cleanTextPiiCardUtf8(s: UTF8String): UTF8String =
    UTF8String.fromString(TextMaskF.cleanTextPiiCard(s.toString))

  /** In-row character-bigram histogram `(term, tf)` of a string — the
    * [[CharBigramHistogram]] kernel (`x_lang_id`'s scan stage; the
    * composed transform+substring HOF pays an interpreted lambda per
    * character). */
  def charBigramHistogram(text: Column): Column =
    KernelCall.column("char_bigram_histogram", CharBigramHistogram,
      "compute", TermHistogram.OutType, Seq(text -> StringType))

  /** Raw code-point bigram instances of a string (no histogram) — the
    * [[CharBigrams]] kernel; feed it to an aggregating consumer whose
    * partial aggregate does the collapse. */
  def charBigrams(text: Column): Column =
    KernelCall.column("char_bigrams", CharBigrams, "compute", StringArray,
      Seq(text -> StringType))

  /** Count of tokens belonging to a small constant word set, as one
    * single-pass kernel call ([[TokenSetCount]]). */
  def tokenSetCount(lt: Column, words: Seq[String]): Column =
    KernelCall.column("token_set_count", TokenSetCount, "compute",
      IntegerType, Seq(lt -> Tokens), Seq(TokenSetCount.wordSet(words)))

  /** Composed (interpreted-HOF) reference form of [[tokenSetCount]],
    * kept for the equivalence spec. */
  def tokenSetCountComposed(lt: Column, words: Seq[String]): Column =
    size(filter(lt, t => t.isin(words: _*)))

  /** stopword tokens / all tokens; NULL for empty docs (0/0 guarded). */
  def stopwordRatio(text: Column): Column = {
    val toks = lowerTokens(text)
    tokenSetCount(toks, Stopwords).cast("double") /
      nullif(size(toks), lit(0)).cast("double")
  }

  /** Ratio of characters that are neither alphanumeric nor whitespace;
    * NULL for empty docs. */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[a-zA-Z0-9\\s]", "")).cast("double") /
      nullif(length(text), lit(0)).cast("double")

  /** Heuristic quality score in [0,1]: token-volume saturation damped by
    * punctuation density (same closed formula mirrored in the oracle SQL). */
  def qualityScore(text: Column): Column =
    least(lit(1.0), tokenCount(text).cast("double") / lit(100.0)) *
      (lit(1.0) - punctRatio(text))

  /** Language marker-word tables for the stopword language-ID heuristic.
    * Deterministic argmax with fixed priority en>de>es>fr. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "a"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "et", "les", "un", "est"))

  def markerHits(text: Column, markers: Seq[String]): Column =
    tokenSetCount(lowerTokens(text), markers)

  /** NULL text → NULL language (not "fr" via the otherwise fallthrough). */
  def langId(text: Column): Column = {
    val Seq(e, g, s, f) = LangMarkers.map { case (_, m) => markerHits(text, m) }
    when(text.isNull, lit(null).cast("string"))
      .when(e >= g && e >= s && e >= f, "en")
      .when(g >= s && g >= f, "de")
      .when(s >= f, "es")
      .otherwise("fr")
  }

  // --- materialized-token variants (hot-path form: tokenize once via a
  // projected column, then compute everything from the bound array) ---

  /** stopwordRatio over a materialized lowercase-token column. */
  def stopwordRatioT(lt: Column): Column =
    tokenSetCount(lt, Stopwords).cast("double") /
      nullif(size(lt), lit(0)).cast("double")

  /** qualityScore from a materialized token column + raw text. */
  def qualityScoreT(t: Column, text: Column): Column =
    least(lit(1.0), size(t).cast("double") / lit(100.0)) *
      (lit(1.0) - punctRatio(text))

  /** langId over a materialized lowercase-token column. */
  def langIdT(text: Column, lt: Column): Column = {
    val Seq(e, g, s, f) = LangMarkers.map { case (_, m) =>
      tokenSetCount(lt, m)
    }
    when(text.isNull, lit(null).cast("string"))
      .when(e >= g && e >= s && e >= f, "en")
      .when(g >= s && g >= f, "de")
      .when(s >= f, "es")
      .otherwise("fr")
  }

  /** BPE-ish subword tokenization proxy: count of maximal runs of
    * letters / digits / single punctuation marks (the coarse character
    * classes BPE pre-tokenizers split on). Same RE2-compatible pattern as
    * the oracle; codegen'd regexp_count, no UDF. */
  val SubtokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def subtokenCount(text: Column): Column =
    regexp_count(text, lit(SubtokenPattern))

  /** Polynomial rolling hash over the lowercase token stream:
    * h = fold(tokens, 0, (acc, t) → (acc·B + md5prefix(t)) mod P).
    * Order-sensitive (unlike the md5 content fingerprint) — equal only
    * for equal token sequences; engine-independent via the md5-prefix
    * token hash. B < 2^20 and P > 2^32 keep acc·B + h < 2^52 (no 64-bit
    * overflow in either engine). `lt` must be a materialized token
    * column. */
  val RollB = 1000003L
  val RollP = 4294967311L
  def rollingHash(lt: Column): Column =
    KernelCall.column("rolling_token_hash", RollingTokenHash, "compute",
      LongType, Seq(lt -> Tokens), Seq(RollB, RollP), returnNullable = true)

  /** Composed (interpreted-HOF) reference form of [[rollingHash]], kept
    * for the equivalence spec: the `aggregate` lambda re-evaluates the
    * md5→substring→conv tree interpreted per token. */
  def rollingHashComposed(lt: Column): Column =
    aggregate(lt, lit(0L), (acc, t) =>
      (acc * RollB + conv(substring(md5(t.cast("binary")), 1, 8), 16, 10)
        .cast("long")) % RollP)

  /** Canonical whitespace-collapsed lowercase form used for fingerprinting
    * and exact dedup. */
  def normalized(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Document fingerprint: md5 of the normalized text. Content-addressed,
    * engine-independent (matches DuckDB md5 byte-for-byte). */
  def fingerprint(text: Column): Column = md5(normalized(text).cast("binary"))

  /** Word k-shingles over an ALREADY-MATERIALIZED token-array column.
    *
    * `toks` must be a bound column (e.g. projected via
    * `.withColumn("toks", lowerTokens($"text"))`), not a raw tokenizer
    * expression: the lambda indexes it k times per element, and passing
    * the split(...) expression directly would re-run the regex split per
    * access — O(tokens²) work per document (measured 6× the entire
    * MinHash pipeline's cost).
    *
    * SECOND trap, downstream: never `explode` the shingle expression in
    * a projection that ALSO derives sibling columns from it (e.g.
    * `select(size(sh), explode(sh))`) — the Generate re-evaluates the
    * whole tokenize→shingle tree per EMITTED ELEMENT (~40× measured at
    * sf0.1, 25 s → 0.6 s). Either explode it as the projection's only
    * derived column, or `localCheckpoint()` the array column first and
    * explode the materialized attribute (the pairs queries do the
    * latter).
    *
    * Deterministic; empty array for docs shorter than k tokens.
    * Backed by the [[WordShingles]] kernel — the HOF form
    * (`transform(sequence…)` + `concat_ws`) evaluates interpreted per
    * emitted shingle. */
  def shinglesFromTokens(toks: Column, k: Int): Column = {
    require(k >= 1, s"word_shingles: shingle width must be ≥ 1, got $k")
    KernelCall.column("word_shingles", WordShingles, "compute", StringArray,
      Seq(toks -> Tokens), Seq(k))
  }

  /** One-expression convenience form — ONLY for tiny/test inputs; hot
    * paths must project tokens first (see [[shinglesFromTokens]]). */
  def wordShingles(text: Column, k: Int): Column =
    shinglesFromTokens(lowerTokens(text), k)

  def distinctShingles(text: Column, k: Int): Column =
    array_distinct(wordShingles(text, k))

  /** In-row term-frequency histogram `(term, tf)` over a token array —
    * the [[TermHistogram]] kernel. Use
    * this (exploded) instead of `explode(tokens) → groupBy(doc, term)`:
    * per-document counts are document-local, so the histogram keeps them
    * out of the hash aggregate and downstream operators see each doc's
    * DISTINCT terms weighted by `tf`, not every occurrence. */
  def termHistogram(toks: Column): Column =
    KernelCall.column("term_histogram", TermHistogram, "compute",
      TermHistogram.OutType, Seq(toks -> Tokens))

  // --- in-row scorers over a collected model (InRowModels.scala) ---

  /** How many of the array's strings are in `set` (`count_in_set`);
    * a NULL array counts 0. */
  def countInSet(arr: Column, set: Utf8Set): Column =
    KernelCall.column("count_in_set", CountInSet, "compute", LongType,
      Seq(arr -> Tokens), Seq(set), propagateNull = false)

  /** `nb_lang_score(s)`: struct<pred_lang, n_bigrams, score_q>; a NULL
    * string scores as the empty document. */
  def nbLangScore(s: Column, model: NbLangModel): Column =
    KernelCall.column("nb_lang_score", NbLangScore, "compute",
      NbLangScore.OutType, Seq(s -> StringType), Seq(model),
      propagateNull = false)

  /** `ngram_lm_sum(toks)`: struct<n_grams, sq> over the width-`width`
    * windows; NULL or short input gives (0, 0). */
  def ngramLmSum(toks: Column, model: NgramLmModel, width: Int): Column = {
    require(width >= 1, s"ngram_lm_sum: n-gram width must be ≥ 1, got $width")
    KernelCall.column("ngram_lm_sum", NgramLmSum, "compute",
      NgramLmSum.OutType, Seq(toks -> Tokens), Seq(model, width),
      propagateNull = false)
  }

  /** `tfidf_topk(toks)`: the top `k` (term, tf, score) by score DESC,
    * term ASC. */
  def tfidfTopK(toks: Column, model: TfidfModel, k: Int): Column = {
    require(k >= 1, s"tfidf_topk: top-k width must be ≥ 1, got $k")
    KernelCall.column("tfidf_topk", TfidfTopTerms, "compute",
      TfidfTopTerms.OutType, Seq(toks -> Tokens), Seq(model, k))
  }

  /** `bm25_topk(toks)`: the top `k` (term, tf, score) by BM25 score DESC,
    * term ASC. */
  def bm25TopK(toks: Column, model: Bm25Model, k: Int): Column = {
    require(k >= 1, s"bm25_topk: top-k width must be ≥ 1, got $k")
    KernelCall.column("bm25_topk", Bm25TopTerms, "compute",
      Bm25TopTerms.OutType, Seq(toks -> Tokens), Seq(model, k))
  }
}
