package graft.functions

import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

// The text kernels behind TextF's column functions: static Scala methods
// over Catalyst's internal types that interpreted and generated code both
// call through graft.plans.KernelCall.

/** Byte-level whitespace tokenizer with EXACTLY the semantics of the
  * composed Column form it replaces (`TextF.tokens`):
  *
  *   when(length(trim(text)) === 0, array())
  *     .otherwise(split(trim(text), "\\s+"))
  *
  * i.e. Spark `trim` strips 0x20 only from both ends; `split(_, "\\s+")`
  * is `Pattern.split(s, -1)`: a java-\s run at the start of the trimmed
  * string yields a LEADING empty token and a run at the end a TRAILING
  * one (both reachable via \t etc., which `trim` does not strip) —
  * quirks preserved, property-proven in `WsTokensSpec`.
  *
  * Why bytes: all six java-\s chars are single ASCII bytes, and UTF-8
  * multi-byte sequences never contain ASCII bytes, so the scan needs no
  * decode; each token is a zero-copy slice assembled with
  * `UTF8String.fromBytes(b, start, len)`. Replaces a per-row
  * java.util.regex split on every tokenizing query's scan (the sf10
  * table showed the regex queries losing to the comparator while the
  * codegen-kernel queries win).
  */
object WsTokens {
  @inline private def isWs(b: Byte): Boolean =
    b == 0x20 || b == 0x09 || b == 0x0A || b == 0x0B || b == 0x0C ||
      b == 0x0D

  def compute(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    var a = 0
    var b = bytes.length
    while (a < b && bytes(a) == 0x20) a += 1
    while (b > a && bytes(b - 1) == 0x20) b -= 1
    if (a == b) return new GenericArrayData(Array.empty[Any])
    val out = new java.util.ArrayList[UTF8String]()
    var i = a
    if (isWs(bytes(a))) out.add(UTF8String.EMPTY_UTF8) // leading \s run
    while (i < b) {
      while (i < b && isWs(bytes(i))) i += 1
      if (i < b) {
        val start = i
        while (i < b && !isWs(bytes(i))) i += 1
        out.add(UTF8String.fromBytes(bytes, start, i - start))
      } else out.add(UTF8String.EMPTY_UTF8) // trailing \s run
    }
    new GenericArrayData(out.toArray)
  }
}

/** `word_shingles(array<string>, k) → array<string>` — contiguous
  * k-token shingles joined with a single space, the n-gram unit behind
  * MinHash/LSH dedup, containment, PMI, and the bigram LM.
  *
  * WHY a kernel: the built-in form
  * (`transform(sequence(0, n-k), i -> concat_ws(" ", toks[i], …))`)
  * routes every shingle through Catalyst's INTERPRETED higher-order
  * machinery — one lambda-variable rebind plus a `concat_ws` eval tree
  * per emitted shingle (the same interpreted-HOF tax the term-histogram
  * kernel documents for `array_sort`). This is one static
  * JVM call per row: a tight loop of `UTF8String.concatWs` byte copies,
  * inlined into whole-stage codegen, so the shingle stream that feeds a
  * 100 TB dedup pass is produced at scan throughput.
  *
  * Fewer than k tokens → EMPTY array (same guard as the HOF form; no
  * descending-`sequence` trap). NULL array → NULL.
  * Reference scope: no text surface in the reference engine; this backs
  * the training-data-pipeline extension ops.
  */
object WordShingles {
  private val Sep = UTF8String.fromString(" ")

  /** The kernel: one call per row. */
  def compute(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) { toks(i) = arr.getUTF8String(i); i += 1 }
    val out = new Array[Any](n - k + 1)
    if (k == 2) {
      // bigram fast path: skip the window-copy loop
      i = 0
      while (i < n - 1) {
        out(i) = UTF8String.concatWs(Sep, toks(i), toks(i + 1))
        i += 1
      }
    } else {
      val win = new Array[UTF8String](k)
      i = 0
      while (i <= n - k) {
        var j = 0
        while (j < k) { win(j) = toks(i + j); j += 1 }
        out(i) = UTF8String.concatWs(Sep, win: _*)
        i += 1
      }
    }
    new GenericArrayData(out)
  }
}

/** `token_set_count(array<string>) → int` — how many elements of a token
  * array belong to a small constant word set (stopword counting, the
  * language-ID marker hits). Replaces `size(filter(lt, t.isin(words)))`,
  * which Catalyst evaluates INTERPRETED (higher-order functions have no
  * codegen): the text-stats scan runs five such walks per row — one
  * stopword set and four language marker sets — each re-evaluating an
  * `In` expression tree per element. This is one kernel call per set
  * doing UTF8String equality against a tiny array
  * (n ≤ 10; linear scan beats hashing at that size).
  *
  * Bit-compatibility with the composed form: NULL array → NULL; NULL
  * elements are skipped (`isin` yields NULL → `filter` drops the
  * element); the count is exact so every downstream ratio/argmax is
  * unchanged.
  *
  * Reference scope: backs the text-analysis extension ops (quality
  * scoring, language ID); the reference engine has no text surface.
  */
object TokenSetCount {

  private val sets = new ConcurrentHashMap[Seq[String], Array[UTF8String]]()

  /** The word set, one instance per word list: it is a plan literal, and
    * literals compare arrays by reference, so two calls over the same
    * list must share it to stay equal (subexpression elimination). */
  def wordSet(words: Seq[String]): Array[UTF8String] =
    sets.computeIfAbsent(words.toVector, w =>
      w.map(UTF8String.fromString).toArray)

  /** The kernel: one call per row. */
  def compute(arr: ArrayData, set: Array[UTF8String]): Int = {
    val n = arr.numElements()
    var count = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        var k = 0
        while (k < set.length) {
          if (set(k).equals(t)) { count += 1; k = set.length }
          else k += 1
        }
      }
      i += 1
    }
    count
  }
}

/** `rolling_token_hash(array<string>) → bigint` — the polynomial rolling
  * hash `fold(lt, 0, (acc, t) → (acc·B + md5prefix32(t)) mod P)` as one
  * native pass. The composed `aggregate` lambda re-evaluates an
  * `md5 → substring → conv → cast` expression tree INTERPRETED per
  * token, materializing a 32-char hex string only to parse its first 8
  * chars back into a long; this helper digests the token bytes directly
  * and reads the first 4 bytes as the same unsigned 32-bit value.
  *
  * Bit-compatibility (constants [[TextF.RollB]]/[[TextF.RollP]]
  * shared): identical fold order and modular arithmetic
  * (B < 2^20, P > 2^32 ⇒ acc·B + h < 2^52, no overflow either way);
  * NULL array → NULL; a NULL token nulls the whole fold (md5(NULL) is
  * NULL and the accumulator never recovers) → NULL; empty array → 0.
  */
object RollingTokenHash {

  private val digests: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** The kernel: one call per row; null signals
    * the composed form's NULL-token edge. */
  def compute(arr: ArrayData, b: Long, p: Long): java.lang.Long = {
    val n = arr.numElements()
    val md = digests.get()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      md.reset()
      val d = md.digest(arr.getUTF8String(i).getBytes)
      // first 8 hex chars of md5 == first 4 digest bytes, unsigned
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      acc = (acc * b + h) % p
      i += 1
    }
    acc
  }
}

/** `term_histogram(array<string>) → array<struct<term,tf>>` — in-row
  * term-frequency histogram: sort the token array, run-length the equal
  * runs, emit `(term, count)` pairs in ascending binary-UTF8 term order.
  *
  * WHY a kernel and not built-ins: a per-document term count is
  * document-local (every token of a doc lives in one row), yet the
  * `explode → groupBy(doc, term)` shape pushes the whole token stream
  * through a hash aggregate — at sf1 that is ~2.9 s of `x_tfidf_topterms`'
  * 4.4 s. The built-in route (`array_sort` + `filter`/`zip_with`
  * run-length) is NOT viable: Catalyst higher-order functions are
  * interpreted, and `ArraySort`'s lambda comparator evaluates an `If`
  * expression tree per comparison (stack-dump-verified ~100× slowdown).
  * This kernel stays in whole-stage codegen — the generated code
  * calls one static JVM method whose inner loop is
  * `java.util.Arrays.sort` over `UTF8String` (binary compares) plus a
  * single run-length pass, so a 100 TB documents scan keeps one fused
  * loop and the downstream aggregates see per-document DISTINCT terms
  * (weighted by `tf`) instead of every token occurrence.
  *
  * Null array → NULL; null ELEMENTS are dropped (graft's tokenizers never
  * produce them — `TextF.tokens` splits non-null trimmed text).
  * Reference scope: the reference engine has no text surface; this backs
  * the training-data-pipeline extension ops (TF-IDF, BM25, PMI, LM).
  */
object TermHistogram {
  val OutType: DataType = ArrayType(
    StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))),
    containsNull = false)

  /** The kernel: one call per row. */
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val toks = new Array[UTF8String](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) { toks(m) = arr.getUTF8String(i); m += 1 }
      i += 1
    }
    if (m == 0) return new GenericArrayData(Array.empty[Any])
    java.util.Arrays.sort(toks.asInstanceOf[Array[Object]], 0, m)
    // count runs, then fill exactly-sized output (no growable buffer)
    var runs = 1
    i = 1
    while (i < m) { if (!toks(i).equals(toks(i - 1))) runs += 1; i += 1 }
    val out = new Array[Any](runs)
    var r = 0
    i = 0
    while (i < m) {
      var j = i + 1
      while (j < m && toks(j).equals(toks(i))) j += 1
      // clone: the sorted refs point into the caller's (reusable) row
      // buffer; the histogram must own its term bytes
      out(r) = new GenericInternalRow(
        Array[Any](toks(i).clone(), (j - i).toLong))
      r += 1
      i = j
    }
    new GenericArrayData(out)
  }

  /** Eval-path equivalence helper for specs: histogram as a plain map. */
  def referenceCounts(tokens: Seq[String]): Map[String, Long] =
    tokens.filter(_ != null).groupBy(identity).view.mapValues(_.size.toLong).toMap
}

/** `char_bigram_histogram(string) → array<struct<term,tf>>` — in-row
  * histogram of a string's character bigrams (code-point pairs,
  * 1-based window i covering chars i, i+1 — exactly the pairs
  * `transform(sequence(1, length(s)-1), i -> substring(s, i, 2))`
  * produces), `(term, count)` in ascending binary-UTF8 term order.
  *
  * WHY a kernel (the [[TermHistogram]] rationale, one level
  * lower): the composed form pays an interpreted lambda + a fresh
  * UTF8String allocation per CHARACTER of the corpus — measured 1.6 s
  * for the transform alone on the sf0.1 documents scan vs 0.15 s for
  * the bare scan, which made `x_lang_id` the slowest sf0.1 bench entry.
  * This kernel stays in whole-stage codegen: one static method walks
  * the UTF-8 bytes once (code-point starts), sorts bigram slices with
  * binary compares, run-lengths — no per-element expression evaluation,
  * no intermediate bigram array. Downstream, the LID model/scoring
  * aggregates see per-document DISTINCT bigrams weighted by `tf`.
  *
  * Cross-engine note: code-point indexing matches Spark `substring` and
  * DuckDB's `s[i:i+1]` slicing for the BMP; the oracle operates on the
  * raw-bigram relation (same aggregate), so equality is checked at the
  * model level by the driver gate. Null string → NULL. */
object CharBigramHistogram {

  /** UTF-8 sequence length from its first byte (continuation/invalid
    * bytes advance by 1 — same forgiving walk UTF8String uses); the one
    * walk behind every char-bigram kernel. */
  @inline private[functions] def seqLen(b: Byte): Int =
    if (b >= 0) 1
    else if ((b & 0xE0) == 0xC0) 2
    else if ((b & 0xF0) == 0xE0) 3
    else if ((b & 0xF8) == 0xF0) 4
    else 1

  /** The kernel: one call per row. */
  def compute(s: UTF8String): ArrayData = {
    val bytes = s.getBytes // may alias the row buffer: clone at emit
    val n = bytes.length
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    // code-point start offsets (starts(numChars) == n sentinel)
    var chars = 0
    var o = 0
    while (o < n) { chars += 1; o += seqLen(bytes(o)) }
    if (chars < 2) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](chars + 1)
    var idx = 0
    o = 0
    while (o < n) { starts(idx) = o; idx += 1; o += seqLen(bytes(o)) }
    starts(chars) = n
    val m = chars - 1
    val grams = new Array[UTF8String](m)
    var i = 0
    while (i < m) {
      grams(i) = UTF8String.fromBytes(
        bytes, starts(i), starts(i + 2) - starts(i))
      i += 1
    }
    java.util.Arrays.sort(grams.asInstanceOf[Array[Object]], 0, m)
    var runs = 1
    i = 1
    while (i < m) { if (!grams(i).equals(grams(i - 1))) runs += 1; i += 1 }
    val out = new Array[Any](runs)
    var r = 0
    i = 0
    while (i < m) {
      var j = i + 1
      while (j < m && grams(j).equals(grams(i))) j += 1
      out(r) = new GenericInternalRow(
        Array[Any](grams(i).clone(), (j - i).toLong))
      r += 1
      i = j
    }
    new GenericArrayData(out)
  }

  /** Eval-path equivalence helper for specs. */
  def referenceCounts(s: String): Map[String, Long] = {
    val cps = s.codePoints().toArray
    (0 until cps.length - 1)
      .map(i => new String(cps, i, 2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
  }
}

/** `char_bigrams(string) → array<string>` — the RAW code-point bigram
  * instance list, in document order, no histogram.
  *
  * OPTIMIZATION r18 (guide §1.2 "per-task work"): x_lang_id's MODEL
  * aggregate `groupBy(lang, bg)` counts instances either way, so the
  * per-doc `Arrays.sort` the histogram pays to pre-collapse them buys
  * nothing the hash aggregate's map-side combine doesn't already do —
  * and that sort was the scan's hottest loop (the histogram's collapse
  * pays off only when the EXCHANGED stream shrinks, which a partial
  * aggregate on (lang, bg) already guarantees). Same forgiving UTF-8
  * walk as [[CharBigramHistogram]], so instance sets are identical;
  * `CharBigramHistogramSpec` pins sorted+run-length(char_bigrams) ==
  * char_bigram_histogram. */
object CharBigrams {
  import CharBigramHistogram.seqLen

  /** The kernel: one call per row. */
  def compute(s: UTF8String): ArrayData = {
    val bytes = s.getBytes // may alias the row buffer: clone at emit
    val n = bytes.length
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    var chars = 0
    var o = 0
    while (o < n) { chars += 1; o += seqLen(bytes(o)) }
    if (chars < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](chars - 1)
    var p0 = 0
    var p1 = seqLen(bytes(0))
    var i = 0
    while (p1 < n) {
      val p2 = p1 + seqLen(bytes(p1))
      // copy: the slice must own its bytes once it leaves this row
      out(i) = UTF8String.fromBytes(
        java.util.Arrays.copyOfRange(bytes, p0, p2))
      i += 1
      p0 = p1
      p1 = p2
    }
    new GenericArrayData(out)
  }
}

/** A baked set of UTF-8 strings (the [[NbLangModel]] family reference-
  * object pattern) for in-row membership counting — e.g. the benchmark
  * shingle set of `x_decontaminate`, whose production analogue (an eval
  * suite) is genuinely small. */
final class Utf8Set(val keyBytes: Array[Array[Byte]]) extends Serializable {
  /** Rebuilt lazily after task deserialization. */
  @transient lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](keyBytes.length * 2)
    var i = 0
    while (i < keyBytes.length) {
      s.add(UTF8String.fromBytes(keyBytes(i)))
      i += 1
    }
    s
  }
}

/** `count_in_set(array<string>) → bigint` — how many of the array's
  * elements are members of the baked [[Utf8Set]].
  *
  * Optimization-round rationale (guide §2.3/§2.4): with the probe set
  * collected, the corpus side of a contamination check needs no explode,
  * no broadcast join and no per-doc hit aggregation — the count is
  * document-local (the caller passes the doc's DISTINCT shingles, so the
  * count equals the old `explode → join → groupBy(doc).count` law
  * exactly). NULL array → 0 (the old left-join miss). */
object CountInSet {
  /** The kernel: one call per row. */
  def compute(arr: ArrayData, s: Utf8Set): Long = {
    if (arr == null) return 0L
    var n = 0L
    var i = 0
    val k = arr.numElements()
    while (i < k) {
      if (!arr.isNullAt(i) && s.set.contains(arr.getUTF8String(i))) n += 1
      i += 1
    }
    n
  }
}
