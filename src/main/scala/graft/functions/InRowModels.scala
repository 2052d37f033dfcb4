package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

// The in-row model kernels: a trained model collected on the driver rides
// into the scan as a plan constant (an ObjectType literal of the
// graft.plans.KernelCall), and each row is scored by one static call.

/** Trained char-bigram Naive-Bayes model, baked into the scan as a plan
  * constant (the [[BloomF]] words pattern) so scoring runs
  * IN-ROW instead of through the exploded-bigram join pipeline.
  *
  * Optimization-round rationale (guide §2.3/§2.4 — aggregate before you
  * shuffle / remove shuffles outright): the model is corpus-BOUNDED
  * (langs × observed char bigrams), so once it exists the per-document
  * score of EVERY language is document-local arithmetic. The previous
  * chain shuffled per-(doc, lang) partial sums, joined them back to the
  * corpus on (doc_id, mlang), and ran a per-doc window for the argmax —
  * three corpus-keyed exchanges plus a sort that this kernel deletes
  * (the plan becomes: one model aggregate, then one scan). The per-row
  * integer math is EXACTLY the chain's µ-nat law — floor(ln((c+1)/(nl+V))
  * ·10⁶) per seen (lang, bigram), the lang's smoothed floor
  * lpu = floor(ln(1/(nl+V))·10⁶) for unseen — restated through the
  * identity Σc·lp_seen + (n_bg−n_seen)·lpu = n_bg·lpu + Σc·(lp−lpu),
  * which is exact in Long arithmetic (no new rounding sites), so the
  * DuckDB oracle hash-gates the restructure unchanged.
  *
  * The delta table stores lp−lpu ≥ 0 per (bigram, lang) (0 where
  * unseen), keyed by the bigram's UTF-8 bytes. Scoring walks the
  * document's bigram histogram ([[CharBigramHistogram.compute]] — the
  * same in-row collapse the old exploded stream used) and accumulates
  * `c·delta` per lang, then adds `n_bg·lpu`. Argmax ties break to the
  * ascending-first language, bit-identical to the chain's
  * `ORDER BY score_q DESC, mlang` row_number. */
final class NbLangModel(
    val langs: Array[String], // ascending; pred tie-break order
    val lpu: Array[Long], // per-lang smoothed floor, µ-nats
    val bgBytes: Array[Array[Byte]], // distinct observed bigrams (UTF-8)
    val delta: Array[Array[Long]]) // [bigram][lang] lp_q − lpu_q (0 unseen)
    extends Serializable {
  require(langs.length == lpu.length &&
    bgBytes.length == delta.length &&
    delta.forall(_.length == langs.length),
    "NB model arrays are not aligned")

  @transient lazy val langsU: Array[UTF8String] =
    langs.map(UTF8String.fromString)

  /** bigram → delta row; rebuilt lazily after task deserialization. */
  @transient lazy val index: java.util.HashMap[UTF8String, Array[Long]] = {
    val m = new java.util.HashMap[UTF8String, Array[Long]](
      bgBytes.length * 2)
    var i = 0
    while (i < bgBytes.length) {
      m.put(UTF8String.fromBytes(bgBytes(i)), delta(i))
      i += 1
    }
    m
  }
}

/** `nb_lang_score(s) → struct<pred_lang, n_bigrams, score_q>` over a
  * baked [[NbLangModel]]. NULL input scores as the empty document
  * (n_bigrams = 0, every lang at score 0, pred = first lang) — exactly
  * what the chain's `greatest(length(s)−1, 0)` + all-zero scores yield. */
object NbLangScore {
  val OutType: DataType = StructType(Seq(
    StructField("pred_lang", StringType, nullable = false),
    StructField("n_bigrams", LongType, nullable = false),
    StructField("score_q", LongType, nullable = false)))

  // the forgiving UTF-8 walk CharBigramHistogram uses, so bigram
  // boundaries (and the instance count = numChars−1) are bit-identical
  // to the chain
  import CharBigramHistogram.seqLen

  /** The kernel: one call per row.
    *
    * DIRECT walk, no histogram: the chain's in-row histogram collapse
    * existed to shrink an exchange that no longer exists here, and its
    * per-doc `Arrays.sort` was the scan's hottest loop. Scoring needs
    * only Σc·delta, which a per-INSTANCE accumulation computes in one
    * pass over the bytes — one hash probe + L long-adds per bigram,
    * zero sorts, zero allocations beyond the slice wrappers. Long
    * arithmetic is order-free, so the sum is bit-equal to the
    * per-distinct form. */
  def compute(s: UTF8String, m: NbLangModel): InternalRow = {
    val L = m.langs.length
    val scores = new Array[Long](L)
    var nBg = 0L
    if (s != null) {
      val bytes = s.getBytes // may alias the row buffer: lookups only
      val n = bytes.length
      if (n >= 2) {
        var p0 = 0 // bigram start
        var p1 = seqLen(bytes(0)) // second char start
        while (p1 < n) {
          val p2 = p1 + seqLen(bytes(p1)) // bigram end (exclusive)
          val d = m.index.get(UTF8String.fromBytes(bytes, p0, p2 - p0))
          if (d != null) {
            var l = 0
            while (l < L) { scores(l) += d(l); l += 1 }
          }
          nBg += 1
          p0 = p1
          p1 = p2
        }
        var l = 0
        while (l < L) { scores(l) += nBg * m.lpu(l); l += 1 }
      }
    }
    // argmax, ties to the ascending-first lang (langs sorted asc)
    var best = 0
    var l = 1
    while (l < L) { if (scores(l) > scores(best)) best = l; l += 1 }
    new GenericInternalRow(Array[Any](m.langsU(best), nBg, scores(best)))
  }
}

/** Trained word-n-gram LM (n-gram → µ-nat log-prob), baked into the scan
  * as a plan constant (the [[NbLangModel]]/[[BloomF]]
  * pattern) so per-document scoring runs IN-ROW instead of through the
  * exploded join pipeline. Serves both `x_lm_bigram` (width 2) and
  * `x_lm_score` (width 1).
  *
  * Optimization-round rationale (guide §2.3/§2.4): the model is
  * VOCABULARY-bounded (observed word n-grams — Zipf keeps word types to
  * MBs; the row-capped collect falls back loudly to the chain arm past
  * the cap, see `CurateQueries.bigramLmScoreImpl` / `lmScoreImpl`). Once
  * the model exists, a document's score is document-local arithmetic:
  * the chains' corpus-sized materializations, the n-row scoring joins,
  * the per-doc groupBy exchanges and the final doc-keyed left joins all
  * existed only to route n-gram instances past the model — this
  * kernel deletes them (the plan becomes: one model aggregate, one
  * scoring scan; the corpus never shuffles). The per-row integer math is
  * EXACTLY each chain's µ-nat law, evaluated with the identical double
  * expression trees on the driver, and the per-doc sum is Long
  * arithmetic (order-free), so the DuckDB oracles hash-gate the
  * restructure unchanged.
  *
  * Keyed by the n-gram's UTF-8 bytes; width ≥ 2 joins adjacent tokens
  * with a single space via the same `UTF8String.concatWs` call as
  * [[WordShingles]], so lookup keys are byte-identical to the exploded
  * stream's shingles (width 1 keys are the raw tokens). */
final class NgramLmModel(
    val keyBytes: Array[Array[Byte]], // distinct observed n-grams (UTF-8)
    val lpq: Array[Long]) // per-n-gram lp_q, µ-nats
    extends Serializable {
  require(keyBytes.length == lpq.length,
    "n-gram LM model arrays are not aligned")

  /** n-gram → lpq index; rebuilt lazily after task deserialization. */
  @transient lazy val index: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](keyBytes.length * 2)
    var i = 0
    while (i < keyBytes.length) {
      m.put(UTF8String.fromBytes(keyBytes(i)), Integer.valueOf(i))
      i += 1
    }
    m
  }
}

/** `ngram_lm_sum(toks) → struct<n_grams, sq>` over a baked
  * [[NgramLmModel]]: walks the token array's contiguous width-`width`
  * windows, summing each window's µ-nat log-prob. Counts only model
  * HITS (the chains' inner scoring-join semantics — on a model trained
  * over the same corpus every instance hits, by construction).
  * NULL/short input yields (0, 0), exactly the chains'
  * missing-perDoc-row case. */
object NgramLmSum {
  val OutType: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("sq", LongType, nullable = false)))

  private val Sep = UTF8String.fromString(" ")

  /** The kernel: one call per row. One key build
    * (width 1: the token itself; width 2: one `concatWs`) + one hash
    * probe per window; Long sums are order-free, so the total is
    * bit-equal to the exploded-join form. */
  def compute(arr: ArrayData, m: NgramLmModel, width: Int): InternalRow = {
    var n = 0L
    var sq = 0L
    if (arr != null) {
      val k = arr.numElements()
      if (width == 1) {
        var i = 0
        while (i < k) {
          val idx = m.index.get(arr.getUTF8String(i))
          if (idx != null) {
            sq += m.lpq(idx.intValue())
            n += 1
          }
          i += 1
        }
      } else if (width == 2 && k >= 2) {
        var prev = arr.getUTF8String(0)
        var i = 1
        while (i < k) {
          val cur = arr.getUTF8String(i)
          val idx = m.index.get(UTF8String.concatWs(Sep, prev, cur))
          if (idx != null) {
            sq += m.lpq(idx.intValue())
            n += 1
          }
          prev = cur
          i += 1
        }
      } else if (k >= width) {
        // general window path (mirrors WordShingles' join law)
        val win = new Array[UTF8String](width)
        var i = 0
        while (i <= k - width) {
          var j = 0
          while (j < width) { win(j) = arr.getUTF8String(i + j); j += 1 }
          val idx = m.index.get(UTF8String.concatWs(Sep, win: _*))
          if (idx != null) {
            sq += m.lpq(idx.intValue())
            n += 1
          }
          i += 1
        }
      }
    }
    new GenericInternalRow(Array[Any](n, sq))
  }
}

/** Corpus IDF table (term → quantized idf), baked into the scan as a
  * plan constant (the [[NbLangModel]]/[[NgramLmModel]] pattern)
  * so each document's TF-IDF top-k is computed IN-ROW.
  *
  * Optimization-round rationale (guide §2.3/§2.4): the IDF table is
  * VOCABULARY-bounded (Zipf keeps word types to MBs at 100 TB — the same
  * bound the broadcast-df A/B rested on), so once it exists a document's
  * top-k salient terms are document-local arithmetic. The previous plan
  * materialized the per-(doc, term) tf stream (eager localCheckpoint),
  * joined it to the broadcast df, and ran a per-doc row_number window —
  * a corpus-sized checkpoint write + three reads plus the window's
  * doc-keyed exchange and sort, all deleted by this kernel (the plan
  * becomes: one model aggregate, one scoring scan; the tf stream never
  * leaves its row). The scoring math is EXACTLY the shipped integer law:
  * idf_q = (10⁶·(N+1)) div (df+1) per term (driver-evaluated, same
  * truncating integral divide), score = tf·idf_q in Long arithmetic, and
  * the k winners ordered by (score DESC, term ASC) — bit-identical to
  * the window's `row_number ≤ k`, so the DuckDB oracle hash-gates the
  * restructure unchanged. */
final class TfidfModel(
    val termBytes: Array[Array[Byte]], // distinct corpus terms (UTF-8)
    val idfq: Array[Long]) // per-term quantized idf
    extends Serializable {
  require(termBytes.length == idfq.length,
    "tfidf model arrays are not aligned")

  /** term → idfq index; rebuilt lazily after task deserialization. */
  @transient lazy val index: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](termBytes.length * 2)
    var i = 0
    while (i < termBytes.length) {
      m.put(UTF8String.fromBytes(termBytes(i)), Integer.valueOf(i))
      i += 1
    }
    m
  }
}

/** `tfidf_topk(toks) → array<struct<term,tf,score>>` over a baked
  * [[TfidfModel]]: per-doc term histogram ([[TermHistogram.compute]] —
  * the tf law, one definition), score each distinct term, keep the top
  * `k` by (score DESC, term ASC). Terms missing from the model are
  * skipped (the old scoring join's inner semantics; on a model built
  * from the same corpus every term hits, by construction). */
object TfidfTopTerms {
  val OutType: DataType = ArrayType(
    StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("tf", LongType, nullable = false),
      StructField("score", LongType, nullable = false))),
    containsNull = false)

  /** Long-score concrete [[TopKBoard]] — the insertion LAW lives there
    * (one spelling with bm25's Double board); only the payload arrays
    * and the native-type comparison live here. */
  private final class Board(k: Int) extends TopKBoard(k) {
    val terms = new Array[UTF8String](k)
    val tfs = new Array[Long](k)
    val scores = new Array[Long](k)
    var candTerm: UTF8String = _
    var candTf = 0L
    var candScore = 0L
    protected def candBeats(i: Int): Boolean = candScore > scores(i)
    protected def moveSlot(from: Int, to: Int): Unit = {
      terms(to) = terms(from)
      tfs(to) = tfs(from)
      scores(to) = scores(from)
    }
    protected def writeSlot(i: Int): Unit = {
      terms(i) = candTerm
      tfs(i) = candTf
      scores(i) = candScore
    }
  }

  /** The kernel, one call per row: iterate the
    * histogram in term-ASC order, offer each modeled term to the
    * [[TopKBoard]] (strict `score >` displacement = the window's
    * (score DESC, term ASC) row_number ordering exactly). */
  def compute(arr: ArrayData, m: TfidfModel, k: Int): ArrayData = {
    val h = TermHistogram.compute(arr) // the tf law, one definition
    val n = h.numElements()
    val b = new Board(k)
    var i = 0
    while (i < n) {
      val row = h.getStruct(i, 2)
      val term = row.getUTF8String(0)
      val idx = m.index.get(term)
      if (idx != null) {
        b.candTerm = term
        b.candTf = row.getLong(1)
        b.candScore = row.getLong(1) * m.idfq(idx.intValue())
        b.offer()
      }
      i += 1
    }
    val out = new Array[Any](b.cnt)
    i = 0
    while (i < b.cnt) {
      out(i) = new GenericInternalRow(
        Array[Any](b.terms(i), b.tfs(i), b.scores(i)))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Corpus BM25 model (term → quantized idf, plus the corpus scalars
  * N and total_len), baked into the scan as a plan constant
  * (the [[TfidfModel]] sibling) so each document's BM25 top-k is
  * computed IN-ROW.
  *
  * Optimization-round rationale (guide §2.3/§2.4): identical to the
  * tfidf rewrite — the df table is vocabulary-bounded and every other
  * score input (tf, dl) is document-local, so the old plan's scoring
  * join, doc-keyed dl join, corpus crossJoin and per-doc row_number
  * window all delete. The scoring arithmetic is the shipped law
  * RESTATED EXACTLY: idf_q = (10⁶·(N+1)) div (df+1) (truncating
  * integral divide), the saturation term evaluated with the identical
  * left-associative double tree (constants folded the same way Catalyst
  * folds the lit() placements), and the µ-precision truncation
  * floor(idf·sat·10⁶) → Long → double / 10⁶ — so the top-k selection
  * with (score DESC, term ASC) ties is bit-identical to the window. */
final class Bm25Model(
    val termBytes: Array[Array[Byte]], // distinct corpus terms (UTF-8)
    val idfq: Array[Long], // per-term quantized idf
    val n: Long, // corpus doc count (dl > 0 docs)
    val totalLen: Long, // Σ dl
    val k1: Double,
    val b: Double)
    extends Serializable {
  require(termBytes.length == idfq.length,
    "bm25 model arrays are not aligned")

  /** term → idfq index; rebuilt lazily after task deserialization. */
  @transient lazy val index: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](termBytes.length * 2)
    var i = 0
    while (i < termBytes.length) {
      m.put(UTF8String.fromBytes(termBytes(i)), Integer.valueOf(i))
      i += 1
    }
    m
  }
}

/** `bm25_topk(toks) → array<struct<term,tf,score>>` over a baked
  * [[Bm25Model]]: per-doc term histogram ([[TermHistogram.compute]] —
  * the tf law, one definition), BM25-score each distinct term, keep the
  * top `k` by (score DESC, term ASC). Terms missing from the model are
  * skipped (the old scoring join's inner semantics). */
object Bm25TopTerms {
  val OutType: DataType = ArrayType(
    StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("tf", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))),
    containsNull = false)

  /** Double-score concrete [[TopKBoard]] — the insertion LAW lives
    * there (one spelling with tfidf's Long board); only the payload
    * arrays and the native-type comparison live here. */
  private final class Board(k: Int) extends TopKBoard(k) {
    val terms = new Array[UTF8String](k)
    val tfs = new Array[Long](k)
    val scores = new Array[Double](k)
    var candTerm: UTF8String = _
    var candTf = 0L
    var candScore = 0.0
    protected def candBeats(i: Int): Boolean = candScore > scores(i)
    protected def moveSlot(from: Int, to: Int): Unit = {
      terms(to) = terms(from)
      tfs(to) = tfs(from)
      scores(to) = scores(from)
    }
    protected def writeSlot(i: Int): Unit = {
      terms(i) = candTerm
      tfs(i) = candTf
      scores(i) = candScore
    }
  }

  /** The kernel, one call per row: iterate the
    * histogram in term-ASC order, offer each modeled term to the
    * [[TopKBoard]] (strict `score >` displacement = the window's
    * (score DESC, term ASC) order exactly); the double arithmetic
    * mirrors the chain's expression tree operation-for-operation. */
  def compute(arr: ArrayData, m: Bm25Model, k: Int): ArrayData = {
    val h = TermHistogram.compute(arr) // the tf law, one definition
    val nTerms = h.numElements()
    if (nTerms == 0) return new GenericArrayData(Array.empty[Any])
    // dl = size(lt) — the chain's scan-side token-array length
    val dl = arr.numElements().toDouble
    // the chain's per-doc constant: k1 · ((1−b) + ((b·dl)·N)/total_len)
    // — same left association, (1−b) and (k1+1) folded as Catalyst
    // folds the lit() constants
    val denomC = m.k1 * ((1.0 - m.b) +
      m.b * dl * m.n.toDouble / m.totalLen.toDouble)
    val k1p1 = m.k1 + 1.0
    val b = new Board(k)
    var i = 0
    while (i < nTerms) {
      val row = h.getStruct(i, 2)
      val idx = m.index.get(row.getUTF8String(0))
      if (idx != null) {
        val tfD = row.getLong(1).toDouble
        val sat = tfD * k1p1 / (tfD + denomC)
        // µ-precision truncation: floor(idf·sat·10⁶) is a LONG in the
        // chain (Floor: double → long), cast back to double, ÷ 10⁶
        b.candTerm = row.getUTF8String(0)
        b.candTf = row.getLong(1)
        b.candScore = math.floor(
          m.idfq(idx.intValue()).toDouble * sat * 1000000.0)
          .toLong.toDouble / 1000000.0
        b.offer()
      }
      i += 1
    }
    val out = new Array[Any](b.cnt)
    i = 0
    while (i < b.cnt) {
      out(i) = new GenericInternalRow(
        Array[Any](b.terms(i), b.tfs(i), b.scores(i)))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** The k-slot insertion board shared by [[TfidfTopTerms]] and
  * [[Bm25TopTerms]] — THE exactness-critical selection law, spelled
  * once (r18 verdict item 3): candidates arrive in term-ASC order (the
  * [[TermHistogram]] output order) and are inserted with a STRICT
  * `score >` displacement rule, so an equal-score later term never
  * passes an earlier one and the board reads exactly
  * (score DESC, term ASC) — the row_number window's order,
  * bit-compatible with the DuckDB oracle.
  *
  * Score comparison stays in each operator's NATIVE score type (Long
  * for tfidf, Double for bm25) behind the abstract `candBeats`:
  * converting either type to the other can merge or split ties past
  * 2^53 and silently change the tie-break. The two concrete boards are
  * the only call sites, so the JVM devirtualizes the comparison
  * (bimorphic inline) and the loop stays as tight as the previously
  * duplicated spellings. */
abstract class TopKBoard(val k: Int) {
  /** slots filled so far (≤ k), in (score DESC, term ASC) order */
  var cnt = 0

  /** does the STAGED candidate's score strictly beat slot `i`'s? */
  protected def candBeats(i: Int): Boolean

  /** copy slot `from`'s payload (term, tf, score, …) to slot `to` */
  protected def moveSlot(from: Int, to: Int): Unit

  /** write the staged candidate's payload into slot `i` */
  protected def writeSlot(i: Int): Unit

  /** Offer the staged candidate (the law — one spelling): no-op when
    * the board is full and the candidate does not strictly beat the
    * last slot; otherwise displace strictly-beaten slots only. */
  final def offer(): Unit = {
    if (cnt < k || candBeats(k - 1)) {
      var ins = math.min(cnt, k)
      while (ins > 0 && candBeats(ins - 1)) ins -= 1
      if (ins < k) {
        var q = math.min(cnt, k - 1)
        while (q > ins) {
          moveSlot(q - 1, q)
          q -= 1
        }
        writeSlot(ins)
        if (cnt < k) cnt += 1
      }
    }
  }
}
