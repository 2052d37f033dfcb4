package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tbl
import graft.functions.{HashF, TextF}

/** Corpus-curation operators a production training-data pipeline runs
  * between raw ingest and tokenization: benchmark decontamination,
  * repetition-based quality filtering (the Gopher rules), and vocabulary
  * construction. All over `documents`, all oracle-checked.
  *
  * Scale design (the 100 TB story):
  *  - decontamination is the canonical SMALL×HUGE asymmetric join — the
  *    eval-benchmark shingle set is MBs while the corpus is TBs, so the
  *    probe is a broadcast hash semi-join fused into the corpus scan
  *    (zero corpus shuffle; at extreme benchmark sizes swap the exact
  *    broadcast set for `b_bloom_prune`'s bloom filter with an exact
  *    recheck of survivors);
  *  - repetition stats are scan-side higher-order array functions per
  *    document; the only shuffle is the (doc_id, bigram) mode count,
  *    which map-side combines to ≤1 row per (doc, distinct bigram);
  *  - vocabulary build is one map-side-combined groupBy(token) then a
  *    TakeOrderedAndProject top-V — the classic two-phase wordcount; the
  *    distinct-document frequency is the one expand shuffle (swap for a
  *    KMV/HLL sketch when exact df is not required at sf1000).
  */
object CurateQueries {

  /** Shingle width for contamination tests (13-grams in production-scale
    * pipelines; 3 here so the ~50-token fixture docs produce overlaps). */
  private val DK = 3

  /** Held-out "benchmark" slice: doc_id ≡ 7 (mod 50) → 2% of the corpus,
    * standing in for an eval set (MMLU/GSM-style) that training data must
    * not contain. */
  private val BenchMod = 50
  private val BenchRem = 7

  private val sqlLowerToks = OracleSql.lowerToks

  // ------------------------ benchmark decontamination ---------------------

  /** Benchmark decontamination: flag every training document sharing ANY
    * [[DK]]-gram with the held-out benchmark slice, and report the overlap
    * size. Survivors (`keep = true`) are the decontaminated corpus.
    *
    * Plan shape: the benchmark shingle set (tiny) is broadcast; the
    * corpus-side probe is a broadcast hash join inside the scan stage —
    * the corpus itself never shuffles. The per-doc hit count then
    * aggregates only the MATCHED rows (contaminated docs × overlapping
    * shingles), and the final left join back to the corpus id list is
    * again broadcast-sized (hit rows ≪ corpus). */
  private def decontaminate(s: SparkSession, dir: String): DataFrame =
    decontaminateImpl(s, dir, BenchSetRowCap)

  /** Driver-side row cap on the collected benchmark shingle set for the
    * in-row probe arm. A real eval suite (the production analogue) is
    * KBs–MBs; the FIXTURE's 2%-of-corpus stand-in grows with SF and
    * crosses the cap around sf10, where the chain arm runs unchanged —
    * the bounded-collect-with-loud-degradation pattern shared with the
    * lang-id / bigram-LM / IDF models. */
  private val BenchSetRowCap = 1L << 20

  /** OPTIMIZATION r18 (guide §2.3/§2.4): with the benchmark shingle set
    * collected, contamination counting is document-local — the primary
    * arm probes each doc's distinct shingles IN-ROW through
    * [[graft.functions.CountInSet]], deleting the corpus-side explode →
    * broadcast join → per-doc hit aggregation → doc-keyed rejoin.
    * `DecontaminateSpec` pins the two arms row-for-row equal; the DuckDB
    * oracle gates the primary arm every round. */
  private[queries] def decontaminateImpl(s: SparkSession, dir: String,
      setRowCap: Long): DataFrame = {
    val isBench = (col("doc_id") % BenchMod) === BenchRem
    // DENSE scan gate (the x_lang_id lesson, same as the other in-row
    // arms): tokenize + shingles + set probes all run in the scan
    val docs = graft.parallelScanDense(s,
        tbl(s, dir, "documents").select(col("doc_id"), col("text")))
    val distinctSh = array_distinct(
      TextF.shinglesFromTokens(TextF.lowerTokens(col("text")), DK))
    val collected = InRowModel.boundedCollect(
      docs.filter(isBench)
        .select(explode(distinctSh).as("shingle"))
        .distinct()
        .select(col("shingle").cast("binary").as("sb")),
      setRowCap, "x_decontaminate")
    if (collected.isDefined) {
      val set = new graft.functions.Utf8Set(
        collected.get.map(_.getAs[Array[Byte]](0)))
      val nHits = TextF.countInSet(distinctSh, set)
      docs.filter(!isBench)
        .select(col("doc_id"), nHits.as("n_hits"))
        .select(col("doc_id"), col("n_hits"),
          (col("n_hits") === 0).as("keep"))
    } else {
      // over-cap (or empty-set) arm: the pre-r18-optimization chain,
      // original (32 MB-floor) scan included
      val sh = graft.parallelScan(s,
          tbl(s, dir, "documents").select(col("doc_id"), col("text")))
        .select(col("doc_id"), TextF.lowerTokens(col("text")).as("toks"))
        .select(col("doc_id"), explode(array_distinct(
          TextF.shinglesFromTokens(col("toks"), DK))).as("shingle"))
      val benchSet = sh.filter(isBench).select("shingle").distinct()
      val hits = sh.filter(!isBench)
        .join(broadcast(benchSet), "shingle")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hits"))
      tbl(s, dir, "documents").filter(!isBench).select("doc_id")
        .join(broadcast(hits), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)) === 0).as("keep"))
    }
  }

  private val decontaminateSql = {
    val shl = s"list_distinct(${OracleSql.shingleList(DK)})"
    s"""WITH t0 AS (
       |  SELECT doc_id, $sqlLowerToks AS t FROM documents
       |), sh AS (
       |  SELECT doc_id, unnest($shl) AS shingle FROM t0
       |), bench AS (
       |  SELECT DISTINCT shingle FROM sh WHERE doc_id % $BenchMod = $BenchRem
       |), hits AS (
       |  SELECT sh.doc_id, count(*) AS n_hits
       |  FROM sh JOIN bench USING (shingle)
       |  WHERE sh.doc_id % $BenchMod != $BenchRem
       |  GROUP BY sh.doc_id
       |)
       |SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
       |       coalesce(h.n_hits, 0) = 0 AS keep
       |FROM documents d LEFT JOIN hits h USING (doc_id)
       |WHERE d.doc_id % $BenchMod != $BenchRem
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------- repetition quality filtering ---------------------

  /** Keep-thresholds, fixture-calibrated analogues of the Gopher
    * repetition rules (duplicate-line / top-2-gram character fractions in
    * the paper; token-level here since fixture docs are single-line). At
    * sf0.01 the corpus medians are dup-token 0.54 and top-bigram 0.03, so
    * these cut real tails rather than everything or nothing. */
  private val MaxDupTokFrac = 0.6
  private val MaxTopBigramFrac = 0.1

  /** Gopher-style repetition signals per document: duplicate-token
    * fraction, most-frequent-bigram fraction, duplicate-trigram fraction,
    * and the keep verdict. Every fraction is a single IEEE division of
    * exact integer counts — bit-identical across engines, no rounding
    * needed.
    *
    * Plan shape: ONE tokenize pass — the scan-side array stats
    * (token/distinct/trigram counts) and the bigram array materialize
    * together in a checkpointed projection, the explode iterates the
    * stored arrays, and the stats fold through the two-level
    * aggregation as `first()`s — the corpus is scanned and tokenized
    * exactly once. Two shuffles: the
    * map-side-combined groupBy(doc_id, bigram) mode count, then the
    * doc_id fold — the second moves only already-combined rows (≤1 per
    * distinct (doc, bigram)). `explode_outer` keeps token-less docs. */
  private def repetitionFilter(s: SparkSession, dir: String): DataFrame = {
    // stats and the bigram ARRAY are computed in one projection and
    // checkpointed; only then does the explode run — a Generate whose
    // generator shares a projection with sibling derived columns
    // re-evaluates the tokenize→shingle tree per emitted element (~40×
    // measured at sf0.1), while exploding a materialized attribute
    // iterates stored data
    val perBigram = tbl(s, dir, "documents")
      .select(col("doc_id"), TextF.lowerTokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).as("n_tok"),
        size(array_distinct(col("toks"))).as("n_utok"),
        size(TextF.shinglesFromTokens(col("toks"), 3)).as("n_tri"),
        size(array_distinct(
          TextF.shinglesFromTokens(col("toks"), 3))).as("n_utri"),
        TextF.shinglesFromTokens(col("toks"), 2).as("bg"))
      .localCheckpoint()
      .select(col("doc_id"), col("n_tok"), col("n_utok"), col("n_tri"),
        col("n_utri"), explode_outer(col("bg")).as("bigram"))
      .transform(d =>
        // skip-partial (graft.plans.DirectAggStrategy): bigrams are ~96%
        // unique within a doc, so (doc_id, bigram) is near-unique and the
        // map-side partial hashes the stream for ~nothing
        graft.ops.DirectAgg.aggByKeys(d, Seq("doc_id", "bigram"),
          count(lit(1)).as("c"), first("n_tok").as("n_tok"),
          first("n_utok").as("n_utok"), first("n_tri").as("n_tri"),
          first("n_utri").as("n_utri")))
    val agg = perBigram.groupBy("doc_id")
      .agg(max(when(col("bigram").isNotNull, col("c")).otherwise(0L))
          .as("top_bg"),
        sum(when(col("bigram").isNotNull, col("c")).otherwise(0L))
          .as("n_bg"),
        first("n_tok").as("n_tok"), first("n_utok").as("n_utok"),
        first("n_tri").as("n_tri"), first("n_utri").as("n_utri"))
    val dupTok = when(col("n_tok") === 0, lit(0.0)).otherwise(
      (col("n_tok") - col("n_utok")).cast("double") /
        col("n_tok").cast("double"))
    val topBg = when(col("n_bg") === 0, lit(0.0))
      .otherwise(col("top_bg").cast("double") / col("n_bg").cast("double"))
    val dupTri = when(col("n_tri") === 0, lit(0.0)).otherwise(
      (col("n_tri") - col("n_utri")).cast("double") /
        col("n_tri").cast("double"))
    agg
      .select(col("doc_id"), col("n_tok").cast("long").as("n_tok"),
        dupTok.as("dup_tok_frac"), topBg.as("top_bigram_frac"),
        dupTri.as("dup_trigram_frac"),
        (dupTok <= MaxDupTokFrac && topBg <= MaxTopBigramFrac).as("keep"))
      .orderBy("doc_id")
  }

  private val repetitionFilterSql = {
    val tri = OracleSql.shingleList(3)
    val big = OracleSql.shingleList(2)
    s"""WITH t0 AS (
       |  SELECT doc_id, $sqlLowerToks AS t FROM documents
       |), st AS (
       |  SELECT doc_id, len(t) AS n_tok, len(list_distinct(t)) AS n_utok,
       |         len($tri) AS n_tri, len(list_distinct($tri)) AS n_utri,
       |         $big AS bgl
       |  FROM t0
       |), bg AS (
       |  SELECT doc_id, unnest(bgl) AS bigram FROM st
       |), tb AS (
       |  SELECT doc_id, max(c) AS top_bg, sum(c) AS n_bg FROM (
       |    SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2
       |  ) GROUP BY doc_id
       |), f AS (
       |  SELECT st.doc_id, CAST(n_tok AS BIGINT) AS n_tok,
       |    CASE WHEN n_tok = 0 THEN 0.0
       |         ELSE CAST(n_tok - n_utok AS DOUBLE) / CAST(n_tok AS DOUBLE)
       |    END AS dup_tok_frac,
       |    CASE WHEN coalesce(n_bg, 0) = 0 THEN 0.0
       |         ELSE CAST(top_bg AS DOUBLE) / CAST(n_bg AS DOUBLE)
       |    END AS top_bigram_frac,
       |    CASE WHEN n_tri = 0 THEN 0.0
       |         ELSE CAST(n_tri - n_utri AS DOUBLE) / CAST(n_tri AS DOUBLE)
       |    END AS dup_trigram_frac
       |  FROM st LEFT JOIN tb ON st.doc_id = tb.doc_id
       |)
       |SELECT doc_id, n_tok, dup_tok_frac, top_bigram_frac,
       |       dup_trigram_frac,
       |       dup_tok_frac <= $MaxDupTokFrac
       |         AND top_bigram_frac <= $MaxTopBigramFrac AS keep
       |FROM f ORDER BY doc_id""".stripMargin
  }

  // -------------------------- vocabulary build ----------------------------

  /** Vocabulary size: small enough that the LIMIT binds on the fixture
    * (sf0.01 has 31 distinct tokens) — the top-V selection is actually
    * exercised, not a no-op. */
  private val VocabV = 20

  /** Corpus vocabulary: top-[[VocabV]] tokens by term frequency (token
    * tie-break), with contiguous ids, term frequency, and exact document
    * frequency — the id-assignment step every tokenizer-training pipeline
    * runs.
    *
    * Plan shape: wordcount groupBy(token) with map-side combine; top-V as
    * `orderBy.limit(V)` → TakeOrderedAndProject (per-partition heaps, no
    * global sort); ids via rank over the ≤V survivors (bounded window,
    * same pattern as [[graft.ops.Ranked]]). The exact distinct-doc count
    * is the one distinct-expand shuffle — at sf1000 swap for the KMV
    * sketch (`w_kmv_distinct`) when ±1% df suffices. */
  private def vocabBuild(s: SparkSession, dir: String): DataFrame = {
    // per-doc histogram rows are already DISTINCT (doc, token) pairs, so
    // the document frequency is a plain count — the distinct-expand
    // shuffle the exploded shape needed disappears (tf = Σ in-doc counts)
    val counts = tbl(s, dir, "documents")
      .select(col("doc_id"),
        explode(TextF.termHistogram(TextF.lowerTokens(col("text"))))
          .as("h"))
      .groupBy(col("h.term").as("token"))
      .agg(sum("h.tf").as("tf"), count(lit(1)).as("dfc"))
    counts.orderBy(col("tf").desc, col("token")).limit(VocabV)
      .withColumn("token_id",
        row_number().over(Window.orderBy(col("tf").desc, col("token"))))
      .select(col("token_id").cast("long").as("token_id"), col("token"),
        col("tf"), col("dfc"))
      .orderBy("token_id")
  }

  private val vocabBuildSql =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($sqlLowerToks) AS token FROM documents
       |), counts AS (
       |  SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS dfc
       |  FROM tok GROUP BY token
       |), top AS (
       |  SELECT * FROM counts ORDER BY tf DESC, token LIMIT $VocabV
       |)
       |SELECT CAST(row_number() OVER (ORDER BY tf DESC, token) AS BIGINT)
       |         AS token_id,
       |       token, tf, dfc
       |FROM top ORDER BY token_id""".stripMargin

  /** How many leading token ids the encode query materializes per doc —
    * bounds the output row width (the full id stream is corpus-sized by
    * definition; a gate row is not the place for it). */
  private val EncodeHeadN = 64

  /** Vocabulary ENCODING (round 17) — the tokenize-to-ids stage every
    * training pipeline runs after vocabulary construction and before
    * sequence packing: each document's token stream maps through the
    * corpus's own top-[[VocabV]] vocabulary (`x_vocab_build`'s exact
    * table — same builder call, same tie law), OOV tokens take id 0
    * (<unk>), and the per-doc output reports n_tokens, n_oov, the OOV
    * rate, and the first [[EncodeHeadN]] ids comma-joined (a bounded,
    * engine-independent witness of the actual id sequence — order
    * included, so a wrong join or a broken position sort cannot hide).
    *
    * Scale: the vocabulary is Zipf-bounded (top-V rows — KBs even at
    * 100 TB), so the encode is one corpus scan + a BROADCAST left join
    * on token over the exploded positions + one doc-keyed rollup —
    * x_lm_score's exact shape; the id-head collect_list is per-document
    * (bounded by doc length, the in-row bound every tokenize step
    * carries). */
  private def encodeIds(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.parallelScan(s,
        tbl(s, dir, "documents").select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        posexplode(TextF.lowerTokens(col("text"))).as(Seq("pos0", "token")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        col("token"))
    val vocab = vocabBuild(s, dir).select(col("token"), col("token_id"))
    val enc = toks.join(broadcast(vocab), Seq("token"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("token_id"), lit(0L)).as("id"),
        col("token_id").isNull.cast("long").as("oov"))
    val perDoc = enc.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("oov").as("n_oov"),
        concat_ws(",", transform(
          slice(array_sort(collect_list(struct(col("pos"), col("id")))),
            1, EncodeHeadN),
          e => e.getField("id").cast("string"))).as("ids_head"))
    tbl(s, dir, "documents").select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(round(col("n_oov").cast("double") /
          col("n_tokens").cast("double"), 6), lit(0.0)).as("oov_rate"),
        coalesce(col("ids_head"), lit("")).as("ids_head"))
      .orderBy("doc_id")
  }

  private val encodeIdsSql =
    s"""WITH tk AS (
       |  SELECT doc_id, $sqlLowerToks AS t FROM documents
       |), tok AS (
       |  SELECT doc_id, unnest(t) AS token,
       |         unnest(range(1, len(t) + 1)) AS pos
       |  FROM tk
       |), counts AS (
       |  SELECT token, count(*) AS tf FROM tok GROUP BY token
       |), vocab AS (
       |  SELECT token,
       |         CAST(row_number() OVER (ORDER BY tf DESC, token) AS BIGINT)
       |           AS token_id
       |  FROM (SELECT * FROM counts ORDER BY tf DESC, token LIMIT $VocabV)
       |), enc AS (
       |  SELECT t.doc_id, t.pos, coalesce(v.token_id, 0) AS id,
       |         CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END AS oov
       |  FROM tok t LEFT JOIN vocab v USING (token)
       |), pd AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |         CAST(sum(oov) AS BIGINT) AS n_oov,
       |         array_to_string(list(id ORDER BY pos)[1:$EncodeHeadN], ',')
       |           AS ids_head
       |  FROM enc GROUP BY doc_id
       |)
       |SELECT d.doc_id, coalesce(p.n_tokens, 0) AS n_tokens,
       |       coalesce(p.n_oov, 0) AS n_oov,
       |       coalesce(round(CAST(p.n_oov AS DOUBLE)
       |                      / CAST(p.n_tokens AS DOUBLE), 6), 0.0)
       |         AS oov_rate,
       |       coalesce(p.ids_head, '') AS ids_head
       |FROM documents d LEFT JOIN pd p USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ----------------------- unigram LM quality score -----------------------

  /** Per-document average negative log-likelihood under the corpus's own
    * unigram language model — the CCNet-style "LM quality score" used to
    * rank/filter web text (low NLL ≈ typical text, high NLL ≈ rare-token
    * noise). Token log-probabilities are QUANTIZED to µ-nats
    * (`floor(ln(cnt/N)·10⁶)::long` — the same engine-independence trick
    * as `x_tfidf_topterms`' idf), so the per-doc sum is exact integer
    * math and the final score is ONE IEEE division on both engines.
    *
    * Plan shape: vocabulary counts are a map-side-combined groupBy(token)
    * (the wordcount); the corpus total is Σ of the checkpointed vocab's
    * counts (NOT a second corpus scan) riding in as a broadcast 1-row
    * cross join; scoring re-joins tokens to the broadcast vocabulary —
    * at 100 TB that's two corpus scans total (count pass + score pass),
    * each a scan-side broadcast join / map-side-combined aggregation. */
  private def lmScore(s: SparkSession, dir: String): DataFrame =
    lmScoreImpl(s, dir, UnigramModelRowCap).orderBy("doc_id")

  /** Driver-side row cap on the collected unigram model for the in-row
    * scoring arm (the corpus vocabulary — Zipf-bounded). Past the cap
    * the chain arm runs unchanged. */
  private val UnigramModelRowCap = 1L << 20

  /** OPTIMIZATION r18 (guide §2.3/§2.4 — the x_lm_bigram rewrite at
    * width 1): collect the vocabulary counts (row-capped, loud
    * fallback), fold n_total and the µ-nat law on the driver with the
    * chain's exact double expression trees, and score each document
    * IN-ROW through [[graft.functions.NgramLmSum]] — deleting the scoring
    * join, the per-doc groupBy exchange and the final doc-keyed left
    * join. `LmScoreSpec` pins the two arms row-for-row equal; the
    * DuckDB oracle gates the primary arm every round. */
  private[queries] def lmScoreImpl(s: SparkSession, dir: String,
      modelRowCap: Long): DataFrame = {
    // DENSE scan gate (the x_lang_id lesson, same as bm25TopTermsImpl):
    // the model pass's per-doc histogram sort runs in the scan
    val docs = graft.parallelScanDense(s,
        tbl(s, dir, "documents").select(col("doc_id"), col("text")))
      .select(col("doc_id"), TextF.lowerTokens(col("text")).as("toks"))
    // per-doc token histogram (kernel call): the vocabulary
    // aggregate consumes distinct-terms-per-doc weighted by in-doc
    // count `c`, not the raw token stream
    val collectedOpt = InRowModel.boundedCollect(
      docs
        .select(explode(TextF.termHistogram(col("toks"))).as("h"))
        .groupBy(col("h.term").as("token")).agg(sum("h.tf").as("cnt"))
        .select(col("token").cast("binary").as("tb"), col("cnt")),
      modelRowCap, "x_lm_score")
    if (collectedOpt.isDefined) {
      val collected = collectedOpt.get
      // n_total = Σ vocab counts — the chain's vocab-sized fold, now a
      // driver Long sum (exact either way)
      var nTotal = 0L
      collected.foreach(r => nTotal += r.getLong(1))
      val tokBytes = new Array[Array[Byte]](collected.length)
      val lpq = new Array[Long](collected.length)
      var i = 0
      while (i < collected.length) {
        tokBytes(i) = collected(i).getAs[Array[Byte]](0)
        // the chain's exact tree: floor(ln(cnt/n_total)·10⁶) — the
        // floor/StrictMath rationale lives on InRowModel.muNatLog
        lpq(i) = InRowModel.muNatLog(collected(i).getLong(1).toDouble,
          nTotal.toDouble)
        i += 1
      }
      val m = new graft.functions.NgramLmModel(tokBytes, lpq)
      val summed = TextF.ngramLmSum(col("toks"), m, 1)
      docs.select(col("doc_id"), summed.as("r"))
        .select(col("doc_id"),
          col("r.n_grams").as("n_tok"),
          when(col("r.n_grams") === 0, lit(null).cast("double"))
            .otherwise((-col("r.sq")).cast("double") /
              (col("r.n_grams").cast("double") * lit(1000000.0)))
            .as("avg_nll"))
    } else lmScoreChain(s, dir)
  }

  /** Over-cap arm: the pre-r18-optimization exploded-join chain,
    * byte-identical output (`LmScoreSpec` pins equality with the in-row
    * arm on the fixture). */
  private def lmScoreChain(s: SparkSession, dir: String): DataFrame = {
    val tok = tbl(s, dir, "documents")
      .select(col("doc_id"),
        explode(TextF.termHistogram(TextF.lowerTokens(col("text"))))
          .as("h"))
      .select(col("doc_id"), col("h.term").as("token"),
        col("h.tf").as("c"))
    // corpus total = Σ vocab counts — derived from the (tiny) vocabulary
    // aggregate, NOT a second corpus scan
    val vocab = tok.groupBy("token").agg(sum("c").as("cnt"))
      .localCheckpoint() // vocab-sized; feeds both the total and the lp map
    val tot = vocab.agg(sum("cnt").as("n_total"))
    // floor (not round): Spark's HALF_UP and DuckDB's nearbyint disagree
    // when lp·10⁶ lands on a .5 boundary; floor of the same IEEE double
    // is identical everywhere (same fix as the BM25 score truncation)
    val lp = vocab
      .crossJoin(broadcast(tot))
      .select(col("token"),
        floor(log(col("cnt").cast("double") /
          col("n_total").cast("double")) * lit(1000000.0))
          .cast("long").as("lp_q"))
    val perDoc = tok.join(broadcast(lp), "token")
      .groupBy("doc_id")
      .agg(sum(col("lp_q") * col("c")).as("sq"), sum("c").as("n_tok"))
    tbl(s, dir, "documents").select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        ((-col("sq")).cast("double") /
          (col("n_tok").cast("double") * lit(1000000.0))).as("avg_nll"))
  }

  private val lmScoreSql =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($sqlLowerToks) AS token FROM documents
       |), tot AS (
       |  SELECT count(*) AS n_total FROM tok
       |), lp AS (
       |  SELECT token,
       |         CAST(floor(ln(CAST(count(*) AS DOUBLE) /
       |                       CAST(n_total AS DOUBLE)) * 1000000.0)
       |              AS BIGINT) AS lp_q
       |  FROM tok, tot GROUP BY token, n_total
       |), per_doc AS (
       |  SELECT doc_id, sum(lp_q) AS sq, count(*) AS n_tok
       |  FROM tok JOIN lp USING (token) GROUP BY doc_id
       |)
       |SELECT d.doc_id, coalesce(p.n_tok, 0) AS n_tok,
       |       CAST(-p.sq AS DOUBLE) /
       |         (CAST(p.n_tok AS DOUBLE) * 1000000.0) AS avg_nll
       |FROM documents d LEFT JOIN per_doc p USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ------------------------ bigram LM quality score -----------------------

  /** Context-sensitive LM quality score: per-document average negative
    * log-likelihood under a corpus-trained BIGRAM model with add-one
    * smoothing — P(w₂|w₁) = (c(w₁w₂)+1) / (c(w₁·)+V). Catches
    * wrong-order/shuffled text that the unigram `x_lm_score` scores as
    * perfectly typical (same tokens, same unigram NLL), which is exactly
    * the KenLM-style filter production pipelines add after unigram
    * screens. Same µ-nat quantization → exact integer per-doc sums, one
    * final IEEE division.
    *
    * Plan shape: bigram counts are a map-side-combined groupBy; the
    * left-context totals derive from the (already tiny) bigram table,
    * not a rescan. The scoring join is broadcast here; a 100 TB bigram
    * model is GBs — there the score pass becomes one shuffle join keyed
    * on the bigram, or the model is pruned to top-k continuations per
    * context (the standard KenLM trim) to stay broadcastable. */
  private def bigramLmScore(s: SparkSession, dir: String): DataFrame =
    bigramLmScoreImpl(s, dir, BigramLmModelRowCap)

  /** Driver-side row cap on the collected bigram model for the in-row
    * scoring arm (observed word bigrams — Zipf-bounded like the BPE
    * word-type arm). Past the cap the chain arm below runs unchanged —
    * the same bounded-collect-with-loud-degradation pattern as
    * [[NbModelRowCap]]. */
  private val BigramLmModelRowCap = 1L << 20

  /** OPTIMIZATION r18 (guide §2.3/§2.4 — the x_lang_id pattern applied
    * to the bigram LM): the model is vocabulary-bounded, so scoring
    * does not need to shuffle the corpus at all. The primary arm
    * collects the bigram counts (row-capped, loud fallback), folds the
    * left-context totals and the µ-nat law on the driver with the
    * chain's exact double expression trees, and scores each document
    * IN-ROW through [[graft.functions.NgramLmSum]] — deleting the chain's
    * corpus-sized exploded-bigram localCheckpoint, the n-row scoring
    * join, the per-doc groupBy exchange and the final doc-keyed left
    * join. `LmBigramSpec` pins the two arms row-for-row equal; the
    * DuckDB oracle gates the primary arm every round (the SQL restates
    * the chain). */
  private[queries] def bigramLmScoreImpl(s: SparkSession, dir: String,
      modelRowCap: Long): DataFrame = {
    // DENSE scan gate (the x_lang_id lesson, same as bm25TopTermsImpl):
    // the in-row passes do per-pair concatWs + hash probes in the scan;
    // the chain arm below keeps its original (32 MB-floor) frames
    val docs = graft.parallelScanDense(s,
        tbl(s, dir, "documents").select(col("doc_id"), col("text")))
      .select(col("doc_id"), TextF.lowerTokens(col("text")).as("toks"))
    // model aggregate over RAW bigram instances: bigrams are ~96% unique
    // WITHIN a doc (measured at sf1), so a per-doc histogram would pay
    // an in-row sort for no compression — the exploded stream feeds the
    // map-side-combined groupBy directly. bg as binary: exact bytes, no
    // UTF-16 round-trip; InRowModel.boundedCollect fetches cap+1 so an
    // over-cap model is detected, not truncated.
    InRowModel.boundedCollect(
      docs
        .select(explode(TextF.shinglesFromTokens(col("toks"), 2)).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("cab"))
        .select(col("bg").cast("binary").as("bgb"), col("cab")),
      modelRowCap, "x_lm_bigram") match {
      case Some(collected) => bigramLmScoreInRow(docs, collected)
      case None => bigramLmScoreChain(s, dir)
    }
  }

  /** Primary arm: driver-built model, one scoring scan, zero corpus
    * shuffle. Arithmetic is the chain's, restated exactly (see
    * [[graft.functions.NgramLmModel]]). */
  private def bigramLmScoreInRow(docs: DataFrame,
      collected: Array[org.apache.spark.sql.Row]): DataFrame = {
    import org.apache.spark.unsafe.types.UTF8String
    // V = countDistinct over unigram tokens — the chain's `v` frame
    // verbatim (the in-doc histogram collapse keeps the distinct-count
    // exchange at distinct-terms-per-doc), reduced to a scalar
    val v = docs
      .select(explode(TextF.termHistogram(col("toks"))).as("h"))
      .agg(countDistinct("h.term")).head().getLong(0)
    // left-context totals: the chain's groupBy(w1).sum(cab), folded on
    // the driver. w1 = bytes before the first 0x20 — tokens are
    // whitespace-free and ' ' is one byte in UTF-8 (never part of a
    // multibyte sequence), so the byte scan IS split(bg, ' ')[0]
    def w1Of(b: Array[Byte]): UTF8String = {
      var i = 0
      while (i < b.length && b(i) != 0x20) i += 1
      UTF8String.fromBytes(b, 0, i)
    }
    val cw1 = new java.util.HashMap[UTF8String, java.lang.Long]()
    collected.foreach { r =>
      cw1.merge(w1Of(r.getAs[Array[Byte]](0)), r.getLong(1),
        (a: java.lang.Long, b: java.lang.Long) =>
          java.lang.Long.valueOf(a + b))
    }
    // lp_q = floor(ln((cab+1)/(cw1+V))·10⁶) — the chain's exact double
    // expression tree (Math.log/floor, Long→Double casts), evaluated
    // once per model row on the driver
    val bgBytes = new Array[Array[Byte]](collected.length)
    val lpq = new Array[Long](collected.length)
    var i = 0
    while (i < collected.length) {
      val b = collected(i).getAs[Array[Byte]](0)
      val cab = collected(i).getLong(1)
      bgBytes(i) = b
      lpq(i) = InRowModel.muNatLog((cab + 1).toDouble,
        (cw1.get(w1Of(b)) + v).toDouble)
      i += 1
    }
    val m = new graft.functions.NgramLmModel(bgBytes, lpq)
    val summed = TextF.ngramLmSum(col("toks"), m, 2)
    // two stacked selects: CollapseProject keeps the non-cheap scorer
    // single-evaluated. n_bigrams = 0 → NULL avg_nll, exactly the
    // chain's missing-perDoc-row left-join case.
    docs.select(col("doc_id"), summed.as("r"))
      .select(col("doc_id"),
        col("r.n_grams").as("n_bigrams"),
        when(col("r.n_grams") === 0, lit(null).cast("double"))
          .otherwise((-col("r.sq")).cast("double") /
            (col("r.n_grams").cast("double") * lit(1000000.0)))
          .as("avg_nll"))
  }

  /** Over-cap arm: the pre-r18-optimization exploded-join chain,
    * byte-identical output (`LmBigramSpec` pins equality with the
    * in-row arm on the fixture). */
  private def bigramLmScoreChain(s: SparkSession, dir: String): DataFrame = {
    // original (pre-r18) frames, including the 32 MB-floor parallelScan
    val docs = graft.parallelScan(s,
        tbl(s, dir, "documents").select(col("doc_id"), col("text")))
      .select(col("doc_id"), TextF.lowerTokens(col("text")).as("toks"))
    // bigram stream keeps the exploded shape (96% unique in-doc — a
    // histogram pays an in-row sort for no compression); the VOCABULARY
    // count does use the unigram histogram (words repeat in-doc ~1.6×).
    val docBg = docs.select(col("doc_id"),
      explode(TextF.shinglesFromTokens(col("toks"), 2)).as("bg"))
      .localCheckpoint(false) // two DIFFERENT-shaped consumers (model count +
    // per-doc scoring rejoin) — the containment/LSH pattern where one
    // materialization beats re-running tokenize+explode per consumer
    val bgCnt = docBg.groupBy("bg").agg(count(lit(1)).as("cab"))
      .localCheckpoint(false) // model-sized; feeds contexts + scoring
    // (both checkpoints LAZY: deterministic frames, so the first
    // consuming action materializes them — one fewer driver job each)
    val leftCnt = bgCnt
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .groupBy("w1").agg(sum("cab").as("cw1"))
    val v = docs
      .select(explode(TextF.termHistogram(col("toks"))).as("h"))
      .agg(countDistinct("h.term").as("v"))
    val lp = bgCnt.withColumn("w1", split(col("bg"), " ").getItem(0))
      .join(leftCnt, "w1")
      .crossJoin(broadcast(v))
      .select(col("bg"),
        floor(log((col("cab") + 1).cast("double") /
          (col("cw1") + col("v")).cast("double")) * lit(1000000.0))
          .cast("long").as("lp_q"))
    val perDoc = docBg.join(broadcast(lp), "bg")
      .groupBy("doc_id")
      .agg(sum("lp_q").as("sq"), count(lit(1)).as("n_bigrams"))
    tbl(s, dir, "documents").select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        ((-col("sq")).cast("double") /
          (col("n_bigrams").cast("double") * lit(1000000.0))).as("avg_nll"))
  }

  private val bigramLmScoreSql =
    s"""WITH tk AS (
       |  SELECT doc_id, $sqlLowerToks AS t FROM documents
       |), bg AS (
       |  SELECT doc_id, unnest(${OracleSql.shingleList(2)}) AS bg FROM tk
       |), cab AS (
       |  SELECT bg, count(*) AS cab FROM bg GROUP BY bg
       |), cw AS (
       |  SELECT string_split(bg, ' ')[1] AS w1, sum(cab) AS cw1
       |  FROM cab GROUP BY 1
       |), v AS (
       |  SELECT count(DISTINCT token) AS v
       |  FROM (SELECT unnest(t) AS token FROM tk)
       |), lp AS (
       |  SELECT cab.bg,
       |         CAST(floor(ln(CAST(cab + 1 AS DOUBLE) /
       |                       CAST(cw1 + v AS DOUBLE)) * 1000000.0)
       |              AS BIGINT) AS lp_q
       |  FROM cab JOIN cw ON cw.w1 = string_split(cab.bg, ' ')[1]
       |  CROSS JOIN v
       |), pd AS (
       |  SELECT doc_id, sum(lp_q) AS sq, count(*) AS n_bigrams
       |  FROM bg JOIN lp USING (bg) GROUP BY doc_id
       |)
       |SELECT d.doc_id, coalesce(p.n_bigrams, 0) AS n_bigrams,
       |       CAST(-p.sq AS DOUBLE) /
       |         (CAST(p.n_bigrams AS DOUBLE) * 1000000.0) AS avg_nll
       |FROM documents d LEFT JOIN pd p USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // --------------------- language identification --------------------------

  /** Character-n-gram language identification (r15 verdict item 3) —
    * the CCNet-style pre-filter stage that routes documents BEFORE LM
    * scoring: a char-BIGRAM Naive-Bayes classifier with add-one
    * smoothing, trained on the corpus's own `lang`-labelled documents
    * (the standard fastText-style supervision signal, restated as a
    * deterministic aggregate so an independent SQL engine rebuilds the
    * identical model). Per (lang, bigram): log P(bg|lang) =
    * ln((c+1)/(n_lang+V)) quantized to µ-nats (floor·10⁶ — the exact
    * same engine-independence machinery as `x_lm_score`/`x_lm_bigram`),
    * so per-doc scores are EXACT integer sums (unseen bigrams take the
    * lang's smoothed floor) and the argmax is bit-identical across
    * engines (score desc, lang asc tie-break).
    *
    * The driver fixture's `lang` tags are uncorrelated with its (shared-
    * vocabulary) text, so accuracy there is chance — the hash gate pins
    * the MECHANISM; `LangIdSpec` pins real discrimination on a
    * multilingual fixture where the classifier must score ≥ 0.9.
    *
    * Scale: the model is bounded (langs × observed bigrams ≈ alphabet²,
    * KBs even at 100 TB) — both scoring joins broadcast it; the bigram
    * stream never leaves the row raw: the codegen `term_histogram`
    * collapses each doc's bigrams to (bg, c) pairs IN-ROW before any
    * exchange (the x_lm_score lesson — char bigrams repeat in-doc far
    * more than words, ~2–10× on text), the per-doc instance total is
    * pure scan-side arithmetic (length−1, no aggregation), and the
    * per-(doc, lang) partial sums map-side-combine into a doc-keyed
    * shuffle of L rows/doc (L = lang count). Three corpus scans total
    * (ADVICE r16 ledger fix: `h` is a def recomputed for the model AND
    * the seen aggregation, and the scored pass reads `d` again) — the
    * deliberate no-checkpoint trade documented below prices each extra
    * scan at one codegen histogram pass instead of a pinned
    * corpus-sized block. */
  private def langId(s: SparkSession, dir: String): DataFrame = {
    // DENSE scan gate: the per-doc bigram-histogram sort inverts the
    // 32 MB exchange-vs-compute economics (sf1's 15 MB input planned 2
    // tasks and spent 10 s in the histogram; wide it is ~1 s)
    val d = graft.parallelScanDense(s,
        tbl(s, dir, "documents").select(col("doc_id"), col("lang"),
          col("text")))
      .select(col("doc_id"), col("lang"),
        trim(lower(col("text"))).as("s"))
    langIdScore(d).orderBy("doc_id")
  }

  /** Driver-side row cap on the collected NB model for the in-row
    * scoring arm (langs × observed char bigrams — alphabet²-bounded,
    * KBs on any real corpus). Past the cap the chain arm below runs
    * unchanged — the same bounded-collect-with-loud-degradation
    * pattern as [[graft.ops.HotKeys.MaxHotKeys]]. */
  private val NbModelRowCap = 1L << 20

  /** The NB train+score chain over any (doc_id, lang, s) frame —
    * factored out (r16 verdict item 5) so the planted-accuracy gate
    * [[langIdPlanted]] runs the IDENTICAL model code on a corpus whose
    * labels actually correlate with the text. `d` is consumed twice
    * (model + in-row score) in the primary arm; three times in the
    * over-cap chain arm — see the ledger note above.
    *
    * OPTIMIZATION r18 (guide §2.3/§2.4): the model is corpus-bounded,
    * so scoring does not need to shuffle the corpus at all. The primary
    * arm collects the model (row-capped, loud fallback) and scores
    * every language IN-ROW through the baked
    * [[graft.functions.NbLangScore]] expression — deleting the per-(doc,
    * lang) `seen` exchange, the n·L scored join, and the per-doc
    * argmax window sort that the chain pays (3 corpus-keyed exchanges
    * + 1 corpus scan). The µ-nat integer law is restated through the
    * exact Long identity Σc·lp + (n_bg−n_seen)·lpu = n_bg·lpu +
    * Σc·(lp−lpu) — no new rounding sites — and `LangIdSpec` pins the
    * two arms row-for-row equal; the DuckDB oracle gates the primary
    * arm every round (the SQL restates the chain). */
  private[graft] def langIdScore(d: DataFrame,
      modelRowCap: Long = NbModelRowCap): DataFrame = {
    // model aggregate over RAW bigram instances (r18: char_bigrams, no
    // per-doc histogram sort — the hash aggregate's map-side combine
    // already collapses instances, so the sort bought nothing; see
    // graft.functions.CharBigrams). groupBy counts instances, identical to
    // the old sum-of-histogram-tf by construction.
    val model = d
      .select(col("lang"), explode(TextF.charBigrams(col("s"))).as("bg"))
      .groupBy(col("lang").as("mlang"), col("bg"))
      .agg(count(lit(1)).as("c"))
    // bounded model collect (bg as binary: exact bytes, no UTF-16
    // round-trip); InRowModel.boundedCollect fetches cap+1 so an
    // over-cap model is detected, not truncated
    InRowModel.boundedCollect(
      model
        .select(col("mlang"), col("bg").cast("binary").as("bgb"), col("c")),
      modelRowCap, "x_lang_id") match {
      case Some(collected) => langIdScoreInRow(d, collected)
      case None => langIdScoreChain(d, model)
    }
  }

  /** Primary arm: driver-built model, one scoring scan, zero corpus
    * shuffle. Arithmetic is the chain's, restated exactly (see
    * [[graft.functions.NbLangModel]]). */
  private def langIdScoreInRow(d: DataFrame,
      collected: Array[org.apache.spark.sql.Row]): DataFrame = {
    import org.apache.spark.unsafe.types.UTF8String
    // langs ascending by UTF-8 binary order — the chain's `mlang` asc
    // tie-break (Spark/DuckDB both compare strings as binary)
    val langs = collected.map(_.getString(0)).distinct
      .sortWith((a, b) =>
        UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0)
    val li = langs.zipWithIndex.toMap
    val L = langs.length
    val nl = new Array[Long](L)
    collected.foreach(r => nl(li(r.getString(0))) += r.getLong(2))
    // v = countDistinct(bg) over the model — dedup on exact bytes
    val bgIdx = new java.util.LinkedHashMap[UTF8String, Int]()
    collected.foreach { r =>
      val key = UTF8String.fromBytes(r.getAs[Array[Byte]](1))
      if (!bgIdx.containsKey(key)) bgIdx.put(key, bgIdx.size())
    }
    val v = bgIdx.size().toLong
    // lpu_q(l) = floor(ln(1.0/(nl+V))·10⁶); lp_q = floor(ln((c+1)/(nl+V))
    // ·10⁶) — the chain's exact double expression trees (Math.log/floor,
    // Long→Double casts), evaluated once per model row on the driver
    val lpu = Array.tabulate(L)(l =>
      InRowModel.muNatLog(1.0, (nl(l) + v).toDouble))
    val bgBytes = new Array[Array[Byte]](bgIdx.size())
    val delta = Array.fill(bgIdx.size())(new Array[Long](L))
    collected.foreach { r =>
      val bytes = r.getAs[Array[Byte]](1)
      val i = bgIdx.get(UTF8String.fromBytes(bytes))
      if (bgBytes(i) == null) bgBytes(i) = bytes
      val l = li(r.getString(0))
      val lp = InRowModel.muNatLog((r.getLong(2) + 1).toDouble,
        (nl(l) + v).toDouble)
      delta(i)(l) = lp - lpu(l)
    }
    val nbModel = new graft.functions.NbLangModel(langs, lpu, bgBytes, delta)
    val scored = TextF.nbLangScore(col("s"), nbModel)
    // two stacked selects: CollapseProject keeps the non-cheap scorer
    // single-evaluated (one nb_lang_score per row in the final plan)
    d.select(col("doc_id"), col("lang"), scored.as("r"))
      .select(col("doc_id"), col("lang"),
        col("r.pred_lang").as("pred_lang"),
        col("r.n_bigrams").as("n_bigrams"),
        col("r.score_q").as("score_q"))
  }

  /** Over-cap arm: the pre-r18-optimization exploded-join chain,
    * byte-identical output (LangIdSpec pins equality with the in-row
    * arm on the fixture). */
  private def langIdScoreChain(d: DataFrame, modelRaw: DataFrame)
      : DataFrame = {
    def h = d.select(col("doc_id"), col("lang"),
      explode(TextF.charBigramHistogram(col("s"))).as("hh"))
      .select(col("doc_id"), col("lang"), col("hh.term").as("bg"),
        col("hh.tf").as("c"))
    val model = modelRaw
      .localCheckpoint() // model-sized; feeds totals + both lp tables
    val nl = model.groupBy("mlang").agg(sum("c").as("nl"))
    val v = model.agg(countDistinct("bg").as("v"))
    val lp = model.join(nl, "mlang").crossJoin(broadcast(v))
      .select(col("mlang"), col("bg"),
        floor(log((col("c") + 1).cast("double") /
          (col("nl") + col("v")).cast("double")) * lit(1000000.0))
          .cast("long").as("lp_q"))
    val lpu = nl.crossJoin(broadcast(v))
      .select(col("mlang"),
        floor(log(lit(1.0) / (col("nl") + col("v")).cast("double")) *
          lit(1000000.0)).cast("long").as("lpu_q"))
    val seen = h.join(broadcast(lp), "bg")
      .groupBy("doc_id", "mlang")
      .agg(sum(col("lp_q") * col("c")).as("sq"), sum("c").as("n_seen"))
    val scored = d
      .select(col("doc_id"), col("lang"),
        greatest(length(col("s")) - 1, lit(0)).cast("long").as("n_bg"))
      .crossJoin(broadcast(lpu))
      .join(seen, Seq("doc_id", "mlang"), "left")
      .select(col("doc_id"), col("lang"), col("mlang"),
        (coalesce(col("sq"), lit(0L)) +
          (col("n_bg") - coalesce(col("n_seen"), lit(0L))) * col("lpu_q"))
          .as("score_q"),
        col("n_bg").as("n_bigrams"))
    val rk = row_number().over(Window.partitionBy("doc_id")
      .orderBy(col("score_q").desc, col("mlang")))
    scored.withColumn("rk", rk).filter(col("rk") === 1)
      .select(col("doc_id"), col("lang"), col("mlang").as("pred_lang"),
        col("n_bigrams"), col("score_q"))
  }

  private val langIdSql =
    s"""WITH d AS (
       |  SELECT doc_id, lang, trim(lower(text)) AS s FROM documents
       |), bg AS (
       |  SELECT doc_id, lang,
       |         unnest(CASE WHEN length(s) < 2 THEN []::VARCHAR[]
       |                ELSE list_transform(range(1, length(s)),
       |                                    i -> s[i:i+1]) END) AS bg
       |  FROM d
       |), model AS (
       |  SELECT lang AS mlang, bg, count(*) AS c FROM bg GROUP BY 1, 2
       |), nl AS (
       |  SELECT mlang, sum(c) AS nl FROM model GROUP BY 1
       |), v AS (
       |  SELECT count(DISTINCT bg) AS v FROM model
       |), lp AS (
       |  SELECT m.mlang, m.bg,
       |         CAST(floor(ln(CAST(m.c + 1 AS DOUBLE) /
       |                       CAST(nl.nl + v.v AS DOUBLE)) * 1000000.0)
       |              AS BIGINT) AS lp_q
       |  FROM model m JOIN nl USING (mlang) CROSS JOIN v
       |), lpu AS (
       |  SELECT mlang,
       |         CAST(floor(ln(1.0 / CAST(nl.nl + v.v AS DOUBLE))
       |                    * 1000000.0) AS BIGINT) AS lpu_q
       |  FROM nl CROSS JOIN v
       |), seen AS (
       |  SELECT b.doc_id, l.mlang, sum(l.lp_q) AS sq, count(*) AS n_seen
       |  FROM bg b JOIN lp l USING (bg) GROUP BY 1, 2
       |), nbg AS (
       |  SELECT doc_id, count(*) AS n_bg FROM bg GROUP BY 1
       |)
       |SELECT doc_id, lang, pred_lang, n_bigrams, score_q FROM (
       |  SELECT d.doc_id, d.lang, u.mlang AS pred_lang,
       |         CAST(coalesce(n.n_bg, 0) AS BIGINT) AS n_bigrams,
       |         CAST(coalesce(s.sq, 0) +
       |           (coalesce(n.n_bg, 0) - coalesce(s.n_seen, 0)) * u.lpu_q
       |           AS BIGINT) AS score_q,
       |         row_number() OVER (PARTITION BY d.doc_id
       |           ORDER BY coalesce(s.sq, 0) +
       |             (coalesce(n.n_bg, 0) - coalesce(s.n_seen, 0)) * u.lpu_q
       |             DESC, u.mlang) AS rk
       |  FROM d CROSS JOIN lpu u
       |  LEFT JOIN nbg n ON n.doc_id = d.doc_id
       |  LEFT JOIN seen s ON s.doc_id = d.doc_id AND s.mlang = u.mlang
       |) WHERE rk = 1 ORDER BY doc_id""".stripMargin

  /** Four synthetic languages with DISJOINT letter inventories (plus a
    * shared ' qq' suffix so vocabularies overlap a little): the planted
    * corpus law below assigns each doc a language by hash and spells
    * its text from that language's word list, so a working char-bigram
    * NB must hit ~1.0 accuracy and a broken one cannot reach the 0.9
    * gate by luck. Keep in lockstep with the oracle SQL. */
  private val PlantLangs = Seq("lva", "lvb", "lvc", "lvd")
  private val PlantVocab = Seq(
    "arda", "abra", "anda", "arna", // lva ⊂ {a,b,d,n,r}
    "este", "eket", "emse", "ekte", // lvb ⊂ {e,k,m,s,t}
    "ifgi", "ivli", "igfi", "ilvi", // lvc ⊂ {f,g,i,l,v}
    "ozco", "oyzo", "ocyo", "ozyo") // lvd ⊂ {c,o,y,z}

  /** Discriminative STANDING gate for `x_lang_id` (r16 verdict item 5):
    * the driver fixture's `lang` labels are uncorrelated with its text
    * (accuracy ≈ chance), so the registered `x_lang_id` hash gate pins
    * the NB mechanism only. Here the corpus is PLANTED inside both
    * engines by the same deterministic law — lang = hash(doc_id) % 4
    * over [[PlantLangs]], text = 6..10 words drawn from that lang's
    * [[PlantVocab]] quarter by pure integer arithmetic — and the exact
    * [[langIdScore]] chain trains and scores it. Output is per-lang
    * (n_docs, accuracy ≥ 0.9?): the oracle restates n_docs from the
    * hash law and the threshold as literal TRUE, so a classifier
    * regression (accuracy < 0.9 on ANY planted language) breaks the
    * hash compare — discrimination itself is oracle-gated, not
    * spec-only. */
  private def langIdPlanted(s: SparkSession, dir: String): DataFrame = {
    val h = HashF.tokenHash(col("doc_id").cast("string"))
    val li = h % 4
    val vocabArr = array(PlantVocab.map(lit): _*)
    val langArr = array(PlantLangs.map(lit): _*)
    val text = concat(concat_ws(" ",
      transform(sequence(lit(0L), lit(5L) + h % 5),
        j => element_at(vocabArr,
          (li * 4 + (h + j * (lit(1L) + h % 7)) % 4 + 1).cast("int")))),
      lit(" qq"))
    val d = tbl(s, dir, "documents").select(col("doc_id"))
      .select(col("doc_id"),
        element_at(langArr, (li + 1).cast("int")).as("lang"),
        text.as("s"))
    langIdScore(d)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        avg((col("pred_lang") === col("lang")).cast("double")).as("acc"))
      .select(col("lang"), col("n_docs"),
        (col("acc") >= lit(0.9)).as("acc_ge_090"))
      .orderBy("lang")
  }

  private val langIdPlantedSql =
    s"""WITH hh AS (
       |  SELECT ${OracleSql.hash("CAST(doc_id AS VARCHAR)")} AS h
       |  FROM documents
       |)
       |SELECT CASE h % 4 WHEN 0 THEN 'lva' WHEN 1 THEN 'lvb'
       |            WHEN 2 THEN 'lvc' ELSE 'lvd' END AS lang,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       TRUE AS acc_ge_090
       |FROM hh GROUP BY 1 ORDER BY lang""".stripMargin

  // -------------------------- incremental dedup ---------------------------

  /** Where the corpus index ends and the "new batch" begins: doc_id ≥ 400
    * plays the role of today's crawl increment. */
  private val IncrSplit = 400

  /** Incremental near-dup dedup — the daily-production shape of MinHash
    * dedup: today's batch is checked against the EXISTING corpus index
    * (and earlier docs of its own batch) instead of re-pairing the whole
    * corpus. A new doc's `dup_of` is its lowest-id LSH band-collision
    * partner; `keep` marks batch docs that collide with nothing older.
    *
    * Plan shape: the band signatures ARE the persistent index
    * (`x_minhash_signatures` materializes them once); per day only the
    * new batch's bands join against it — cost tracks the BATCH's
    * collision volume, not corpus². At 100 TB the new-batch band table
    * is the broadcast side and the index is only ever probed, never
    * re-shuffled. Candidate generation is shared verbatim with
    * `x_minhash_lsh_pairs`/`x_dedup_components`
    * ([[ExtQueries.lshCandParts]]). */
  private def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val (_, cand) = ExtQueries.lshCandParts(s, dir)
    // cand has doc_a < doc_b, so doc_b is always the newer side
    val hits = cand.filter(col("doc_b") >= IncrSplit)
      .groupBy(col("doc_b").as("doc_id"))
      .agg(min("doc_a").as("dup_of"))
    tbl(s, dir, "documents").filter(col("doc_id") >= IncrSplit)
      .select("doc_id")
      .join(broadcast(hits), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        col("dup_of").isNull.as("keep"))
      .orderBy("doc_id")
  }

  private val dedupIncrementalSql =
    s"""WITH ${ExtQueries.lshCandCtes},
       |hits AS (
       |  SELECT doc_b AS doc_id, min(doc_a) AS dup_of FROM cand
       |  WHERE doc_b >= $IncrSplit GROUP BY doc_b
       |)
       |SELECT d.doc_id, coalesce(h.dup_of, -1) AS dup_of,
       |       h.dup_of IS NULL AS keep
       |FROM documents d LEFT JOIN hits h USING (doc_id)
       |WHERE d.doc_id >= $IncrSplit
       |ORDER BY doc_id""".stripMargin

  // --------------------------- PMI collocations ---------------------------

  /** Bigrams rarer than this are too noisy to score. */
  private val PmiMinCount = 3

  private val PmiTopN = 50

  /** PMI collocation mining — the phrase-detection pass (word2vec's
    * phrase pass, Mikolov et al.) that decides which adjacent token
    * pairs ("new york") should fuse into single vocabulary units before
    * tokenizer training. PMI = log(c_ab·N / (c_a·c_b)); since log is
    * monotone, ranking by the RAW RATIO in ppm avoids transcendental
    * functions entirely — `(c_ab·N·10⁶) div (c_a·c_b)` is exact integer
    * math, bit-identical cross-engine (the same trick as the quantized
    * idf in `x_tfidf_topterms`). Ties at the top-N boundary break on the
    * bigram text.
    *
    * Scale: two map-side-combined wordcounts (unigram, bigram) and two
    * joins keyed on the bigram's member words — the unigram table is
    * vocabulary-sized (Zipf ⇒ MBs at 100 TB, broadcastable); the top-N
    * is TakeOrderedAndProject, never a global sort. BIGINT headroom:
    * c_ab·N·10⁶ < 2⁶³ up to ~10¹² total tokens; past that the ratio
    * computes in decimal(38). */
  // OPTIMIZATION r18, examined and REJECTED: an in-row collected-model
  // ratio arm (driver-built unigram table + a pmi_ratio expression
  // replacing both word-keyed joins and the crossJoin) measured WORSE in
  // alternating A/Bs — sf0.1 0.563 vs 0.547 chain min, sf1 2.855 vs
  // 2.614 — because the chain's uni and bi scans overlap inside one job
  // while the collect serializes them, and the joins it deletes are
  // vocabulary-sized (bounded at any SF, unlike the corpus-keyed
  // exchanges the lm_bigram/tfidf/decontaminate rewrites delete). The
  // join chain stays; see OPTIMIZATION_r18.md.
  private def pmiBigrams(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.parallelScan(s,
        tbl(s, dir, "documents").select(col("doc_id"), col("text")))
      .select(col("doc_id"), TextF.lowerTokens(col("text")).as("toks"))
    // unigram counts aggregate per-document HISTOGRAMS (the codegen
    // term-histogram expression): words repeat in-doc ~1.6× so the hash
    // aggregate sees distinct-terms-per-doc weighted by count (measured
    // 2.25 → 1.58 s at sf1). Bigrams are 96% unique WITHIN a doc, so a
    // histogram there pays the in-row sort for no compression (measured
    // 3.2 → 3.5 s) — the bigram count keeps the exploded-stream shape.
    val uni = toks
      .select(explode(TextF.termHistogram(col("toks"))).as("h"))
      .groupBy(col("h.term").as("w")).agg(sum("h.tf").as("cw"))
    // NOT checkpointed: AQE's runtime stage reuse already dedups the
    // identical unigram shuffle across its three consumers, and an eager
    // checkpoint splits the job so the bigram scan stops overlapping
    // (measured 2.6 → 4.6 s at sf1 with the checkpoint)
    val bi = toks
      .select(explode(TextF.shinglesFromTokens(col("toks"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= PmiMinCount)
    // N = Σ c_w over the vocabulary — exactly the total token count, but
    // derived from the unigram aggregate instead of a THIRD corpus
    // scan+tokenize (the unigram exchange is reused, so this is a
    // vocabulary-sized fold)
    val n = uni.agg(sum("cw").as("n"))
    bi.withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
      .join(uni.withColumnsRenamed(Map("w" -> "w1", "cw" -> "c1")), "w1")
      .join(uni.withColumnsRenamed(Map("w" -> "w2", "cw" -> "c2")), "w2")
      .crossJoin(broadcast(n))
      .select(col("bigram"), col("cab"),
        expr("(cab * n * 1000000) div (c1 * c2)").as("ratio_ppm"))
      .orderBy(col("ratio_ppm").desc, col("bigram"))
      .limit(PmiTopN)
  }

  private val pmiBigramsSql =
    s"""WITH toks AS (
       |  SELECT doc_id, $sqlLowerToks AS t FROM documents
       |), uni AS (
       |  SELECT w, count(*) AS cw
       |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
       |), bi AS (
       |  SELECT bigram, count(*) AS cab
       |  FROM (SELECT unnest(${OracleSql.shingleList(2)}) AS bigram
       |        FROM toks)
       |  GROUP BY bigram HAVING count(*) >= $PmiMinCount
       |), n AS (
       |  SELECT CAST(sum(len(t)) AS BIGINT) AS n FROM toks
       |)
       |SELECT bigram, cab,
       |       CAST((cab * n.n * 1000000) //
       |            (c1.cw * c2.cw) AS BIGINT) AS ratio_ppm
       |FROM bi CROSS JOIN n
       |JOIN uni c1 ON c1.w = string_split(bigram, ' ')[1]
       |JOIN uni c2 ON c2.w = string_split(bigram, ' ')[2]
       |ORDER BY ratio_ppm DESC, bigram LIMIT $PmiTopN""".stripMargin

  val all: Map[String, QueryDef] = Map(
    "x_pmi_bigrams" -> QueryDef(pmiBigrams, Some(pmiBigramsSql),
      bench = true),
    "x_dedup_incremental" -> QueryDef(dedupIncremental,
      Some(dedupIncrementalSql)),
    // round 16 (r15 verdict item 3): the LID pre-filter stage
    "x_lang_id" -> QueryDef(langId, Some(langIdSql), bench = true,
      benchNote = Some("char-bigram Naive-Bayes LID, corpus-trained: " +
        "since the r18 optimization the bounded model is COLLECTED " +
        "(row-capped, loud chain fallback) and every language scores " +
        "in-row on one scan - the corpus never shuffles; mu-nat " +
        "integer scores, same machinery as x_lm_score/x_lm_bigram")),
    // round 17 (r16 verdict item 5): discrimination itself oracle-gated
    "x_lang_id_planted" -> QueryDef(langIdPlanted, Some(langIdPlantedSql)),
    "x_lm_score" -> QueryDef(lmScore, Some(lmScoreSql)),
    "x_lm_bigram" -> QueryDef(bigramLmScore, Some(bigramLmScoreSql),
      bench = true, order = Seq(col("doc_id"))),
    "x_decontaminate" -> QueryDef(decontaminate, Some(decontaminateSql),
      bench = true, order = Seq(col("doc_id"))),
    "x_repetition_filter" -> QueryDef(repetitionFilter,
      Some(repetitionFilterSql)),
    "x_vocab_build" -> QueryDef(vocabBuild, Some(vocabBuildSql)),
    // round 17: the tokenize-to-ids stage after vocabulary construction
    "x_encode_ids" -> QueryDef(encodeIds, Some(encodeIdsSql))
  )
}
