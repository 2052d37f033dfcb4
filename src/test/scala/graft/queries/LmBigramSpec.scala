package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins for the r18-optimized `x_lm_bigram`: the in-row scoring arm
  * (collected vocabulary-bounded model + `bigram_lm_sum` expression)
  * must equal the exploded-join chain arm row-for-row — including the
  * degenerate docs (empty, one-token, n_bigrams = 0 → NULL avg_nll)
  * whose semantics the chain gets from its left join — and the µ-nat
  * sums must match a plain-Scala restatement of the add-one bigram law. */
class LmBigramSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(rows: Seq[(Long, String)]): String = {
    val dir = tempDir("graft_lmbigram")
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private val docs: Seq[(Long, String)] = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox naps under the old tree"),
    (3L, "she sells sea shells by the sea shore all day"),
    (4L, "sea shells she sells by the shore"), // shuffled word order
    (5L, "one"), // single token → 0 bigrams
    (6L, ""), // empty → 0 tokens
    (7L, "  the   quick  "), // whitespace runs; one bigram
    (8L, "The QUICK brown FOX")) // case folding

  test("in-row arm equals the chain arm row-for-row, degenerate docs " +
      "included (0-bigram docs keep NULL avg_nll)") {
    val dir = corpus(docs)
    val inRow = CurateQueries
      .bigramLmScoreImpl(spark, dir, modelRowCap = 1L << 20)
      .orderBy("doc_id").collect().toSeq
    // modelRowCap = 0 forces the over-cap chain arm
    val chain = CurateQueries.bigramLmScoreImpl(spark, dir, modelRowCap = 0)
      .orderBy("doc_id").collect().toSeq
    assert(inRow === chain)
    assert(inRow.length === docs.length)
    val oneTok = inRow.find(_.getLong(0) == 5L).get
    assert(oneTok.getLong(1) === 0L) // n_bigrams
    assert(oneTok.isNullAt(2)) // avg_nll NULL, the chain's left-join miss
  }

  test("in-row mu-nat sums match a plain-Scala restatement of the " +
      "add-one bigram law") {
    val dir = corpus(docs)
    val out = graft.SparkEntry.queries("x_lm_bigram")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toMap
    // reference model in plain Scala
    val toks = docs.map { case (id, t) =>
      id -> t.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).toSeq }
    val bgs = toks.flatMap { case (id, ts) =>
      ts.sliding(2).filter(_.length == 2).map(p => (id, p.mkString(" "))) }
    val cab = bgs.groupBy(_._2).map { case (b, xs) => b -> xs.size.toLong }
    val cw1 = cab.groupBy(_._1.split(" ")(0))
      .map { case (w, xs) => w -> xs.values.sum }
    val v = toks.flatMap(_._2).distinct.size.toLong
    def lpQ(bg: String): Long =
      math.floor(java.lang.StrictMath.log((cab(bg) + 1).toDouble /
        (cw1(bg.split(" ")(0)) + v).toDouble) * 1e6).toLong
    toks.foreach { case (id, ts) =>
      val pairs = ts.sliding(2).filter(_.length == 2)
        .map(_.mkString(" ")).toSeq
      val (n, nll) = out(id)
      assert(n === pairs.length.toLong, s"doc $id n_bigrams")
      if (pairs.isEmpty) assert(nll.isEmpty, s"doc $id avg_nll")
      else {
        val sq = pairs.map(lpQ).sum
        assert(nll.contains(-sq.toDouble / (n.toDouble * 1e6)),
          s"doc $id avg_nll")
      }
    }
  }
}

/** Arm-equality pin for the r18-optimized `x_lm_score` — the width-1
  * twin of the bigram rewrite, same fixture and degenerate docs. */
class LmScoreSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(rows: Seq[(Long, String)]): String = {
    val dir = tempDir("graft_lmscore")
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("width-1 in-row arm equals its chain arm row-for-row " +
      "(degenerate docs included, unigram law)") {
    val dir = corpus(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox naps under the old tree"),
      (3L, "she sells sea shells by the sea shore all day"),
      (5L, "one"),
      (6L, ""), // empty → 0 tokens
      (7L, "  the   quick  ")))
    val inRow = CurateQueries.lmScoreImpl(spark, dir, 1L << 20)
      .orderBy("doc_id").collect().toSeq
    // modelRowCap = 0 forces the over-cap chain arm
    val chain = CurateQueries.lmScoreImpl(spark, dir, 0L)
      .orderBy("doc_id").collect().toSeq
    assert(inRow === chain)
    assert(inRow.length === 6)
    // the empty doc has no tokens: n_tok = 0, NULL avg_nll
    val empty = inRow.find(_.getLong(0) == 6L).get
    assert(empty.getLong(1) === 0L)
    assert(empty.isNullAt(2))
  }
}
