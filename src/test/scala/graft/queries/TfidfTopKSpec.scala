package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins for the r18-optimized `x_tfidf_topterms`: the in-row arm
  * (collected IDF table + `tfidf_topk` expression) must equal the
  * checkpoint + join + window chain row-for-row — including the window's
  * (score DESC, term ASC) tie-break at the k boundary and docs with
  * < 3 distinct terms — and the integer idf law must match a plain-Scala
  * restatement. */
class TfidfTopKSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(rows: Seq[(Long, String)]): String = {
    val dir = tempDir("graft_tfidf")
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private val docs: Seq[(Long, String)] = Seq(
    (1L, "apple banana cherry apple banana apple"),
    (2L, "banana cherry date cherry date date"),
    // equal-tf singletons → equal scores: the ASC-term tie-break decides
    // which three of the four survive the k boundary
    (3L, "zebra yak xerus walrus"),
    (4L, "apple apple apple"), // single distinct term → 1 output row
    (5L, "one two"), // two distinct terms → 2 output rows
    (6L, ""), // no tokens → no output rows
    (7L, "the the the quick quick fox")) // mixed tfs

  test("in-row arm equals the chain arm row-for-row (tie-break at the " +
      "k boundary and short docs included)") {
    val dir = corpus(docs)
    val inRow = TrainPrepQueries
      .tfidfTopTermsImpl(spark, dir, modelRowCap = 1L << 20)
      .orderBy("doc_id", "rn").collect().toSeq
    // modelRowCap = 0 forces the over-cap chain arm
    val chain = TrainPrepQueries
      .tfidfTopTermsImpl(spark, dir, modelRowCap = 0)
      .orderBy("doc_id", "rn").collect().toSeq
    assert(inRow === chain)
    // short docs emit one row per distinct term, empty docs none
    assert(inRow.count(_.getLong(0) == 4L) === 1)
    assert(inRow.count(_.getLong(0) == 5L) === 2)
    assert(inRow.count(_.getLong(0) == 6L) === 0)
  }

  test("scores match a plain-Scala restatement of the integer idf law " +
      "and rank by (score desc, term asc)") {
    val dir = corpus(docs)
    val out = graft.SparkEntry.queries("x_tfidf_topterms")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getInt(4)))
    val toks = docs.map { case (id, t) =>
      id -> t.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).toSeq }
    val dfm = toks.flatMap { case (_, ts) => ts.distinct }
      .groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val n = toks.count(_._2.nonEmpty).toLong
    def idf(t: String): Long = (1000000L * (n + 1)) / (dfm(t) + 1)
    val expected = toks.flatMap { case (id, ts) =>
      val scored = ts.groupBy(identity).toSeq
        .map { case (t, xs) => (t, xs.size.toLong, xs.size * idf(t)) }
        .sortBy { case (t, _, sc) => (-sc, t) }
        .take(3).zipWithIndex
        .map { case ((t, tf, sc), i) => (id, t, tf, sc, i + 1) }
      scored
    }.sortBy(r => (r._1, r._5))
    assert(out.sortBy(r => (r._1, r._5)).toSeq === expected)
  }
}

/** Arm-equality pin for the r18-optimized `x_bm25_topterms` — the tfidf
  * rewrite with the BM25 saturation law (double scores, the
  * floor→Long→double truncation). */
class Bm25Spec extends SparkSpec {
  import spark.implicits._

  private def corpus(rows: Seq[(Long, String)]): String = {
    val dir = tempDir("graft_bm25")
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("in-row arm equals the chain arm row-for-row (saturation " +
      "doubles, tie-breaks and short docs included)") {
    val dir = corpus(Seq(
      (1L, "apple banana cherry apple banana apple"),
      (2L, "banana cherry date cherry date date"),
      (3L, "zebra yak xerus walrus"), // equal-score tie at the k boundary
      (4L, "apple apple apple"),
      (5L, "one two"),
      (6L, ""),
      (7L, "the the the quick quick fox")))
    val inRow = TrainPrepQueries
      .bm25TopTermsImpl(spark, dir, modelRowCap = 1L << 20)
      .collect().toSeq
    // modelRowCap = 0 forces the over-cap chain arm
    val chain = TrainPrepQueries.bm25TopTermsImpl(spark, dir, modelRowCap = 0)
      .collect().toSeq
    assert(inRow === chain)
    assert(inRow.nonEmpty)
    // spot-check rank ordering and the dl column (= token count)
    val d7 = inRow.filter(_.getLong(0) == 7L)
    assert(d7.map(_.getInt(5)) === (1 to d7.length))
    assert(d7.forall(_.getLong(3) === 6L)) // "the the the quick quick fox"
  }
}
