package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Semantic pins for `x_dedup_substring` (ExactSubstr-style every-
  * position window dedup): the driver fixtures exercise the hash gate,
  * this spec builds a corpus where the window laws are countable by
  * hand — cross-document duplication is alignment-FREE (the same span
  * at different token offsets still collides), self-repetition counts,
  * and unique text scores zero. */
class SubstringDedupSpec extends SparkSpec {
  import spark.implicits._

  private val W = 20

  private def corpus(rows: Seq[(Long, String)]): String = {
    val dir = tempDir("graft_substr_dedup")
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def toks(prefix: String, n: Int): String =
    (0 until n).map(i => s"$prefix$i").mkString(" ")

  test("cross-doc duplicated span is caught at DIFFERENT offsets; " +
      "unique doc scores zero; short docs are absent") {
    val span = toks("dup", W) // exactly one window wide
    val a = s"${toks("ua", 5)} $span ${toks("za", 5)}" // span at offset 5
    val b = s"${toks("ub", 11)} $span"                 // span at offset 11
    val u = toks("uniq", 40)                           // no duplication
    val tiny = toks("t", W - 1)                        // < W tokens
    val dir = corpus(Seq((1L, a), (2L, b), (3L, u), (4L, tiny)))
    val out = graft.SparkEntry.queries("x_dedup_substring")(spark, dir)
      .select("doc_id", "n_windows", "n_dup_windows")
      .as[(Long, Long, Long)].collect()
      .map { case (k, v1, v2) => k -> ((v1, v2)) }.toMap
    // doc lengths: a = 30 toks -> 11 windows, b = 31 -> 12, u = 40 -> 21
    assert(out(1L) === ((11L, 1L))) // only the exact span window collides
    assert(out(2L) === ((12L, 1L)))
    assert(out(3L) === ((21L, 0L)))
    assert(!out.contains(4L)) // sub-W docs have no window to judge
  }

  test("self-repetition (in-document boilerplate) counts as duplication") {
    val span = toks("rep", W)
    val d = s"$span ${toks("mid", 7)} $span" // same span twice in ONE doc
    val dir = corpus(Seq((1L, d), (2L, toks("other", 25))))
    val row = graft.SparkEntry.queries("x_dedup_substring")(spark, dir)
      .filter(col("doc_id") === 1L)
      .select("n_windows", "n_dup_windows", "dup_frac")
      .as[(Long, Long, Double)].head()
    // 47 tokens -> 28 windows; the two identical span windows are the
    // only colliding pair (every other window straddles unique tokens)
    assert(row._1 === 28L)
    assert(row._2 === 2L)
    assert(math.abs(row._3 - 2.0 / 28.0) < 1e-6)
  }
}
