package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Semantic pins for `x_dedup_substring_excise` (the ExactSubstr
  * REMOVAL step, Lee et al. 2021 §4): on a hand-countable corpus the
  * excised position set must be the UNION of every duplicated window's
  * coverage — adjacent/overlapping duplicated windows merge (no
  * double-removal, no gap), self-repetition excises both instances,
  * fully-duplicated docs empty out, and sub-W / unique docs pass
  * through intact. */
class SubstringExciseSpec extends SparkSpec {
  import spark.implicits._

  private val W = 20

  private def corpus(rows: Seq[(Long, String)]): String = {
    val dir = tempDir("graft_substr_excise")
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def toks(prefix: String, n: Int): String =
    (0 until n).map(i => s"$prefix$i").mkString(" ")

  private def run(dir: String): Map[Long, (Long, Long, String)] =
    graft.SparkEntry.queries("x_dedup_substring_excise")(spark, dir)
      .select("doc_id", "n_tokens", "n_removed", "clean_text")
      .as[(Long, Long, Long, String)].collect()
      .map { case (id, nt, nr, ct) => id -> ((nt, nr, ct)) }.toMap

  test("cross-doc span excises at different offsets; unique and sub-W " +
      "docs pass through; removed count matches the surviving text") {
    val span = toks("dup", W) // exactly one window wide
    val ua = toks("ua", 5); val za = toks("za", 5)
    val ub = toks("ub", 11)
    val a = s"$ua $span $za" // span at offset 5
    val b = s"$ub $span"     // span at offset 11
    val u = toks("uniq", 40)
    val tiny = toks("t", W - 1)
    val out = run(corpus(Seq((1L, a), (2L, b), (3L, u), (4L, tiny))))
    assert(out(1L) === ((30L, 20L, s"$ua $za")))
    assert(out(2L) === ((31L, 20L, ub)))
    assert(out(3L) === ((40L, 0L, u)))           // untouched
    assert(out(4L) === ((19L, 0L, tiny)))        // no window to judge
    out.values.foreach { case (nt, nr, ct) =>
      val kept = if (ct.isEmpty) 0 else ct.split(" ").length
      assert(nt - nr === kept)
    }
  }

  test("OVERLAPPING duplicated windows merge: a 21-token shared run is " +
      "two windows but excises 21 positions, not 40") {
    val run21 = toks("sh", W + 1) // 21 tokens -> 2 windows, overlapping
    val tailC = toks("zc", 9)
    val c = s"$run21 $tailC"      // run at offset 0, 30 tokens
    val d = s"${toks("ud", 6)} $run21" // run at offset 6, 27 tokens
    val out = run(corpus(Seq((1L, c), (2L, d))))
    assert(out(1L) === ((30L, 21L, tailC)))
    assert(out(2L) === ((27L, 21L, toks("ud", 6))))
  }

  test("ADJACENT duplication via self-repetition: both instances excise; " +
      "a fully-duplicated doc empties to ''") {
    val span = toks("rep", W)
    val mid = toks("mid", 7)
    val e = s"$span $mid $span" // 47 tokens; covered 1..20 and 28..47
    val out = run(corpus(Seq((1L, e), (2L, span), (3L, span))))
    assert(out(1L) === ((47L, 40L, mid)))
    assert(out(2L) === ((20L, 20L, ""))) // whole doc duplicated
    assert(out(3L) === ((20L, 20L, "")))
  }
}
