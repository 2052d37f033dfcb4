package graft.plans

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.SparkSpec
import graft.functions.{CharBigramHistogram, TextF}

/** Semantic guarantees of the codegen char-bigram histogram: the
  * exploded histogram must equal the composed
  * `transform(sequence(1, length-1), i -> substring(s, i, 2))` +
  * term_histogram chain it replaces in `x_lang_id` — including
  * multi-byte code points, where both sides index by CODE POINT. */
class CharBigramHistogramSpec extends SparkSpec {
  import spark.implicits._

  private val composed = expr(
    """CASE WHEN length(s) < 2 THEN array()
      |ELSE transform(sequence(1, length(s) - 1),
      |               i -> substring(s, i, 2)) END""".stripMargin)

  private def nativeRows(docs: Seq[(Long, String)]): Set[(Long, String, Long)] =
    docs.toDF("doc_id", "s")
      .select(col("doc_id"),
        explode(TextF.charBigramHistogram(col("s"))).as("h"))
      .select(col("doc_id"), col("h.term"), col("h.tf"))
      .as[(Long, String, Long)].collect().toSet

  private def composedRows(docs: Seq[(Long, String)]): Set[(Long, String, Long)] =
    docs.toDF("doc_id", "s")
      .select(col("doc_id"),
        explode(TextF.termHistogram(composed)).as("h"))
      .select(col("doc_id"), col("h.term"), col("h.tf"))
      .as[(Long, String, Long)].collect().toSet

  test("native ≡ composed transform+substring chain on random text, " +
      "ASCII and multi-byte") {
    val piece = Gen.oneOf("a", "b", "ab", " ", "", "1", "é", "日本", "語",
      "xy z", ".")
    val doc = Gen.chooseNum(0, 25)
      .flatMap(n => Gen.listOfN(n, piece).map(_.mkString))
    val docs = Gen.listOfN(40, doc).sample.get
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    assert(nativeRows(docs) === composedRows(docs))
  }

  test("edge docs: empty, one char, two chars, repeated runs") {
    val docs = Seq((1L, ""), (2L, "x"), (3L, "xy"), (4L, "aaaa"),
      (5L, "日本語"))
    assert(nativeRows(docs) === Set(
      (3L, "xy", 1L),
      (4L, "aa", 3L),
      (5L, "日本", 1L), (5L, "本語", 1L)))
    assert(nativeRows(docs) === composedRows(docs))
  }

  test("r18: raw char_bigrams counted == char_bigram_histogram on the " +
      "same random text (the model-aggregate equivalence)") {
    val piece = Gen.oneOf("a", "b", "ab", " ", "", "1", "é", "日本", "語",
      "xy z", ".")
    val doc = Gen.chooseNum(0, 25)
      .flatMap(n => Gen.listOfN(n, piece).map(_.mkString))
    val docs = Gen.listOfN(40, doc).sample.get
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val counted = docs.toDF("doc_id", "s")
      .select(col("doc_id"), explode(TextF.charBigrams(col("s"))).as("bg"))
      .groupBy("doc_id", "bg").count()
      .as[(Long, String, Long)].collect().toSet
    assert(counted === nativeRows(docs))
    // null → null array; <2 chars → empty
    val edge = Seq((1L, Option.empty[String]), (2L, Some("x")))
      .toDF("doc_id", "s")
      .select(TextF.charBigrams(col("s")).isNull,
        coalesce(size(TextF.charBigrams(col("s"))), lit(-1)))
      .as[(Boolean, Int)].collect().toSeq
    assert(edge === Seq((true, -1), (false, 0)))
  }

  test("NULL string → NULL histogram; eval path matches the reference " +
      "counter") {
    val r = Seq((1L, Option.empty[String])).toDF("doc_id", "s")
      .select(TextF.charBigramHistogram(col("s")).isNull)
      .as[Boolean].head()
    assert(r)
    val m = CharBigramHistogram.referenceCounts("abab")
    assert(m === Map("ab" -> 2L, "ba" -> 1L))
  }
}
