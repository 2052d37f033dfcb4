package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TextF

/** The [[graft.functions.TokenSetCount]] /
  * [[graft.functions.RollingTokenHash]] kernels ≡ their composed
  * filter/aggregate reference forms — the bit-compat contract that keeps
  * the x_text_stats oracle hashes stable across the swap. */
class TokenStatSpec extends SparkSpec {
  import spark.implicits._

  private def docToks = spark.read.parquet(s"$sf/documents.parquet")
    .select(col("doc_id"), TextF.lowerTokens(col("text")).as("lt"))

  test("tokenSetCount matches the composed filter/isin form on fixture docs") {
    for (words <- Seq(TextF.Stopwords, TextF.LangMarkers.toMap.apply("de"))) {
      val mismatches = docToks.select(
        TextF.tokenSetCountComposed(col("lt"), words).as("composed"),
        TextF.tokenSetCount(col("lt"), words).as("native"))
        .filter(col("composed") =!= col("native") ||
          (col("composed").isNull !== col("native").isNull)).count()
      assert(mismatches === 0, words.head)
    }
  }

  test("tokenSetCount edges: NULL array → NULL, NULL elements skipped, empty → 0") {
    val df = Seq(
      ("null_arr", null),
      ("empty", Seq.empty[String]),
      ("with_null", Seq("the", null, "xyz", "the")),
      ("plain", Seq("a", "b", "the"))).toDF("tag", "lt")
    val got = df.select(col("tag"),
      TextF.tokenSetCountComposed(col("lt"), TextF.Stopwords).as("composed"),
      TextF.tokenSetCount(col("lt"), TextF.Stopwords).as("native"))
      .collect()
    got.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2), r.getString(0))
      if (!r.isNullAt(1))
        assert(r.getInt(1) === r.getInt(2), r.getString(0))
    }
    val byTag = got.map(r =>
      r.getString(0) -> (if (r.isNullAt(2)) None else Some(r.getInt(2)))).toMap
    assert(byTag("null_arr") === None)
    assert(byTag("empty") === Some(0))
    assert(byTag("with_null") === Some(2))
    assert(byTag("plain") === Some(2))
  }

  test("rollingHash matches the composed aggregate/md5 fold on fixture docs") {
    val mismatches = docToks.select(
      TextF.rollingHashComposed(col("lt")).as("composed"),
      TextF.rollingHash(col("lt")).as("native"))
      .filter(col("composed") =!= col("native") ||
        (col("composed").isNull !== col("native").isNull)).count()
    assert(mismatches === 0)
  }

  test("rollingHash edges: empty → 0, NULL array/token → NULL, order-sensitive") {
    val df = Seq(
      ("null_arr", null),
      ("empty", Seq.empty[String]),
      ("with_null", Seq("a", null)),
      ("ab", Seq("a", "b")),
      ("ba", Seq("b", "a"))).toDF("tag", "lt")
    val got = df.select(col("tag"),
      TextF.rollingHashComposed(col("lt")).as("composed"),
      TextF.rollingHash(col("lt")).as("native"))
      .collect()
    got.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2), r.getString(0))
      if (!r.isNullAt(1)) assert(r.getLong(1) === r.getLong(2), r.getString(0))
    }
    val byTag = got.map(r =>
      r.getString(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(byTag("null_arr") === None)
    assert(byTag("empty") === Some(0L))
    assert(byTag("with_null") === None)
    assert(byTag("ab").isDefined)
    assert(byTag("ab") !== byTag("ba"))
  }
}
