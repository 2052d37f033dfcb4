package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Semantic pins for `x_lang_id` beyond the DuckDB oracle hash (the
  * driver fixture's `lang` tags are uncorrelated with its shared-
  * vocabulary text, so the gate there pins only the mechanism): on a
  * fixture of genuinely different languages the char-bigram NB
  * classifier must actually discriminate, the scores must be exact
  * integers under the µ-nat quantization, and degenerate docs must take
  * the deterministic tie-break. */
class LangIdSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(rows: Seq[(Long, String, String)]): String = {
    val dir = tempDir("graft_langid")
    rows.toDF("doc_id", "lang", "text")
      .withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private val docs: Seq[(Long, String, String)] = Seq(
    (1L, "en", "the quick brown fox jumps over the lazy dog and then " +
      "runs through the green fields with great speed and joy"),
    (2L, "en", "she sells sea shells by the sea shore while the waves " +
      "crash against the rocks under the bright morning sun"),
    (3L, "en", "knowledge of the world grows with every book that is " +
      "read and every question that is asked by curious minds"),
    (4L, "fr", "le renard brun saute par dessus le chien paresseux et " +
      "court ensuite dans les champs verts avec une grande joie"),
    (5L, "fr", "elle vend des coquillages au bord de la mer pendant que " +
      "les vagues se brisent contre les rochers du matin"),
    (6L, "fr", "la connaissance du monde grandit avec chaque livre lu et " +
      "chaque question posee par des esprits curieux"),
    (7L, "de", "der schnelle braune fuchs springt ueber den faulen hund " +
      "und laeuft dann durch die gruenen felder mit grosser freude"),
    (8L, "de", "sie verkauft muscheln am meeresufer waehrend die wellen " +
      "unter der hellen morgensonne gegen die felsen schlagen"),
    (9L, "de", "das wissen ueber die welt waechst mit jedem buch das " +
      "gelesen wird und jeder frage die neugierige koepfe stellen"),
    (10L, "es", "el rapido zorro marron salta sobre el perro perezoso y " +
      "luego corre por los campos verdes con gran alegria"),
    (11L, "es", "ella vende conchas junto a la orilla del mar mientras " +
      "las olas rompen contra las rocas bajo el sol de la manana"),
    (12L, "es", "el conocimiento del mundo crece con cada libro leido y " +
      "cada pregunta hecha por mentes curiosas"),
    (13L, "zh", "敏捷的棕色狐狸跳过了懒狗然后带着巨大的喜悦跑过绿色的田野"),
    (14L, "zh", "她在海边卖贝壳海浪在明亮的朝阳下拍打着岩石"),
    (15L, "zh", "世界的知识随着每一本被阅读的书和每一个好奇的头脑提出的问题而增长"))

  test("on a genuinely multilingual fixture the classifier separates " +
      "the languages (self-trained accuracy >= 0.9)") {
    val out = graft.SparkEntry.queries("x_lang_id")(spark, corpus(docs))
      .select("doc_id", "lang", "pred_lang")
      .as[(Long, String, String)].collect()
    assert(out.length === docs.length)
    val acc = out.count(r => r._2 == r._3).toDouble / out.length
    assert(acc >= 0.9, s"self-trained LID accuracy $acc\n" +
      out.filter(r => r._2 != r._3).mkString("\n"))
  }

  test("deterministic: two runs agree bit-for-bit; a sub-2-char doc " +
      "scores 0 everywhere and takes the alphabetical tie-break") {
    val dir = corpus(docs :+ ((16L, "en", "x")))
    def run() = graft.SparkEntry.queries("x_lang_id")(spark, dir)
      .collect().toSeq
    val a = run()
    assert(a === run())
    val tiny = a.find(_.getLong(0) == 16L).get
    assert(tiny.getLong(3) === 0L)          // n_bigrams
    assert(tiny.getLong(4) === 0L)          // score_q: no evidence
    assert(tiny.getString(2) === "de")      // first lang alphabetically
  }

  test("r18 optimization: the in-row scoring arm (collected model, " +
      "nb_lang_score expression) equals the exploded-join chain arm " +
      "row-for-row, degenerate docs included") {
    val dir = corpus(docs ++ Seq((16L, "en", "x"), (17L, "fr", ""),
      (18L, "zh", "好")))
    val d = graft.tbl(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        trim(lower(col("text"))).as("s"))
    val inRow = CurateQueries.langIdScore(d)
      .orderBy("doc_id").collect().toSeq
    // modelRowCap = 0 forces the over-cap chain arm
    val chain = CurateQueries.langIdScore(d, modelRowCap = 0)
      .orderBy("doc_id").collect().toSeq
    assert(inRow === chain)
    assert(inRow.length === docs.length + 3)
  }

  test("scores are exact integer mu-nat sums: recomputing one doc's " +
      "winning score from the model by hand matches") {
    val dir = corpus(docs)
    val out = graft.SparkEntry.queries("x_lang_id")(spark, dir)
      .filter(col("doc_id") === 1L).head()
    // rebuild the model for the winning lang in plain Scala
    val raw = docs.map { case (id, l, t) => (id, l, t.toLowerCase.trim) }
    val bigrams = raw.flatMap { case (_, l, s) =>
      (0 until s.length - 1).map(i => (l, s.substring(i, i + 2))) }
    val v = bigrams.map(_._2).distinct.size
    val lang = out.getString(2)
    val cnt = bigrams.filter(_._1 == lang)
      .groupBy(_._2).map { case (b, xs) => b -> xs.size.toLong }
    val nLang = cnt.values.sum
    def lpQ(c: Long): Long =
      math.floor(java.lang.StrictMath.log((c + 1).toDouble / (nLang + v)) * 1e6).toLong
    val s1 = raw.find(_._1 == 1L).get._3
    val expected = (0 until s1.length - 1)
      .map(i => lpQ(cnt.getOrElse(s1.substring(i, i + 2), 0L))).sum
    assert(out.getLong(4) === expected)
  }
}
