package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{array, col}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec
import graft.functions._

/** Every kernel call, run twice over the same parquet-backed rows: once
  * interpreted (no whole-stage codegen, `NO_CODEGEN` projections, so each
  * row goes through `StaticInvoke.eval`) and once in generated code (the
  * plan must hold a `WholeStageCodegenExec` around the call). Both runs
  * must give the expected value on every row, edge rows included: NULL
  * input, empty array or string, length mismatch, NULL element.
  *
  * Parquet input is deliberate: literal inputs are constant-folded and a
  * local `toDF` relation is evaluated interpreted, so neither reaches the
  * generated code.
  */
class KernelSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private case class Case(name: String, schema: StructType, rows: Seq[Row],
                          call: Seq[Column] => Column, expected: Seq[Any])

  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  private val Str = schema("s" -> StringType)
  private val Toks = schema("t" -> ArrayType(StringType))
  private val Vec = schema("v" -> ArrayType(DoubleType))
  private val VecPair =
    schema("a" -> ArrayType(DoubleType), "b" -> ArrayType(DoubleType))
  private val CellPair = schema("a" -> StringType, "b" -> StringType)

  private def strCase(name: String, call: Column => Column,
                      in: Seq[String], out: Seq[Any]): Case =
    Case(name, Str, in.map(Row(_)), c => call(c.head), out)
  private def toksCase(name: String, call: Column => Column,
                       in: Seq[Seq[String]], out: Seq[Any]): Case =
    Case(name, Toks, in.map(Row(_)), c => call(c.head), out)
  private def vecCase(name: String, call: Column => Column,
                      in: Seq[Seq[java.lang.Double]], out: Seq[Any]): Case =
    Case(name, Vec, in.map(Row(_)), c => call(c.head), out)

  private def d(xs: Double*): Seq[java.lang.Double] =
    xs.map(java.lang.Double.valueOf)
  private val NullElem: Seq[java.lang.Double] = Seq(1.0, null)

  // fixtures shared by several cases
  private val Cell = "8928308280fffff"
  private val Square = "POLYGON((0 0, 2 0, 2 2, 0 2, 0 0))"
  private val Texts = Seq(null, "", "mail a@b.com or http://x.io, 4111 1111 " +
    "1111 1111, 555-123-4567  10.0.0.1 \t end")
  private val Planes = Seq(0, 1)
  private def dot(v: Seq[Double], p: Int): Double =
    v.indices.foldLeft(0.0)((acc, j) =>
      acc + v(j) * VectorF.hyperplaneComponent(p, j))
  private def md5Prefix(t: String): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8"))
    ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
      ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
  }
  private val BloomBits = 8
  private val BloomWords = {
    val w = BloomF.emptyWords(BloomBits)
    Seq(7L, 42L).foreach(BloomF.insert(w, _, BloomBits))
    w
  }
  private val Wkts = Seq(null, "", "POINT(1 2)", Square)
  private def centroid(f: String => Option[(Double, Double)],
                       lat: Boolean): Seq[Any] =
    Wkts.map(w => Option(w).flatMap(f)
      .fold(null: Any)(c => if (lat) c._2 else c._1))

  /** One case per kernel call the library builds. */
  private def cases: Seq[Case] = Seq(
    // ---------------------------------------------------------- text
    strCase("ws_tokens", TextF.tokens, Seq(null, "", "  a  b ", "\ta"),
      Seq(null, Seq(), Seq("a", "b"), Seq("", "a"))),
    strCase("clean_text", TextF.cleanText, Texts,
      Texts.map(t => if (t == null) null else TextMaskF.cleanText(t))),
    strCase("clean_text_pii", TextF.cleanTextPii, Texts,
      Texts.map(t => if (t == null) null else TextMaskF.cleanTextPii(t))),
    strCase("clean_text_pii_card", TextF.cleanTextPiiCard, Texts,
      Texts.map(t => if (t == null) null else TextMaskF.cleanTextPiiCard(t))),
    strCase("char_bigram_histogram", TextF.charBigramHistogram,
      Seq(null, "", "a", "abab"),
      Seq(null, Seq(), Seq(), Seq(Row("ab", 2L), Row("ba", 1L)))),
    strCase("char_bigrams", TextF.charBigrams, Seq(null, "", "a", "abc"),
      Seq(null, Seq(), Seq(), Seq("ab", "bc"))),
    toksCase("word_shingles", TextF.shinglesFromTokens(_, 2),
      Seq(null, Seq(), Seq("a"), Seq("a", null, "b"), Seq("a", "b", "c")),
      // a NULL token drops out of concat_ws, exactly as in the HOF form
      Seq(null, Seq(), Seq(), Seq("a", "b"), Seq("a b", "b c"))),
    toksCase("token_set_count", TextF.tokenSetCount(_, TextF.Stopwords),
      Seq(null, Seq(), Seq("the", null, "x"), Seq("a", "the", "zz")),
      Seq(null, 0, 1, 2)),
    toksCase("rolling_token_hash", TextF.rollingHash,
      Seq(null, Seq(), Seq("a", null), Seq("a", "b")),
      Seq(null, 0L, null,
        ((md5Prefix("a") % TextF.RollP) * TextF.RollB + md5Prefix("b")) %
          TextF.RollP)),
    toksCase("term_histogram", TextF.termHistogram,
      Seq(null, Seq(), Seq("b", null, "a", "b")),
      Seq(null, Seq(), Seq(Row("a", 1L), Row("b", 2L)))),
    toksCase("count_in_set", TextF.countInSet(_,
        new Utf8Set(Array("x".getBytes, "y".getBytes))),
      Seq(null, Seq(), Seq("x", null, "z"), Seq("x", "y", "x")),
      Seq(0L, 0L, 1L, 3L)),
    strCase("nb_lang_score", TextF.nbLangScore(_, new NbLangModel(
        Array("de", "en"), Array(-10L, -20L), Array("ab".getBytes),
        Array(Array(0L, 50L)))),
      Seq(null, "", "abab"),
      // "abab": bigrams ab, ba, ab → de = 3·−10, en = 2·50 + 3·−20
      Seq(Row("de", 0L, 0L), Row("de", 0L, 0L), Row("en", 3L, 40L))),
    toksCase("ngram_lm_sum", TextF.ngramLmSum(_,
        new NgramLmModel(Array("a b".getBytes), Array(-5L)), 2),
      Seq(null, Seq(), Seq("a", null), Seq("a", "b", "a", "b")),
      Seq(Row(0L, 0L), Row(0L, 0L), Row(0L, 0L), Row(2L, -10L))),
    toksCase("tfidf_topk", TextF.tfidfTopK(_,
        new TfidfModel(Array("a".getBytes, "b".getBytes), Array(10L, 5L)), 2),
      Seq(null, Seq(), Seq("a", "b", "b", "c")),
      Seq(null, Seq(), Seq(Row("a", 1L, 10L), Row("b", 2L, 10L)))),
    toksCase("bm25_topk", TextF.bm25TopK(_, new Bm25Model(
        Array("a".getBytes), Array(1000000L), 2L, 4L, 1.2, 0.75), 2),
      Seq(null, Seq(), Seq("a", "a")),
      // dl = 2: denom 1.2·(0.25 + 0.75·2·2/4) = 1.2, sat = 2·2.2/3.2
      Seq(null, Seq(), Seq(Row("a", 2L, 1375000.0)))),
    // -------------------------------------------------------- vectors
    Case("cosine_sim", VecPair,
      Seq(Row(null, d(1.0)), Row(d(), d()), Row(d(1.0, 2.0), d(1.0)),
        Row(NullElem, d(1.0, 2.0)), Row(d(1.0, 0.0), d(0.0, 1.0)),
        Row(d(3.0, 4.0), d(3.0, 4.0))),
      c => VectorF.cosineNative(c(0), c(1)),
      Seq(null, null, null, null, 0.0, 1.0)),
    Case("euclidean_dist", VecPair,
      Seq(Row(null, d(1.0)), Row(d(), d()), Row(d(1.0, 2.0), d(1.0)),
        Row(NullElem, d(1.0, 2.0)), Row(d(3.0, 4.0), d(0.0, 0.0))),
      c => VectorF.euclideanNative(c(0), c(1)),
      Seq(null, 0.0, null, null, 5.0)),
    vecCase("plane_dots", VectorF.planeDots(_, Planes, 2),
      Seq(null, d(), d(1.0), NullElem, d(1.0, 2.0)),
      Seq(null, null, null, null, Planes.map(dot(Seq(1.0, 2.0), _)))),
    vecCase("plane_sign_bits", VectorF.planeSignBits(_, 0 until 3, 2),
      Seq(null, d(), d(1.0), NullElem, d(1.0, 2.0)),
      Seq(0L, 0L, 0L, 0L, (0 until 3).map(p =>
        if (dot(Seq(1.0, 2.0), p) >= 0) 1L << p else 0L).sum)),
    Case("bloom_might_contain", schema("k" -> LongType),
      Seq(Row(null), Row(7L), Row(42L), Row(1000L)),
      c => BloomF.probe(c.head, BloomWords, BloomBits),
      Seq(null, true, true, BloomF.mightContain(1000L, BloomWords, BloomBits))),
    // ------------------------------------------------------ geo / H3
    strCase("wkt_centroid_lng", GeoF.centroidLng, Wkts,
      centroid(GeoF.wktCentroid, lat = false)),
    strCase("wkt_centroid_lat", GeoF.centroidLat, Wkts,
      centroid(GeoF.wktCentroid, lat = true)),
    strCase("wkt_centroid_sph_lng", GeoF.centroidSphLng, Wkts,
      centroid(GeoF.wktCentroidSpherical, lat = false)),
    strCase("wkt_centroid_sph_lat", GeoF.centroidSphLat, Wkts,
      centroid(GeoF.wktCentroidSpherical, lat = true)),
    Case("h3_fromgeogpoint", schema("lat" -> DoubleType, "lng" -> DoubleType),
      Seq(Row(null, 1.0), Row(37.7752702151959, -122.418307270836)),
      c => GeoF.h3Cell(c(0), c(1), 9), Seq(null, Cell)),
    strCase("h3_cell_lat", GeoF.h3CenterLat, Seq(null, Cell),
      Seq(null, H3.cellCenterLat(Cell))),
    strCase("h3_cell_lng", GeoF.h3CenterLng, Seq(null, Cell),
      Seq(null, H3.cellCenterLng(Cell))),
    strCase("h3_grid_disk", GeoF.h3GridDisk(_, 1), Seq(null, Cell),
      Seq(null, H3.gridDiskHex(Cell, 1).toSeq)),
    strCase("h3_cell_boundary", GeoF.h3Boundary, Seq(null, Cell),
      Seq(null, H3.cellBoundaryWkt(Cell))),
    strCase("h3_cell_boundary_full", GeoF.h3BoundaryFull, Seq(null, Cell),
      Seq(null, H3.cellBoundaryFullWkt(Cell))),
    Case("h3_cell_to_parent", schema("c" -> StringType, "r" -> IntegerType),
      Seq(Row(null, 5), Row(Cell, null), Row(Cell, 5)),
      c => GeoF.h3Parent(c(0), c(1)),
      Seq(null, null, H3.cellToParentHex(Cell, 5))),
    strCase("h3_cell_to_children", GeoF.h3Children(_, 10), Seq(null, Cell),
      Seq(null, H3.cellToChildrenHex(Cell, 10).toSeq)),
    Case("h3_grid_distance", CellPair,
      Seq(Row(null, Cell), Row(Cell, Cell),
        Row(Cell, H3.gridDiskHex(Cell, 1).find(_ != Cell).get)),
      c => GeoF.h3GridDistance(c(0), c(1)), Seq(null, 0, 1)),
    Case("h3_grid_path", CellPair, Seq(Row(null, Cell), Row(Cell, Cell)),
      c => GeoF.h3GridPath(c(0), c(1)), Seq(null, Seq(Cell))),
    toksCase("h3_compact_cells", GeoF.h3CompactArray,
      Seq(null, Seq(), H3.cellToChildrenHex(Cell, 10).toSeq),
      Seq(null, Seq(), Seq(Cell))),
    strCase("h3_polyfill", GeoF.h3Polyfill(_, 5),
      Seq(null, "POINT(1 2)", Square),
      Seq(null, Seq(), GeoF.h3PolyfillScala(Square, 5).toSeq)))

  private lazy val dir = tempDir("kernel_spec")

  private def run(c: Case, generated: Boolean): (SparkPlan, Seq[Any]) = {
    val confs = Map(
      "spark.sql.codegen.wholeStage" -> generated.toString,
      "spark.sql.codegen.factoryMode" ->
        (if (generated) "CODEGEN_ONLY" else "NO_CODEGEN"))
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val in = spark.read.parquet(s"$dir/${c.name}")
      val df: DataFrame =
        in.select(c.call(c.schema.fieldNames.toSeq.map(col)).as("r"))
      val out = df.collect().map(_.get(0)).toSeq
      (df.queryExecution.executedPlan, out)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The kernel's StaticInvoke sits inside a whole-stage-codegen stage. */
  private def kernelInGeneratedCode(plan: SparkPlan): Boolean =
    collect(plan) { case w: WholeStageCodegenExec => w }.exists(
      _.child.exists(_.expressions.exists(_.exists(_.isInstanceOf[StaticInvoke]))))

  cases.foreach { c =>
    test(s"${c.name}: eval ≡ generated code") {
      // one file, one split: rows read back in case order
      spark.createDataFrame(java.util.Arrays.asList(c.rows: _*), c.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/${c.name}")
      val (iPlan, interpreted) = run(c, generated = false)
      assert(!kernelInGeneratedCode(iPlan), "interpreted run used codegen")
      assert(interpreted === c.expected, "interpreted")
      val (gPlan, generated) = run(c, generated = true)
      assert(kernelInGeneratedCode(gPlan),
        s"no generated code around the kernel:\n$gPlan")
      assert(generated === c.expected, "generated")
    }
  }

  test("object constants explain by content: equal arrays, equal plans") {
    val toks = spark.range(1).select(array(col("id").cast("string")).as("t"))
    def explained(words: Array[String]): String = {
      val set = words.map(UTF8String.fromString)
      val qe = toks.select(KernelCall.column("token_set_count", TokenSetCount,
        "compute", IntegerType, Seq(col("t") -> ArrayType(StringType)),
        Seq(set))).queryExecution
      // expression ids differ between two builds; the plans must not
      (qe.analyzed.toString + qe.executedPlan.toString).replaceAll("#\\d+", "#")
    }
    val a = explained(Array("the", "a", "of"))
    val b = explained(Array("the", "a", "of"))
    assert(a === b)
    assert(a.contains("UTF8String[3]{"), a)
    assert(a !== explained(Array("the", "a", "an")))
  }
}
