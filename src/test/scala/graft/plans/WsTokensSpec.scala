package graft.plans

import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen

import graft.SparkSpec
import graft.functions.TextF

/** Property check: the byte-level [[WsTokens]] scanner must produce the
  * identical token array as the composed trim+split Column form it
  * replaced, on adversarial strings — including the leading/trailing
  * empty-token quirks, multi-byte UTF-8 content, and ws-only inputs. */
class WsTokensSpec extends SparkSpec {
  import spark.implicits._

  private val piece: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf("a", "bc", "Z9", "word", "日本", "é", "𝕏"),
    4 -> Gen.oneOf(" ", "\t", "\n", "", "\f", "\r", "  ", " \t "),
    1 -> Gen.const(""))

  private val textGen: Gen[String] =
    Gen.chooseNum(0, 24).flatMap(n => Gen.listOfN(n, piece).map(_.mkString))

  test("WsTokens ≡ composed trim+split on random strings (batched)") {
    // evaluate both Column forms over one parquet-backed DataFrame: a
    // local `toDF` relation would be folded and evaluated interpreted,
    // so the comparison would never reach the generated code
    val samples = Gen.listOfN(400, textGen)
      .apply(Gen.Parameters.default, org.scalacheck.rng.Seed(20260814L))
      .getOrElse(sys.error("gen failed"))
    val dir = tempDir("ws_tokens")
    samples.toDF("t").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .select(TextF.tokens(col("t")).as("fast"),
        TextF.tokensComposed(col("t")).as("ref"), col("t"))
    assert(df.queryExecution.executedPlan.collectFirst {
      case w: WholeStageCodegenExec
          if w.child.exists(_.isInstanceOf[ProjectExec]) => w
    }.isDefined, "the tokenizer did not run in generated code")
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) === r.getSeq[String](1),
        s"diverged on <${r.getString(2)}>")
    }
    assert(rows.length === 400)
  }

  test("hand vectors: quirks preserved") {
    def toks(s: String): Seq[String] =
      Seq(s).toDF("t").select(TextF.tokens(col("t"))).as[Seq[String]].head()
    assert(toks("a b") === Seq("a", "b"))
    assert(toks("  a  b  ") === Seq("a", "b"))
    assert(toks("") === Seq())
    assert(toks("   ") === Seq())
    assert(toks("\t") === Seq("", ""))     // trim keeps \t; split quirks
    assert(toks("\ta b\n") === Seq("", "a", "b", ""))
    assert(toks("héllo wörld") === Seq("héllo", "wörld"))
    assert(toks("日本 語") === Seq("日本", "語"))
  }
}
