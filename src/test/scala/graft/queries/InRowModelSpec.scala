package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Arm-equality pin for the r18 collected-model optimization of
  * `x_decontaminate` (in-row probe of the collected benchmark shingle
  * set): must equal the join-chain arm row-for-row, degenerate docs
  * included. (The analogous x_pmi_bigrams rewrite was A/B'd and
  * REJECTED — see the note on `CurateQueries.pmiBigrams`.) */
class DecontaminateSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(rows: Seq[(Long, String)]): String = {
    val dir = tempDir("graft_decont")
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // doc_id 7 and 57 are the benchmark slice (id % 50 == 7); 10 shares a
  // 3-gram with 7, 11 shares none, 12 is too short for any 3-gram
  private val docs: Seq[(Long, String)] = Seq(
    (7L, "alpha beta gamma delta epsilon zeta"),
    (57L, "eta theta iota kappa lambda mu"),
    (10L, "prefix words then alpha beta gamma and more text"),
    (11L, "completely disjoint vocabulary in this training document"),
    (12L, "two words"),
    (13L, "eta theta iota appears here too with kappa lambda mu"))

  test("in-row set-probe arm equals the join-chain arm row-for-row " +
      "(contaminated, clean and short docs)") {
    val dir = corpus(docs)
    val inRow = CurateQueries.decontaminateImpl(spark, dir, 1L << 20)
      .orderBy("doc_id").collect().toSeq
    // setRowCap = 0 forces the over-cap chain arm
    val chain = CurateQueries.decontaminateImpl(spark, dir, 0L)
      .orderBy("doc_id").collect().toSeq
    assert(inRow === chain)
    // the benchmark slice is excluded; hits land where expected
    assert(inRow.map(_.getLong(0)) === Seq(10L, 11L, 12L, 13L))
    val byId = inRow.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(10L) > 0 && byId(13L) > 0)
    assert(byId(11L) === 0 && byId(12L) === 0)
    assert(inRow.forall(r => r.getBoolean(2) === (r.getLong(1) == 0L)))
  }
}

/** The shared bounded-collect skeleton (r19 — one spelling of the six
  * in-row operators' cap/fallback law): cap+1 detection, Long.MaxValue
  * saturation, and the LOUD stderr line naming the operator and the
  * chain arm on every fallback path. */
class InRowModelSpec extends SparkSpec {
  import spark.implicits._

  private def capturingErr[A](body: => A): (A, String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val old = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try {
      val r = body
      (r, buf.toString("UTF-8"))
    } finally System.setErr(old)
  }

  private def model = Seq(1L, 2L, 3L).toDF("v")

  test("under-cap collect returns the rows, silently") {
    val (r, err) = capturingErr(
      InRowModel.boundedCollect(model, 3L, "x_test_op"))
    assert(r.map(_.length) === Some(3))
    assert(err.isEmpty)
  }

  test("Long.MaxValue cap saturates instead of wrapping limit() to 0") {
    val (r, err) = capturingErr(
      InRowModel.boundedCollect(model, Long.MaxValue, "x_test_op"))
    assert(r.map(_.length) === Some(3))
    assert(err.isEmpty)
  }

  test("over-cap model falls back LOUDLY, naming operator and arm") {
    val (r, err) = capturingErr(
      InRowModel.boundedCollect(model, 2L, "x_test_op"))
    assert(r.isEmpty)
    assert(err.contains("x_test_op"))
    assert(err.contains("exceeds the row cap"))
    assert(err.contains("join-chain arm"))
  }

  test("empty model falls back LOUDLY") {
    val (r, err) = capturingErr(InRowModel.boundedCollect(
      model.filter(col("v") < 0), 2L, "x_test_op"))
    assert(r.isEmpty)
    assert(err.contains("x_test_op") && err.contains("empty"))
  }

  test("non-positive cap disables the in-row arm LOUDLY, without a job") {
    val (r, err) = capturingErr(
      InRowModel.boundedCollect(model, 0L, "x_test_op"))
    assert(r.isEmpty)
    assert(err.contains("disabled") && err.contains("join-chain arm"))
  }

  test("muNatLog is the chain's exact law: floor(StrictMath.log(n/d)*1e6)") {
    for ((n, d) <- Seq((1.0, 7.0), (3.0, 2.0), (1.0, 1.0), (5.0, 1e9)))
      assert(InRowModel.muNatLog(n, d) ===
        math.floor(java.lang.StrictMath.log(n / d) * 1000000.0).toLong)
  }
}
