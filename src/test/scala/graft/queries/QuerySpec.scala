package graft.queries

import graft.SparkSpec

/** Fixture-level invariants over the registered queries (sf0.001). */
class QuerySpec extends SparkSpec {

  private def run(name: String) =
    graft.SparkEntry.queries(name)(spark, sf)

  test("P2 ∪ P3 partitions lineitem: keep + reject = total, disjoint") {
    val total = graft.tbl(spark, sf, "lineitem").count()
    val keep = run("p2_normalize").count()
    val reject = run("p3_normalize_inverted").count()
    assert(keep + reject === total)
    assert(keep > 0 && reject > 0)
  }

  test("every registered query with an oracle returns a stable schema") {
    // Plans must at least analyze at sf0.001; execution is Verify's job.
    // Queries whose CONSTRUCTION is side-effecting (pipeline/catalog/
    // ingest/stream jobs run inside the builder) are excluded here —
    // Verify executes them for real.
    val sideEffecting = Set("c_pipeline_e2e", "b_bucketed_join",
      "w_moving_bucketed",
      "b_salted_join", "s1_s2_datepath_glob", "s4_csv_roundtrip",
      "s5_catalog_lifecycle", "st_stream_ingest", "st_stream_window",
      "st_stream_state",
      "s4b_csv_explicit_schema", "dbt_models")
    graft.SparkEntry.queries.foreach { case (name, fn) =>
      if (!sideEffecting(name)) {
        val df = fn(spark, sf)
        assert(df.schema.fieldNames.nonEmpty, name)
      }
    }
  }

  test("topk popularity: rank ties multiply USING-join rows (J4 fidelity)") {
    val df = run("q_topk_popularity")
    val rows = df.collect()
    assert(rows.nonEmpty)
    // popularity is rank-valued: values may repeat (ties), never exceed 100
    val pops = rows.map(_.getAs[Int]("popularity"))
    assert(pops.forall(p => p >= 1 && p <= 100))
  }

  test("route-key pack: packed and unpacked shapes return identical rows") {
    import graft.core.TableStats
    // no range stats → the builder must take the provably-safe unpacked
    // shape; with ANALYZE ranges the 64-bit pack is proven injective
    TableStats.clear()
    val unpackedDf = run("q_topk_popularity")
    assert(!unpackedDf.queryExecution.optimizedPlan.toString
      .contains("shiftleft"), "without stats the pack must not fire")
    val unpacked = unpackedDf.collect().toSeq
    TableStats.analyze(spark, sf)
    val packedDf = run("q_topk_popularity")
    assert(packedDf.queryExecution.optimizedPlan.toString
      .contains("shiftleft"), "with proven ranges the pack must fire")
    assert(packedDf.collect().toSeq === unpacked)
  }

  test("containment pair-key pack: packed and unpacked rows identical") {
    import graft.core.TableStats
    val names = Seq("x_containment_pairs", "x_ngram_jaccard_pairs")
    TableStats.clear()
    val unpacked = names.map(run(_).collect().toSeq)
    TableStats.analyze(spark, sf)
    val packedDfs = names.map(run)
    names.zip(packedDfs).foreach { case (name, df) =>
      assert(df.queryExecution.optimizedPlan.toString.contains("shiftleft"),
        s"$name: with proven ranges the pack must fire")
    }
    assert(packedDfs.map(_.collect().toSeq) === unpacked)
    assert(unpacked.forall(_.nonEmpty))
  }

  test("minhash est_jaccard is consistent with true jaccard for near-dups") {
    val est = run("x_minhash_lsh_pairs").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val truth = run("x_ngram_jaccard_pairs").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every very-high-jaccard pair must be surfaced by some LSH band
    val high = truth.filter(_._2 >= 0.9).keySet
    assert(high.subsetOf(est.keySet),
      s"missed near-dups: ${high -- est.keySet}")
  }
}
