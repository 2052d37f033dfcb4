package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Semantic pin for the corpus pipeline's representative-per-fingerprint
  * step (groupBy + min_by rewrite): the driver fixtures carry no
  * duplicate cleaned texts, so the oracle hash-compare never exercises
  * the dedup branch — this spec builds a corpus where it must fire,
  * including the conflicting-metadata case (same cleaned text, different
  * `lang`) that distinguishes min_by from an arbitrary first(). */
class CorpusDedupSpec extends SparkSpec {
  import spark.implicits._

  test("dup fingerprints keep exactly the min-doc_id row with ITS lang") {
    val dir = tempDir("graft_corpus_dedup")
    Seq(
      // cleans (lower + whitespace collapse) to the same fingerprint:
      (10L, "Hello   World five tokens ok yes", "en"),
      (3L, "hello world five tokens ok yes", "fr"), // min id, lang fr
      (7L, "hello world five tokens ok yes", "de"),
      (20L, "another unique doc with enough tokens here", "en"),
      (30L, "tiny", "en") // 1 token < 5 → dropped after dedup
    ).toDF("doc_id", "text", "lang")
      .withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val out = graft.SparkEntry.queries("c_corpus_pipeline")(spark, dir)
      .select("lang", "n_docs", "n_tokens_total", "min_doc", "max_doc")
      .as[(String, Long, Long, Long, Long)].collect().toList

    // exactly two survivors: the dup group's min-id row (doc 3, fr) and
    // the unique doc 20 (en); doc 10/7 deduped away, doc 30 length-cut
    assert(out.map(_._2).sum === 2)
    assert(out.map(_._1).toSet === Set("fr", "en"))
    val fr = out.filter(_._1 == "fr")
    assert(fr === List(("fr", 1L, 6L, 3L, 3L)))
    val en = out.filter(_._1 == "en")
    assert(en.map(r => (r._2, r._4, r._5)) === List((1L, 20L, 20L)))
  }

  test("x_embed_neardup_prod recovers ScaleGen-planted twins (round 15): " +
      "recall >= 0.75 at the 16-plane/cos-0.9 regime, exact precision") {
    // The driver fixtures have no cos >= 0.9 pair (max ~0.51), so the
    // oracle hash-compare is trivially 0 = 0 there; this spec (plus the
    // planted-fixture Verify run recorded in PLANS.md) is the
    // non-trivial gate. ScaleGen plants one jittered twin (cos ~0.95)
    // per PlantEvery vectors with ids offset by stride * copies.
    val out = s"${sys.props("user.dir")}/target/qtmp-test/neardup_prod"
    graft.ScaleGen.run(spark, sf, out, 2)
    val emb = spark.read.parquet(s"$out/embeddings.parquet")
    val copies = 2
    val baseMax = spark.read.parquet(s"$sf/embeddings.parquet")
      .agg(max(col("vec_id").cast("long"))).head().getLong(0)
    val offset = (baseMax + 1) * copies
    val planted = emb.filter(col("vec_id") < offset &&
        pmod(col("vec_id"), lit(graft.ScaleGen.PlantEvery)) === 0)
      .select(col("vec_id").as("vec_a"),
        (col("vec_id") + offset).as("vec_b"))
      .as[(Long, Long)].collect().toSet
    assert(planted.nonEmpty)
    val found = graft.SparkEntry.queries("x_embed_neardup_prod")(spark, out)
      .select("vec_a", "vec_b", "sim").collect()
    // precision is DEFINITIONAL (the operator filters sim >= 0.9), so
    // assert it on the output, and every found pair must be a planted
    // one - the decorrelated corpus has no other cos>=0.9 pair
    assert(found.forall(_.getDouble(2) >= 0.9))
    val foundPairs = found.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(foundPairs.subsetOf(planted),
      s"non-planted pairs surfaced: ${foundPairs -- planted}")
    // per-twin band-collision probability at cos 0.95 is ~96% (16 bands
    // of 16 planes); 0.75 leaves sample-noise headroom on ~40 twins
    val recall = foundPairs.size.toDouble / planted.size
    assert(recall >= 0.75, s"recall $recall over ${planted.size} twins")
  }

  test("r16 (r15 verdict item 6): the 16-plane band arithmetic holds at " +
      "the sf1 scale point — ~800 planted twins, recall >= 0.93") {
    // The small-fixture test above has ~40 twins (binomial sd ~3%); the
    // documented collision bound (0.899^16 ~ 0.18/band -> ~96% over 16
    // bands) is only sharply testable with sf1's ~800 twins (sd ~0.7%).
    // Same fixture recipe as the recorded scale windows: sf0.1 x 10.
    val out = s"${sys.props("user.dir")}/target/qtmp-test/neardup_sf1"
    val src = "/root/testdata/sf0.1"
    graft.ScaleGen.run(spark, src, out, 10)
    val copies = 10
    val baseMax = spark.read.parquet(s"$src/embeddings.parquet")
      .agg(max(col("vec_id").cast("long"))).head().getLong(0)
    val offset = (baseMax + 1) * copies
    val planted = spark.read.parquet(s"$out/embeddings.parquet")
      .filter(col("vec_id") < offset &&
        pmod(col("vec_id"), lit(graft.ScaleGen.PlantEvery)) === 0)
      .select(col("vec_id").as("vec_a"),
        (col("vec_id") + offset).as("vec_b"))
      .as[(Long, Long)].collect().toSet
    assert(planted.size >= 700, s"expected ~800 twins, got ${planted.size}")
    val found = graft.SparkEntry.queries("x_embed_neardup_prod")(spark, out)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(found.subsetOf(planted),
      s"non-planted pairs surfaced: ${(found -- planted).take(5)}")
    val recall = found.size.toDouble / planted.size
    assert(recall >= 0.93,
      s"sf1 recall $recall over ${planted.size} twins — below the " +
        "96%-minus-tolerance band bound")
  }

  /** The over-cap arm of the banded near-dup body (salted band join,
    * shuffled confirm joins) against the registered query's default arm
    * on a planted fixture, where both regimes return rows. */
  private def overCapMatches(name: String, r: ExtQueries.NdRegime): Unit = {
    val out = s"${sys.props("user.dir")}/target/qtmp-test/neardup_overcap"
    graft.ScaleGen.run(spark, sf, out, 2)
    val default = graft.SparkEntry.queries(name)(spark, out)
      .collect().toSeq
    val overCap = ExtQueries.embedNeardup(spark, out, r, broadcastCap = 0L)
      .collect().toSeq
    assert(default.nonEmpty, s"$name returns no rows on the planted fixture")
    assert(overCap === default)
  }

  test("x_embed_neardup: the over-cap salted band join equals the " +
      "default arm row-for-row") {
    overCapMatches("x_embed_neardup", ExtQueries.NdDemo)
  }

  test("x_embed_neardup_prod: the over-cap salted band join equals the " +
      "default arm row-for-row") {
    overCapMatches("x_embed_neardup_prod", ExtQueries.NdProd)
  }
}
