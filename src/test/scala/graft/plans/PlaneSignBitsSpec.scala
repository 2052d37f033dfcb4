package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorF

/** The [[graft.functions.PlaneSignBits]] kernel ≡ the composed
  * zip_with/aggregate/when form it replaces, on real fixture vectors AND
  * adversarial edges (NULL vector, NULL element, wrong length, zero
  * vector) — the bit-compat contract that keeps the x_ann_lsh /
  * x_embed_neardup / x_knn_graph oracle hashes stable across the swap. */
class PlaneSignBitsSpec extends SparkSpec {
  import spark.implicits._

  private val Dim = 64

  test("native lshBucket is bit-identical to the composed HOF form on fixture vectors") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    for (nPlanes <- Seq(1, 8, 16)) {
      val mismatches = emb.select(
        VectorF.lshBucketComposed(col("v"), nPlanes, Dim).as("composed"),
        VectorF.lshBucket(col("v"), nPlanes, Dim).as("native"))
        .filter(col("composed") =!= col("native")).count()
      assert(mismatches === 0, s"nPlanes=$nPlanes")
    }
    // non-contiguous family with per-family bit positions (the near-dup
    // band shape: plane 100+2b+i contributes bit i)
    val bandMismatch = emb.select(
      ((VectorF.planeSignBitComposed(col("v"), 106, Dim) * lit(1L)) +
        (VectorF.planeSignBitComposed(col("v"), 107, Dim) * lit(2L)))
        .as("composed"),
      VectorF.planeSignBits(col("v"), Seq(106, 107), Dim).as("native"))
      .filter(col("composed") =!= col("native")).count()
    assert(bandMismatch === 0)
  }

  test("edge inputs follow composed semantics: 0L, never NULL") {
    val rows = Seq(
      ("ok", Some(Seq.fill(4)(0.5))),
      ("null_vec", None),
      ("short", Some(Seq(1.0))),
      ("zero", Some(Seq.fill(4)(0.0)))).toDF("tag", "v")
      .withColumn("v", col("v").cast("array<double>"))
      .union(Seq(("null_elem", Seq("1.0", null, "2.0", "3.0")))
        .toDF("tag", "s")
        .select(col("tag"), col("s").cast("array<double>").as("v")))
    val got = rows.select(col("tag"),
      VectorF.lshBucketComposed(col("v"), 4, 4).as("composed"),
      VectorF.lshBucket(col("v"), 4, 4).as("native"))
      .collect()
    got.foreach { r =>
      assert(!r.isNullAt(1) && !r.isNullAt(2), r.getString(0))
      assert(r.getLong(1) === r.getLong(2), r.getString(0))
    }
    // the degenerate inputs all land in bucket 0 (dot NULL → bit 0),
    // and the zero vector lands in the all-ones bucket (0.0 >= 0)
    val byTag = got.map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(byTag("null_vec") === 0L)
    assert(byTag("short") === 0L)
    assert(byTag("null_elem") === 0L)
    assert(byTag("zero") === 15L)
  }
}
