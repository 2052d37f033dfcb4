package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorF

/** The [[graft.functions.EuclideanDist]] / [[graft.functions.PlaneDots]]
  * kernels ≡ their composed zip_with/aggregate reference forms — the
  * bit-compat contract that keeps the IVF/k-means and JL-projection
  * oracle hashes stable. */
class VectorDistSpec extends SparkSpec {
  import spark.implicits._

  private val Dim = 64

  test("native euclidean is bit-identical to the composed form on fixture vectors") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val a = emb.select(col("vec_id").as("ia"), col("v").as("va"))
    val b = emb.select(col("vec_id").as("ib"), col("v").as("vb"))
    val both = a.filter(col("ia") < 20).crossJoin(b.filter(col("ib") < 20))
      .select(VectorF.euclideanComposed(col("va"), col("vb")).as("composed"),
        VectorF.euclideanNative(col("va"), col("vb")).as("native"))
    val mismatches = both.filter(
      col("composed") =!= col("native") ||
        (col("composed").isNull !== col("native").isNull)).count()
    assert(mismatches === 0)
    // self-distance is exactly 0
    val self = emb.limit(5)
      .select(VectorF.euclideanNative(col("v"), col("v")).as("d"))
      .as[Double].collect()
    self.foreach(d => assert(d === 0.0))
  }

  test("euclidean edges: length mismatch and NULL element yield NULL") {
    val r = Seq((Seq(3.0, 4.0), Seq(0.0, 0.0)))
      .toDF("a", "b")
      .select(
        VectorF.euclideanNative(col("a"), col("b")).as("d"),
        VectorF.euclideanNative(col("a"), expr("array(1.0d)")).as("mismatch"),
        VectorF.euclideanNative(col("a"),
          expr("array(1.0d, cast(null as double))")).as("withnull"))
      .head()
    assert(r.getDouble(0) === 5.0)
    assert(r.isNullAt(1) && r.isNullAt(2))
  }

  test("planeDots matches the per-plane composed dots on fixture vectors") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("v"))
    val idxs = Seq(0, 3, 7, 11)
    val composedCols = idxs.zipWithIndex.map { case (p, k) =>
      VectorF.dot(col("v"), typedlit(VectorF.plane(p, Dim))).as(s"c$k")
    }
    val df = emb.select(
      composedCols :+ VectorF.planeDots(col("v"), idxs, Dim).as("dots"): _*)
    val bad = idxs.indices.map(k =>
      df.filter(col(s"c$k") =!= col("dots").getItem(k)).count()).sum
    assert(bad === 0)
  }

  test("planeDots edges follow composed semantics: NULL on misfit input") {
    val r = Seq((Seq(1.0, 2.0), 1)).toDF("v", "i")
      .select(
        VectorF.planeDots(col("v"), Seq(0, 1), 2).as("ok"),
        VectorF.planeDots(col("v"), Seq(0, 1), 3).as("mismatch"),
        VectorF.planeDots(expr("array(1.0d, cast(null as double))"),
          Seq(0, 1), 2).as("withnull"))
      .head()
    assert(!r.isNullAt(0) && r.getSeq[Double](0).length === 2)
    assert(r.isNullAt(1) && r.isNullAt(2))
  }
}
