package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorF

class CosineSimSpec extends SparkSpec {
  import spark.implicits._

  test("native cosine is bit-identical to the composed zip_with/aggregate form") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val a = emb.select(col("vec_id").as("ia"), col("v").as("va"))
    val b = emb.select(col("vec_id").as("ib"), col("v").as("vb"))
    val both = a.filter(col("ia") < 20).crossJoin(b.filter(col("ib") < 20))
      .select(VectorF.cosine(col("va"), col("vb")).as("composed"),
        VectorF.cosineNative(col("va"), col("vb")).as("native"))
    val mismatches = both.filter(
      col("composed") =!= col("native") ||
        (col("composed").isNull !== col("native").isNull)).count()
    assert(mismatches === 0)
    // sanity: self-similarity is 1.0 (exactly, same fold both ways)
    val self = emb.limit(5)
      .select(VectorF.cosineNative(col("v"), col("v")).as("s"))
      .as[Double].collect()
    self.foreach(v => assert(math.abs(v - 1.0) < 1e-12))
  }

  test("zero-norm and length-mismatch inputs yield NULL") {
    val df = Seq((Seq(0.0, 0.0), Seq(1.0, 2.0)))
      .toDF("z", "v")
    val r = df.select(
      VectorF.cosineNative(col("z"), col("v")).as("zero"),
      VectorF.cosineNative(col("v"), expr("array(1.0d)")).as("mismatch"),
      VectorF.cosineNative(col("v"), expr("array(1.0d, cast(null as double))"))
        .as("withnull"))
      .head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }
}
