package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: derive a larger benchmark fixture from a driver-provided sf
  * dir by replicating every fact table `copies`× with CONSISTENT key
  * offsets (each copy's keys shift by copy·(max_key+1), so every
  * FK relationship holds within its copy and never crosses copies).
  * Dimension anchors (`region`, `nation`) stay fixed — zone/nation
  * semantics and group-by cardinalities are preserved while fact volume
  * scales linearly.
  *
  * Document text is token-tagged per copy (copy 0 keeps the original
  * corpus): shingle/minhash collisions then stay within a copy, so
  * near-dup pair density — and with it the cost of the pairs operators —
  * scales linearly like a larger real corpus, instead of quadratically
  * as verbatim duplication would force.
  *
  * Usage: `runMain graft.ScaleGen [srcDir] [outDir] [copies]`
  * (defaults: /root/testdata/sf0.1 → target/sf1 × 10). Used for the
  * PLANS.md sf1 scale measurement; correctness always runs on the
  * driver's own fixtures.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.core.GraftSession.local(32, "graft-scalegen")
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, src, out, copies)
    finally spark.stop()
  }

  /** Session-borrowing form (specs call this — the caller owns the
    * session lifecycle). */
  def run(spark: SparkSession, src: String, out: String,
      copies: Int): Unit = {
    def table(name: String): DataFrame = tbl(spark, src, name)

    /** Key stride for a replicated id space: one past the PARENT
      * table's max. FKs must use the parent PK's stride, not their own
      * column max — a parent key absent from the child (e.g. a customer
      * with no orders holding the top custkey) would otherwise give the
      * child a smaller stride and silently mis-join copies. Cast guards
      * INT32-typed fixture keys. */
    def stride(tableName: String, k: String): Long =
      table(tableName).agg(max(col(k).cast("long"))).head.getLong(0) + 1L

    /** Replicate with each key column shifted by cp·stride; leaves other
      * columns untouched and preserves column order. */
    def replicate(df: DataFrame, offs: Map[String, Long],
        extra: (DataFrame, Column) => DataFrame = (d, _) => d): DataFrame = {
      val cols = df.columns
      val cp = col("graft_cp")
      val rep = df.crossJoin(
          spark.range(copies.toLong).select(col("id").as("graft_cp")))
      val shifted = cols.foldLeft(rep) { (d, c) =>
        if (offs.contains(c)) d.withColumn(c, col(c) + cp * offs(c)) else d
      }
      extra(shifted, cp).select(cols.map(col): _*)
    }

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scalegen] $name -> $out ($copies x)")
    }

    // FK columns take the PARENT PK's stride so copies stay join-closed
    val custS = stride("customer", "c_custkey")
    val suppS = stride("supplier", "s_suppkey")
    val partS = stride("part", "p_partkey")
    val ordS = stride("orders", "o_orderkey")
    write("region", table("region"))
    write("nation", table("nation"))
    write("customer", replicate(table("customer"),
      Map("c_custkey" -> custS)))
    write("supplier", replicate(table("supplier"),
      Map("s_suppkey" -> suppS)))
    write("part", replicate(table("part"), Map("p_partkey" -> partS)))
    write("orders", replicate(table("orders"),
      Map("o_orderkey" -> ordS, "o_custkey" -> custS)))
    write("lineitem", replicate(table("lineitem"),
      Map("l_orderkey" -> ordS, "l_partkey" -> partS,
        "l_suppkey" -> suppS)))
    write("events", replicate(table("events"),
      Map("event_id" -> stride("events", "event_id"),
        "user_id" -> stride("events", "user_id"))))
    write("documents", replicate(table("documents"),
      Map("doc_id" -> stride("documents", "doc_id")),
      extra = (d, cp) => d.withColumn("text",
        when(cp === 0, col("text")).otherwise(
          regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("w"), cp.cast("string"), lit("x$1")))))))
    // Embeddings get the vector analog of the documents' token tagging
    // (round 14: verbatim copies made EVERY cross-copy pair a perfect
    // near-duplicate, so x_embed_neardup's candidate volume grew as
    // copies² — 135 s at sf1 in BOTH engines): each copy applies a
    // SIGNED CIRCULAR SHIFT — rotate by cp mod dim, flip signs where
    // xxhash64(cp, i) is odd. A signed permutation is orthogonal, so
    // all WITHIN-copy cosines are preserved bit-exactly (the workload
    // per copy is the real one), while cross-copy cosines collapse to
    // noise — near-dup density scales linearly like a real corpus.
    // Copy 0 keeps the original vectors.
    val embStride = stride("embeddings", "vec_id")
    val embReplicated = replicate(table("embeddings"),
      Map("vec_id" -> embStride),
      extra = (d, cp) => d.withColumn("embedding",
        when(cp === 0, col("embedding")).otherwise(expr(
          """transform(sequence(0, size(embedding) - 1), i ->
            |  element_at(embedding,
            |    CAST(pmod(i + graft_cp, size(embedding)) AS INT) + 1) *
            |  CASE WHEN pmod(xxhash64(graft_cp, i), 2) = 0
            |       THEN CAST(1.0 AS FLOAT)
            |       ELSE CAST(-1.0 AS FLOAT) END)""".stripMargin))))
    // PLANTED near-duplicates (round 15, verdict item 1): every
    // PlantEvery-th vector gets a twin at cos ≈ 0.95 — per-coordinate
    // multiplicative jitter e_i · (1 + δ·s_i) with deterministic signs
    // s_i = ±1 from xxhash64(vec_id, i) and δ = 0.33 (random-sign
    // jitter is near-orthogonal to e, so cos ≈ 1/√(1+δ²) ≈ 0.95).
    // Twin ids live above every replicated id (stride · copies + id):
    // unique, and the twin of a copy-k vector is jittered FROM the
    // decorrelated copy-k vector, so near-dup pair density is exactly
    // one pair per PlantEvery vectors — linear in SF, like a real
    // corpus — and no cross-copy near-dups appear. This is what makes
    // the production-regime `x_embed_neardup_prod` (cos ≥ 0.9)
    // non-trivial at generated SFs.
    val planted = embReplicated
      .filter(pmod(col("vec_id"), lit(PlantEvery)) === 0)
      .withColumn("vec_id", col("vec_id") + lit(embStride * copies))
      .withColumn("embedding", expr(
        """transform(embedding, (x, i) ->
          |  x * CAST(1.0 + 0.33 *
          |    CASE WHEN pmod(xxhash64(vec_id - """.stripMargin +
          embStride * copies +
          """L, i), 2) = 0 THEN 1.0 ELSE -1.0 END AS FLOAT))"""))
    write("embeddings", embReplicated.unionAll(planted))
  }

  /** One planted near-dup twin per this many embedding vectors. */
  val PlantEvery: Int = 25
}
