package graft.functions

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** `cosine_sim(array<double>, array<double>) → double` — the single-pass
  * kernel behind [[VectorF.cosineNative]], the upgrade of
  * `VectorF.cosine`'s zip_with/aggregate composition (SURVEY.md §2.10's
  * "custom kernel beats UDF" path).
  *
  * The composed form walks each array three times and materializes two
  * intermediate product arrays per row; this is ONE fused loop with three
  * scalar accumulators, inside whole-stage codegen. On a 100 TB embedding
  * scan (the brute-force rerank leg of every ANN query) the
  * intermediate-array garbage is the difference between a compute-bound
  * and an allocation-bound stage.
  *
  * Bit-compatibility contract (keeps every existing oracle hash): the
  * accumulation order and operation set are IDENTICAL to the composed
  * form — dot and the two norms are sequential left-to-right double
  * folds, and the result is `dot / (sqrt(na) * sqrt(nb))` with NULL on
  * zero denominator (the nullif guard), NULL elements, or length
  * mismatch (zip_with's padding semantics).
  */
object CosineSim {
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else dot / denom
  }
}

/** `euclidean_dist(array<double>, array<double>) → double` — single-pass
  * L2 distance, the kernel of the
  * `sqrt(aggregate(zip_with(a, b, (x,y) → (x−y)²)))` composition.
  * Catalyst higher-order functions are interpreted, and the composed
  * form materializes a per-row difference-square array; the IVF
  * assign step evaluates this once per (vector, centroid) pair per
  * Lloyd iteration — K×N×iters evaluations — so it stays inside
  * whole-stage codegen with no intermediate arrays.
  *
  * Bit-compatibility with the composed form (oracle-hash contract):
  * the fold is sequential left-to-right, each step `acc += (x−y)·(x−y)`
  * — the identical IEEE op sequence — and the result is `sqrt(acc)`.
  * NULL inputs, a length mismatch, or any NULL element yield NULL
  * (zip_with's padding makes the fold NULL in the composed form).
  *
  * Reference scope: backs the ANN extension ops (IVF assign/probe,
  * Lloyd's k-means); the reference engine has no vector surface.
  */
object EuclideanDist {
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getDouble(i) - b.getDouble(i)
      acc += d * d
      i += 1
    }
    math.sqrt(acc)
  }
}

/** `plane_dots(array<double>) → array<double>` — the vector's dot
  * products against a fixed hyperplane family, all in one scan. The
  * single-plane composed form (`aggregate(zip_with(v, planeLit, ·×·))`)
  * is interpreted and walks the vector twice per plane; the JL
  * random-projection scan needs ProjDim of them per row. One kernel
  * call does the P×dim multiply-add loop over primitive arrays, so the
  * projection stays a fused scan-side map at 100 TB.
  *
  * Bit-compatibility: element k is the left-to-right double fold of
  * `v[j] · plane(planeIdxs(k))[j]` — the same op sequence as the
  * composed dot. A length≠dim vector or any NULL element makes every
  * composed per-plane dot NULL, so the whole result is NULL.
  */
object PlaneDots {
  def compute(a: ArrayData, planes: Array[Array[Double]]): ArrayData = {
    val n = a.numElements()
    if (planes.length > 0 && n != planes(0).length) return null
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      i += 1
    }
    val v = a.toDoubleArray()
    val out = new Array[Any](planes.length)
    var k = 0
    while (k < planes.length) {
      val pl = planes(k)
      var dot = 0.0
      var j = 0
      while (j < n) { dot += v(j) * pl(j); j += 1 }
      out(k) = dot
      k += 1
    }
    new GenericArrayData(out)
  }
}

/** `plane_sign_bits(array<double>) → bigint` — packed sign bits of a
  * vector's dot products against a fixed hyperplane family: bit k is set
  * iff `<v, plane(planeIdxs(k))> >= 0`. This is the single-scan form of
  * `VectorF.planeSignBitComposed`'s `zip_with → aggregate → when`
  * composition, which Catalyst evaluates INTERPRETED (higher-order
  * functions have no codegen; each plane walks the vector twice and
  * allocates an intermediate product array per row). For an LSH bucket
  * id over P planes the composed form is 2P interpreted array walks per
  * vector; this is one kernel call doing a P×dim multiply-add loop over
  * a primitive `double[]` — on a 100 TB embedding scan the bucket
  * computation is the whole map side of the ANN probe and the near-dup
  * band fan-out, so it must stay fused.
  *
  * Bit-compatibility contract with the composed form (keeps oracle
  * hashes): dot folds left-to-right in doubles; a vector whose length
  * differs from `dim`, or any NULL element makes every plane's dot NULL,
  * whose `when(dot >= 0, …)` contributes 0 — so those rows yield 0L, not
  * NULL (`VectorF.planeSignBits` wraps the call in `coalesce(…, 0L)` for
  * the NULL-vector case, which the call null-propagates). Plane
  * components come from the same deterministic
  * `VectorF.hyperplaneComponent(p, d)` splitmix64 map both engines
  * inline.
  *
  * Reference scope: backs the similarity-search extension ops
  * (SURVEY.md §2 "beyond the reference": ANN LSH, embedding near-dup,
  * k-NN graph); the reference engine has no vector surface.
  */
object PlaneSignBits {

  private val families =
    new ConcurrentHashMap[(Seq[Int], Int), Array[Array[Double]]]()

  /** The plane family, one instance per `(planeIdxs, dim)`: it is a plan
    * literal, and literals compare arrays by reference, so two calls over
    * the same family must share it to stay equal (subexpression
    * elimination, exchange reuse). */
  def family(planeIdxs: Seq[Int], dim: Int): Array[Array[Double]] =
    families.computeIfAbsent((planeIdxs.toVector, dim), _ =>
      planeIdxs.map { p =>
        Array.tabulate(dim)(d => VectorF.hyperplaneComponent(p, d))
      }.toArray)

  def compute(a: ArrayData, planes: Array[Array[Double]]): Long = {
    if (planes.length == 0) return 0L
    val n = a.numElements()
    // composed-form edge semantics: length mismatch or any NULL element
    // nulls the dot for EVERY plane → all bits 0
    if (n != planes(0).length) return 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return 0L
      i += 1
    }
    val v = a.toDoubleArray()
    var bits = 0L
    var k = 0
    while (k < planes.length) {
      val pl = planes(k)
      var dot = 0.0
      var j = 0
      while (j < n) { dot += v(j) * pl(j); j += 1 }
      if (dot >= 0.0) bits |= 1L << k
      k += 1
    }
    bits
  }
}
