package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

import graft.plans.KernelCall

/** Embedding-vector math over `array<float>`/`array<double>` columns, for
  * the similarity-search / near-dup extension ops.
  *
  * Built on the codegen'd higher-order array functions (`zip_with` /
  * `aggregate`) rather than UDFs: stays inside whole-stage codegen and
  * needs no SerDe. All math is done in doubles, folding left-to-right —
  * the same order DuckDB's `list_cosine_similarity` uses, so results are
  * bit-comparable with the oracle.
  */
object VectorF {

  /** Sequential left-to-right sum of an array<double> column. */
  def arraySum(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x)

  def dot(a: Column, b: Column): Column =
    arraySum(zip_with(a, b, (x, y) => x * y))

  def norm2(a: Column): Column = sqrt(arraySum(zip_with(a, a, (x, y) => x * y)))

  /** Cosine similarity; NULL on zero-norm inputs (division yields NULL via
    * nullif guard rather than NaN/Inf). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / nullif(norm2(a) * norm2(b), lit(0.0))

  /** [[cosine]] as one kernel call ([[CosineSim]]) — same bits, one
    * fused loop, no intermediate product arrays. */
  def cosineNative(a: Column, b: Column): Column =
    KernelCall.column("cosine_sim", CosineSim, "compute", DoubleType,
      Seq(a -> DoubleArray, b -> DoubleArray), returnNullable = true)

  /** L2 distance as the composed HOF form — kept as the spec reference
    * for [[euclideanNative]]. */
  def euclideanComposed(a: Column, b: Column): Column =
    sqrt(arraySum(zip_with(a, b, (x, y) => (x - y) * (x - y))))

  /** [[euclideanComposed]] as one kernel call ([[EuclideanDist]]) — same
    * bits, one fused loop, no intermediate difference arrays. */
  def euclideanNative(a: Column, b: Column): Column =
    KernelCall.column("euclidean_dist", EuclideanDist, "compute", DoubleType,
      Seq(a -> DoubleArray, b -> DoubleArray), returnNullable = true)

  /** All dot products against a plane family in one scan ([[PlaneDots]]);
    * element k is `<v, plane(planeIdxs(k))>` with the composed fold's
    * bits. */
  def planeDots(v: Column, planeIdxs: Seq[Int], dim: Int): Column =
    KernelCall.column("plane_dots", PlaneDots, "compute",
      ArrayType(DoubleType, containsNull = false), Seq(v -> DoubleArray),
      Seq(PlaneSignBits.family(planeIdxs, dim)), returnNullable = true)

  private val DoubleArray = ArrayType(DoubleType)

  /** Random-hyperplane LSH bucket: sign-bit signature over `nPlanes`
    * deterministic pseudo-hyperplanes derived from the vector itself is NOT
    * valid LSH — planes must be data-independent. We derive plane p's
    * component d from a fixed hash h(p,d) mapped to [-1,1): deterministic,
    * engine-independent, no RNG at plan time. */
  def hyperplaneComponent(p: Int, d: Int): Double = {
    // splitmix64-style integer mix of (p,d) → uniform double in [-1, 1)
    var z = (p.toLong << 32 | (d.toLong & 0xffffffffL)) + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    // z>>>11 is a 53-bit value; scale by 2^53 → [0,1) → affine to [-1,1)
    (z >>> 11).toDouble / 9007199254740992.0 * 2.0 - 1.0 // 2^53
  }

  /** The full plane-p vector for dimension `dim` (shared with the oracle
    * SQL, which inlines the same values as a list literal). */
  def plane(p: Int, dim: Int): Seq[Double] =
    (0 until dim).map(d => hyperplaneComponent(p, d))

  /** Sign bit of <v, plane_p> for a fixed-dimension vector column. The
    * plane is ONE array literal (`typedlit`), not dim scalar literals —
    * at embedding dims × 16 planes, per-element `lit`s would blow up the
    * plan/constant pool; a single ArrayType literal keeps the codegen'd
    * dot product and a constant-size plan.
    *
    * Composed (interpreted-HOF) reference form — production callers go
    * through [[planeSignBits]], the kernel call; the equivalence is
    * spec-asserted (`PlaneSignBitsSpec`). */
  def planeSignBitComposed(v: Column, p: Int, dim: Int): Column =
    when(dot(v, typedlit(plane(p, dim))) >= 0, 1L).otherwise(0L)

  /** Packed sign bits of <v, plane_k> for a plane family, as one
    * single-scan kernel call ([[PlaneSignBits]]): bit k of the result is
    * the sign bit against `planeIdxs(k)`. The coalesce pins the composed
    * form's NULL-vector edge (dot NULL → when → 0). */
  def planeSignBits(v: Column, planeIdxs: Seq[Int], dim: Int): Column =
    coalesce(KernelCall.column("plane_sign_bits", PlaneSignBits, "compute",
      LongType, Seq(v -> DoubleArray),
      Seq(PlaneSignBits.family(planeIdxs, dim))), lit(0L))

  /** `nPlanes`-bit LSH bucket id for a vector column of dimension `dim`
    * (native; bit p = sign against plane p, matching the composed
    * `Σ signBit(p) · 2^p` exactly). */
  def lshBucket(v: Column, nPlanes: Int, dim: Int): Column =
    planeSignBits(v, 0 until nPlanes, dim)

  /** Composed-HOF reference form of [[lshBucket]], kept for the
    * native≡composed equivalence spec. */
  def lshBucketComposed(v: Column, nPlanes: Int, dim: Int): Column =
    (0 until nPlanes).map(p => planeSignBitComposed(v, p, dim) * lit(1L << p))
      .reduce(_ + _)
}
