package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BooleanType, LongType}

import graft.plans.KernelCall

/** Bloom-filter membership over a broadcast word array — the
  * semi-join-reduction primitive (mirrors what Spark's
  * `InjectRuntimeFilter` builds internally, but as an explicit,
  * deterministic operator the engine can apply to any fact scan).
  *
  * The filter is a plain `Array[Long]` of 2^logBits bits baked into the
  * plan as a constant (built once from the dim side, a few KB —
  * see `ScaleQueries.bloomWords`), probed with K double-hashed positions
  * derived from one splitmix64 mix of the key. [[probe]] is one kernel
  * call of [[mightContain]], so whole-stage codegen keeps the probe
  * inside the scan stage — the fact table is pruned BEFORE the join
  * exchange, which at 100 TB is the difference between shuffling the
  * full fact table and shuffling the ~matching fraction.
  *
  * No false negatives (every inserted key probes true), so
  * `bloom-prune → exact join` is semantically identical to the plain
  * join — exactly what the DuckDB oracle checks.
  */
object BloomF {

  /** splitmix64 finalizer — one multiply-xor-shift cascade; public so
    * build (insert) and probe share the mix. */
  @inline def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The i-th probe position for a key: double hashing
    * h1 + i*h2 (h2 forced odd) masked to the 2^logBits table. */
  @inline def position(key: Long, i: Int, logBits: Int): Int = {
    val h = mix(key)
    val h1 = (h & 0x7fffffffL).toInt
    val h2 = ((h >>> 32) | 1L).toInt
    (h1 + i * h2) & ((1 << logBits) - 1)
  }

  /** Number of probe hashes. */
  val K = 4

  /** Build the word array from an iterator of keys (driver-side
    * assembly of the distributed per-word OR aggregate). */
  def emptyWords(logBits: Int): Array[Long] = new Array[Long](1 << (logBits - 6))

  def insert(words: Array[Long], key: Long, logBits: Int): Unit = {
    var i = 0
    while (i < K) {
      val p = position(key, i, logBits)
      words(p >>> 6) |= 1L << (p & 63)
      i += 1
    }
  }

  /** The probe kernel (key first: it is the call's column argument). */
  def mightContain(key: Long, words: Array[Long], logBits: Int): Boolean = {
    var i = 0
    while (i < K) {
      val p = position(key, i, logBits)
      if ((words(p >>> 6) & (1L << (p & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** `bloom_might_contain(key)`: false only for a key never inserted.
    * NULL key → NULL. */
  def probe(key: Column, words: Array[Long], logBits: Int): Column = {
    require(words.length == 1 << (logBits - 6),
      s"bloom_might_contain: word array must hold 2^$logBits bits")
    KernelCall.column("bloom_might_contain", this, "mightContain",
      BooleanType, Seq(key -> LongType), Seq(words, logBits))
  }
}
