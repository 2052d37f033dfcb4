package graft.core

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{SparkEntry, SparkSpec, TestSession}

/** The generated-code cache holds the corpus operators' working set
  * (GraftSession.CodegenCacheEntries): their first pass generates more
  * classes than Spark's default 100-entry LRU holds, and a second pass
  * compiles none. At the default size the cyclic pass misses on every
  * class and recompiles all of them. */
class CodegenCacheSpec extends SparkSpec {

  /** The ten operators of the `corpus_curation` benchmark workload. */
  private val CorpusOps = Seq("x_dedup_exact", "x_minhash_lsh_pairs",
    "x_containment_pairs", "x_dedup_substring", "x_dedup_substring_excise",
    "x_dedup_components", "x_shortest_path", "x_semdedup",
    "x_embed_neardup_prod", "c_corpus_pipeline")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Janino compiles one pass over the ten operators performs. */
  private def pass(session: SparkSession): Long = {
    val c0 = compiles
    CorpusOps.foreach { name =>
      SparkEntry.benchQueries.getOrElse(name, SparkEntry.queries(name))(
        session, sf).write.format("noop").mode("overwrite").save()
    }
    compiles - c0
  }

  test("TestSession's conf carries the codegen cache size") {
    assert(TestSession.spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a second corpus pass compiles 0 classes") {
    // The cache is JVM-wide and earlier suites may already hold some of
    // these classes; empty it so pass 1 measures the cold working set.
    // Its capacity was fixed when CodeGenerator was first used, so a
    // suite that generated code before TestSession existed still shows
    // here as recompiles in pass 2.
    val session = spark // built before CodeGenerator initializes
    val field = CodeGenerator.getClass.getDeclaredField("cache")
    field.setAccessible(true)
    val cache = field.get(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    val first = pass(session)
    val second = pass(session)
    info(s"compiles: pass 1 = $first, pass 2 = $second")
    assert(first > 100, "the working set must exceed Spark's default cache")
    assert(second === 0L)
  }
}
