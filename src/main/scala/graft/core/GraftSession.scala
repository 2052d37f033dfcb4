package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory (SURVEY.md §7.1 module 1).
  *
  * Reference behavior replaced: the reference creates BigQuery clients and
  * submits remote jobs (`taxi_trips_etl.py:25-26`); here the "engine" is a
  * locally configured SparkSession with scale-appropriate defaults:
  *  - AQE on → runtime shuffle coalescing, broadcast conversion, skew splits
  *  - shuffle.partitions sized to the local core count (a real cluster run
  *    would size this to ~2-3x total cores; AQE coalesces the excess)
  *  - UTC session timezone (BigQuery TIMESTAMP semantics are UTC)
  */
object GraftSession {

  /** Initial shuffle-partition count sized from the DATASET, not the
    * core count — the shuffle analog of `ScaleQueries.autoBuckets`,
    * and measured both ways at the scale points:
    *
    *  - With a fixed 32, per-partition shuffle_hash builds grow
    *    linearly with data and OOM at the sf10 point
    *    (j_enrich_join_graph: 60M rows / 32 ≈ 2M-row hash builds × 32
    *    concurrent tasks in one 8 GB heap).
    *  - A blanket 256 fixes sf10 but REGRESSES sf1 by 25–40% (a3 3.6 →
    *    5.2–6.2 s, star 3.3 → 4.6–5.6 s, alternating A/B): 8× the map
    *    outputs and the coalesce pass are pure overhead when every
    *    build already fits.
    *
    * So the initial count derives from the input directory's bytes
    * (~4 MB of source parquet per partition — at ~150 the iterative
    * BFS still OOM'd its shuffle-arm joins at sf10 while ~286 holds
    * comfortably, so the divisor errs toward more, smaller partitions;
    * floor at the core count, capped): sf0.1/sf1 stay at 32, sf10
    * lands at ~290 and every build stays bounded. AQE's coalescing
    * then shrinks small shuffles back toward the advisory size at ANY
    * setting — this knob only sets the upper bound AQE starts from. On
    * a real cluster the same rule falls out of
    * `spark.sql.shuffle.partitions ≈ 2-3× total cores` scaling with
    * the fleet; a single fixed-size box has to derive it from the data
    * instead. */
  def initialShufflePartitions(sfDir: String, cores: Int): Int = {
    def sizeOf(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles() match {
        case null => 0L
        case fs => fs.map(sizeOf).sum
      } else f.length()
    val bytes = sizeOf(new java.io.File(sfDir))
    val bySize = math.ceil(bytes / (4.0 * 1024 * 1024)).toInt
    math.min(1024, math.max(cores, bySize))
  }

  /** Size of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100), sized to the
    * engine's working set rather than to one query.
    *
    * The cache is an LRU over compiled (Janino) classes, and a repeated
    * workload visits its classes in a cycle. An LRU smaller than a
    * cyclic working set misses on EVERY access, so each pass recompiles
    * all of it — mostly inside tasks, where it shows as task time, not
    * as extra jobs. Measured at the default size, in compiles per
    * repeated pass:
    *  - one `corpus_curation` pass (the ten corpus operators): 282–331;
    *  - one staged taxi backfill day: 66 (fits the default either way);
    *  - one pass of Bench's 43 benched queries at sf0.01: 859–860, the
    *    largest repeated set the engine has. A whole Bench run at this
    *    size (ANALYZE, warm-up at sf0.001, three passes) compiles 855
    *    distinct classes.
    *
    * At 2048 a repeated corpus pass compiles 0 classes (`CodegenCacheSpec`
    * pins it). A repeated Bench pass compiles 0 too, except where a
    * query's generated code varies from run to run: j_enrich_join_graph
    * and x_containment_pairs generate a few classes not seen before on
    * some runs (6 compiles in pass 2, 0 in pass 3). 4096 does the same
    * (0, then 4), so those are new classes, not evictions.
    * The cache size changes no plan: jobs, stages, tasks and shuffle
    * bytes stay identical.
    *
    * Once per JVM: the cache is built when `CodeGenerator` is first
    * used, from the conf active at that moment. A session must
    * therefore be built here BEFORE anything in the JVM generates code;
    * a session built outside this factory keeps the 100-entry cache and
    * recompiles on every pass. */
  val CodegenCacheEntries: Int = 2048

  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
            appName: String = "graft",
            extraConf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", math.max(cores, 8).toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.timeType.enabled", "true") // 4.1 TIME feature flag
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    extraConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
