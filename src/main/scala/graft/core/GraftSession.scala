package graft.core

import java.net.URI

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{GraftBridge, SparkSession}

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
    * pins it). The factory also sets `spark.sql.codegen.useIdInClassName`
    * to false. Spark numbers a plan's whole-stage-codegen stages in the
    * order AQE creates its query stages, which follows the order earlier
    * stages finish, and by default it puts that number in the generated
    * class's name. So the same plan could generate new class text on
    * some runs: x_containment_pairs numbered its two broadcast sides'
    * stages 5 and 6 or 7 and 5, and compiled 4 new classes in about one
    * repeated pass in ten under CPU load (and j_enrich_join_graph 6 in
    * Bench's pass 2). Without the number the text is the same.
    * The cache size changes no plan: jobs, stages, tasks and shuffle
    * bytes stay identical.
    *
    * Once per JVM: the cache is built when `CodeGenerator` is first
    * used, from the conf active at that moment. A session must
    * therefore be built here BEFORE anything in the JVM generates code;
    * a session built outside this factory keeps the 100-entry cache and
    * recompiles on every pass. */
  val CodegenCacheEntries: Int = 2048

  /** The `file:` filesystem bindings: Hadoop's `FileSystem` and
    * `FileContext` (streaming checkpoints and state stores) both resolve
    * `file:` to the graft classes in `LocalFs.scala`, which set
    * permissions through `java.nio` instead of a forked `chmod`.
    *
    * Spark's distribution ships no libhadoop, so Hadoop's
    * `RawLocalFileSystem` forks `chmod` for every directory and file it
    * creates, `.crc` files included. JFR counted 44 forks per staged
    * taxi day at sf0.1 (16 in task-side parquet file creation, 12 in the
    * committer's `setupJob`, 8 in `commitJob`, 8 in `Catalog.pinSchema`)
    * at 5.8–6.1 ms each in a 3 GB JVM, against 3–15 µs for the in-process
    * `chmod(2)`. One `st_h3_enrich` run forked 170 (58 `chmod`, 112
    * `readlink` from `FileContext` renames of checkpoint and state
    * files). Bound, both fork none (`LocalFsSpec` pins it).
    *
    * Once per JVM: Hadoop caches `FileSystem` instances JVM-wide by
    * scheme, authority and user, not by conf. If anything in the JVM
    * resolved `file:` before this factory's first session, that cached
    * instance wins, and [[local]] prints a loud stderr line. */
  val LocalFsConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[GraftLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[GraftLocalFs].getName)

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
      .config("spark.sql.codegen.useIdInClassName", "false")
    (LocalFsConf ++ extraConf).foreach { case (k, v) => b.config(k, v) }
    // Set after `extraConf`, so no caller turns it off: a scan of a
    // bucketed table with one file per bucket reports its files' sort
    // order, and a plan over the sorted-bucketed layouts
    // (`ScaleQueries`) needs no Sort above the scan. It has to hold for
    // the whole session, because every action plans its own physical
    // plan: a conf set only while a frame is built never reaches the
    // plan a later write runs. No other table the engine reads is
    // bucketed.
    b.config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fileFs = FileSystem.get(URI.create("file:///"),
      spark.sessionState.newHadoopConf())
    if (!fileFs.isInstanceOf[GraftLocalFileSystem])
      System.err.println(s"[graft] WARNING: file: resolves to " +
        s"${fileFs.getClass.getName}, not GraftLocalFileSystem: it was " +
        "cached before this session, so every local write forks chmod")
    dropHadoopDefaults(spark.sparkContext.hadoopConfiguration)
    dropHadoopDefaults(GraftBridge.sharedHadoopConf(spark))
    spark
  }

  /** Removes from `conf` every key whose property sources are all Hadoop
    * `*-default.xml` resources, so a session's Hadoop conf holds only the
    * keys something set: Spark, `spark.hadoop.*`, a `*-site.xml` or code.
    *
    * Spark ships the session's Hadoop conf with every parquet scan (a
    * broadcast) and every write (in the `WriteJobDescription` each write
    * task deserializes), and every `newHadoopConf()` copies it. A
    * `local` session's conf held 1,104 keys, 1,070 of which only restate
    * `yarn-default.xml` (520), `core-default.xml` (356) and
    * `mapred-default.xml` (194). Its `SerializableConfiguration` was
    * 113,572 bytes and took 4.9 ms to serialize and 4.8 ms to deserialize
    * (JIT-warm medians on a 4-core Linux VM, `graft.HadoopConfProbe` in
    * the test tree). Trimmed, the conf a session copies holds 34 keys:
    * 5,257 bytes, 0.16 ms and 0.16 ms.
    *
    * A task already rebuilds the conf it is shipped as
    * `new Configuration(false)`, so every key that is not shipped reads
    * as Hadoop's compiled-in default on the task side; after this trim
    * the driver reads the same. The dropped keys the engine's scans,
    * writes and checkpoints read resolve in code to the value the
    * default resource gave them (`fs.defaultFS` to `file:///`,
    * `fs.permissions.umask-mode` to `022`, `file.bytes-per-checksum` to
    * 512, `hadoop.security.authentication` to `simple`). These have no
    * code default, and no engine path reads them:
    *  - `hadoop.tmp.dir`. Of the classes in Spark's jars only
    *    `DataBlocks.DiskBlockFactory`, the disk buffer of the object-store
    *    output streams, reads it; graft reads and writes `file:` paths.
    *  - `fs.AbstractFileSystem.<scheme>.impl` for every scheme but `file`
    *    (whose binding [[LocalFsConf]] sets). Only `FileContext` reads
    *    them, and Spark opens one only for streaming checkpoints, which
    *    graft keeps on `file:`. On another scheme Spark's
    *    `CheckpointFileManager` falls back to its `FileSystem` manager.
    *
    * A key a user needs from a default resource is set through
    * `spark.hadoop.*` or a site file, as on a cluster. A class
    * initializer that calls `Configuration.addDefaultResource` with a new
    * resource (`JobConf`'s and `HdfsConfiguration`'s do) reloads every
    * conf from its resources and would bring the defaults back;
    * `HadoopConfSpec` bounds the conf's size after a staged day and a
    * corpus operator to catch that. */
  private def dropHadoopDefaults(conf: Configuration): Unit =
    conf.synchronized(defaultOnlyKeys(conf).foreach(conf.unset))

  /** The keys of `conf` whose property sources are all Hadoop
    * `*-default.xml` resources. */
  private[core] def defaultOnlyKeys(conf: Configuration): List[String] =
    conf.synchronized {
      conf.iterator().asScala.map(_.getKey).filter { k =>
        Option(conf.getPropertySources(k))
          .exists(s => s.nonEmpty && s.forall(_.endsWith("-default.xml")))
      }.toList
    }

  /** The session every evidence tool runs (`Bench`, `Verify`, `Explain`,
    * `BenchLab`): [[local]] at `cores`, shuffle partitions = `cores`,
    * AQE's initial partition count sized from `dataDir`
    * ([[initialShufflePartitions]]), and the fixture tables under
    * `dataDir` analyzed ([[TableStats.analyze]]), so the cost-based
    * rules plan against the same stats in every tool. */
  def forData(dataDir: String, cores: Int, appName: String): SparkSession = {
    val spark = local(cores, appName, Map(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
        initialShufflePartitions(dataDir, cores).toString))
    TableStats.analyze(spark, dataDir)
    spark
  }
}
