package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Benchmark main — times every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line on stdout (build.sbt routes forked stdout through
  * unprefixed so the driver can parse it).
  *
  * Failures are reported as failures (name in "failed", no fake timing) —
  * a broken query must not contribute a fast wall-clock number.
  */
object Bench {

  /** Untimed between-runs hygiene, run before every timed sample: several
    * queries localCheckpoint intermediates (dedup components, shortest
    * path, the pair scorers), and those storage blocks stay alive until
    * the ContextCleaner GCs the plan that references them. Left alone,
    * 27 queries × N passes of stale blocks pile up in the block manager
    * and the iterative queries degrade 2× mid-run (x_dedup_components
    * measured 6.3 s solo vs 15.6 s late in a full pass). Every query gets
    * the same clean slate the cold per-query DuckDB comparator gets. */
  def cleanSlate(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.catalog.clearCache()
    // blocking (round 13): with blocking=false the block-removal work
    // is enqueued async and lands INSIDE the next timed sample
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // min-of-N steady-state sampling; N=1 for one-off scale points (sf1).
    // N=5 is THE recorded protocol (round 13): this host shows stochastic
    // CPU steal (identical plans measured 1.5 s and 69 s minutes apart),
    // and the round-12 post-close band measurement showed N=3 minima
    // still riding the steal band on ~2 of 34 queries per window while
    // N=5 recovers the steady state (w_star_join 2.59 s at N=5 vs
    // straddling 1.46–2.28x across N<=2 windows). The sample schedule
    // (below; hybrid by default) splits each query's samples across two
    // passes, so one steal window cannot take all of them.
    val samples = sys.env.getOrElse("SPARK_GRAFT_BENCH_SAMPLES", "5").toInt
    if (samples < 1) {
      System.err.println(s"[bench] SPARK_GRAFT_BENCH_SAMPLES must be ≥ 1")
      sys.exit(2)
    }
    // dev knob: comma-separated query-name subset (default: all);
    // unknown names are an error, not a silent empty (all-green) run
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // dev knob: comma-separated exclusion list; composes with ONLY,
    // same unknown-name strictness. (Since r16 no standing exclusion
    // exists — the demo near-dup whose ~n²/4 candidate volume forced
    // the r15 sf10 knob is bench=false with its oracle kept.)
    val exclude = sys.env.get("SPARK_GRAFT_BENCH_EXCLUDE")
      .map(_.split(",").map(_.trim).toSet)
    Seq("ONLY" -> only, "EXCLUDE" -> exclude).foreach { case (knob, sel) =>
      sel.foreach { names =>
        val unknown = names -- SparkEntry.benchNames.toSet
        if (unknown.nonEmpty) {
          System.err.println(
            s"[bench] unknown bench queries in $knob: ${unknown.mkString(", ")}")
          sys.exit(2)
        }
      }
    }
    // ANALYZE: register (rows, NDV) catalog stats for the fixtures so the
    // cost-based skip-partial rule (graft.plans.AutoSkipPartialAgg) can
    // decide plan shapes — the standard once-per-load warehouse step,
    // outside the timed region (the comparator's engine collects its own
    // stats from parquet metadata on every read). forData analyzes sfDir,
    // the warm-up fixture is analyzed before the warm-up.
    val spark = graft.core.GraftSession.forData(sfDir, cpus.toInt, "graft-bench")
    spark.sparkContext.setLogLevel("ERROR")
    // One known-benign stderr pattern, suppressed surgically (round 13,
    // narrowed round 14 per ADVICE): cleanSlate's System.gc() collects
    // the weakly-held accumulators of ALREADY-FINISHED actions, and a
    // late completion event from a limit-short-circuited job (e.g. a
    // convergence `.head()` whose remaining tasks were cancelled after
    // the limit was satisfied) then fails the accumulator lookup inside
    // DAGScheduler.updateAccumulators, which logError's a full
    // "non-existent accumulator" stack trace with rc=0 — pure noise that
    // polluted the BENCH_r12 artifact tail. The race is in the harness's
    // between-runs hygiene, not any query, so the suppression is scoped
    // to THAT MESSAGE on THAT logger in THIS main (a blanket FATAL — the
    // round-13 form — also swallowed real scheduler failures): any other
    // DAGScheduler error still prints, and real failures additionally
    // surface as thrown exceptions on the timed action (recorded in
    // "failed").
    locally {
      import org.apache.logging.log4j.LogManager
      import org.apache.logging.log4j.core.{Filter, LogEvent, LoggerContext}
      import org.apache.logging.log4j.core.config.LoggerConfig
      import org.apache.logging.log4j.core.filter.AbstractFilter
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val cfg = ctx.getConfiguration
      val name = "org.apache.spark.scheduler.DAGScheduler"
      val lc = new LoggerConfig(name, org.apache.logging.log4j.Level.ERROR,
        /* additive = */ true)
      lc.addFilter(new AbstractFilter() {
        // LoggerConfig-attached filters run on the constructed LogEvent
        // (processLogEvent), so this is the only overload that matters;
        // the no-arg AbstractFilter defaults keep every other path NEUTRAL
        override def filter(event: LogEvent): Filter.Result = {
          val msg = Option(event.getMessage)
            .map(_.getFormattedMessage).getOrElse("")
          val thrown = Option(event.getThrown).map(_.toString).getOrElse("")
          if (msg.contains("non-existent accumulator") ||
              thrown.contains("non-existent accumulator"))
            Filter.Result.DENY
          else Filter.Result.NEUTRAL
        }
      })
      cfg.addLogger(name, lc)
      ctx.updateLoggers()
    }

    val names = SparkEntry.benchNames.filter(n => only.forall(_.contains(n)))
      .filter(n => exclude.forall(!_.contains(n)))
      .filter(SparkEntry.benchQueries.contains)
    // ADVICE r15: ONLY ∘ EXCLUDE can compose to the empty set (EXCLUDE a
    // superset of ONLY) even though each knob alone passed the
    // unknown-name check — that would be exactly the silent all-green
    // empty run the strictness above exists to prevent
    if (names.isEmpty) {
      System.err.println(
        "[bench] ONLY/EXCLUDE selection left zero bench queries")
      sys.exit(2)
    }

    // Warm every plan at the smallest SF first: JIT warm-up and the first
    // whole-stage codegen compile of each class land here, not in the
    // timed passes (measured 22 s cold vs 2.4 s warm on identical plans).
    // The compiles stay one-time only because the session's generated-code
    // cache holds the whole benched working set
    // (GraftSession.CodegenCacheEntries): at Spark's default 100 entries
    // every timed pass recompiled ~860 classes at sf0.01. A warm-up
    // failure (e.g. the warm-up fixture absent) must not mark the query
    // failed — only the timed runs at the target SF decide that.
    val debug = sys.env.get("SPARK_GRAFT_BENCH_DEBUG").contains("1")
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    graft.core.TableStats.analyze(spark, "/root/testdata/sf0.001")
    names.foreach { name =>
      try SparkEntry.benchQueries(name)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name warmup skipped: ${e.getMessage}")
      }
    }
    if (debug) System.err.println(s"[benchdbg] compiles before pass 1: $compiles")

    // Min-of-N steady-state sampling, spread over the run by the sample
    // schedule below (hybrid by default). The host shows stochastic CPU
    // steal (identical plans measured 1.5 s and 69 s minutes apart), and
    // a steal window of tens of seconds spans all N back-to-back samples
    // of a single query; spreading them lets min-of-N recover the
    // steady-state number for every query instead of losing one query
    // entirely.
    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    // Sample schedule (round 13): (pass, name) visit order.
    //  - interleave: pass 1 runs every query once, then pass 2, … — the
    //    round-7 protocol (one host-steal window hits at most one sample
    //    of each query).
    //  - burst: all N samples of a query back-to-back — measured 0.5–0.9 s
    //    faster on the iterative/driver-action queries (x_shortest_path
    //    2.4 → 1.5 s at sf0.1). That gap was the generated-code cache,
    //    not JIT tiering: at Spark's default 100 entries each interleaved
    //    pass recompiled all ~870 benched classes, while a burst's later
    //    samples found its query's classes still cached. With the cache
    //    sized (GraftSession.CodegenCacheEntries) x_shortest_path measured
    //    1.24 s interleaved vs 1.03 s burst (sf0.1, 4 cores, one run each).
    //  - hybrid: two passes of bursts (ceil/floor split) — back-to-back
    //    samples within each burst, and a steal window can still only eat
    //    one of the two bursts.
    // Scale-point guidance: run sf ≥ 10 windows with
    // SPARK_GRAFT_BENCH_SCHEDULE=interleave. Back-to-back passes of a
    // memory-bound query leave no drain time for the previous pass's
    // async cleanup (broadcasts/shuffle files release via the
    // ContextCleaner AFTER cleanSlate's gc returns), and per-pass times
    // are large enough there that any back-to-back gain is noise —
    // measured: x_containment_pairs pass 2 OOM'd the 8g default heap
    // under burst at sf10 while the interleaved window (30 queries of
    // spacing) ran the identical plan clean in the same session config.
    val schedule = sys.env.getOrElse("SPARK_GRAFT_BENCH_SCHEDULE", "hybrid")
    val visits: Seq[(Int, String)] = schedule match {
      case "interleave" =>
        for (pass <- 1 to samples; name <- names) yield (pass, name)
      case "burst" =>
        for (name <- names; pass <- 1 to samples) yield (pass, name)
      case "hybrid" =>
        val first = samples - samples / 2
        (for (name <- names; pass <- 1 to first) yield (pass, name)) ++
          (for (name <- names; pass <- first + 1 to samples)
            yield (pass, name))
      case other =>
        System.err.println(s"[bench] unknown schedule '$other'")
        sys.exit(2)
    }
    val best = scala.collection.mutable.Map.empty[String, Double]
    var failed = List.empty[String]
    // Codegen compiles per timed pass: a counter that does not depend on
    // the timing window. 0 once every benched class sits in the
    // generated-code cache (GraftSession.CodegenCacheEntries).
    val passCompiles = scala.collection.mutable.Map.empty[Int, Long]
    for ((pass, name) <- visits if !failed.contains(name)) {
      cleanSlate(spark)
      val c0 = compiles
      try {
        val gc0 = if (debug) gcMillis else 0L
        val t0 = System.nanoTime()
        val df = SparkEntry.benchQueries(name)(spark, sfDir)
        val tPlan = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        if (debug) System.err.println(
          f"[benchdbg] $name%-26s pass$pass $dt%.3f s " +
            f"build ${(tPlan - t0) / 1e9}%.3f gc ${(gcMillis - gc0) / 1e3}%.3f " +
            s"compiles ${compiles - c0}")
        best.updateWith(name)(prev => Some(prev.fold(dt)(math.min(_, dt))))
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED (pass $pass): ${e.getMessage}")
          failed ::= name
          best.remove(name)
      }
      passCompiles(pass) = passCompiles.getOrElse(pass, 0L) + compiles - c0
    }
    (1 to samples).foreach { pass =>
      System.err.println(
        s"[bench] pass $pass: ${passCompiles.getOrElse(pass, 0L)} codegen compiles")
    }
    val results = names.filterNot(failed.contains).map(n => n -> best(n))
    // Locale-pinned formatting: the f interpolator uses the default JVM
    // locale, which under e.g. de_DE emits "74,314" and breaks the
    // driver's JSON parse.
    def num(v: Double): String =
      "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    val fs = failed.reverse.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum

    // Paired comparator IN THE SAME WINDOW: this host's DuckDB totals
    // drift 11.9–15.6 s at sf0.1 with zero code change on either side
    // (round-8 measurements), so a bare Spark total is uninterpretable —
    // the artifact must carry both sides of the ratio from one window.
    // Best-effort: a box without python3/duckdb still emits the Spark
    // side. Disable with SPARK_GRAFT_PAIRED=0 (e.g. when a driver
    // timeout budget can't absorb the comparator's extra wall-clock).
    val paired: Option[String] =
      if (sys.env.get("SPARK_GRAFT_PAIRED").contains("0")) None
      else try {
        val oracleJson = SparkEntry.oracleSql
          .filter { case (k, _) => results.exists(_._1 == k) }
          .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
          .mkString("{", ",", "}")
        val tmpO = java.nio.file.Files.createTempFile("oracle_bench", ".json")
        val tmpB = java.nio.file.Files.createTempFile("bench_names", ".json")
        java.nio.file.Files.writeString(tmpO, oracleJson)
        java.nio.file.Files.writeString(tmpB, s"""{"queries":$qs}""")
        val pb = new ProcessBuilder("python3",
          s"${sys.props("user.dir")}/tools/duckbench.py",
          sfDir, tmpO.toString, tmpB.toString)
        pb.redirectErrorStream(false)
        // Inherit stderr (round-9 advice): without a drain, a chatty
        // comparator (per-query DuckDB warnings) fills the ~64 KB pipe
        // buffer and deadlocks the bench against our stdout read.
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        val p = pb.start()
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
        val ok = p.waitFor() == 0 && out.startsWith("{")
        java.nio.file.Files.deleteIfExists(tmpO)
        java.nio.file.Files.deleteIfExists(tmpB)
        if (ok) Some(out.linesIterator.next()) else None
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] paired comparator skipped: ${e.getMessage}")
        None
      }
    val duckField = paired.map(j => s""","duckdb":$j""").getOrElse("")
    // per-query interpretation notes (QueryDef.benchNote): the artifact
    // must self-explain structurally-unequal comparisons
    val notes = SparkEntry.defs
      .filter { case (k, d) => d.benchNote.isDefined && results.exists(_._1 == k) }
      .map { case (k, d) => s"${jsonString(k)}:${jsonString(d.benchNote.get)}" }
    val notesField =
      if (notes.isEmpty) "" else notes.mkString(""","notes":{""", ",", "}")
    // Full artifact (per-query comparator block + notes) → a file: the
    // driver snapshots only the LAST ~2000 chars of stdout, and the r10
    // full line outgrew that window, leaving the round artifact
    // unparseable (`parsed: null`). The stdout line stays compact
    // (queries + comparator TOTAL only, guaranteed to fit); the full
    // pairing lives in target/bench_full.json and is committed per
    // scale point (BENCH_sf1.json / BENCH_sf10.json pattern).
    val fullJson =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,"failed":$fs,"sf":"$sfDir"$duckField$notesField}"""
    try {
      val out = java.nio.file.Paths.get(
        sys.props("user.dir"), "target", "bench_full.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, fullJson + "\n")
      // no success-path stderr: the driver snapshots the LAST ~2000 chars
      // of output as the round artifact's tail, and the contract (round
      // 13) is that a clean run's tail holds ONLY the JSON line and the
      // sbt success line — harness chatter belongs on failure paths
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] full artifact write skipped: ${e.getMessage}")
    }
    val duckTotalField = paired.flatMap { j =>
      """"total":\s*([0-9.]+)""".r.findFirstMatchIn(j).map(_.group(1))
    }.map(t => s""","duckdb":{"total":$t}""").getOrElse("")
    println(
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,"failed":$fs,"sf":"$sfDir"$duckTotalField}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
