package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.core.{Catalog, GraftSession, TableStats}
import graft.pipeline.{RetryPolicy, Runner, Stage, TaxiPipeline}

/** The engine-side half of the benchmark: one JVM, one closed-loop client.
  *
  * It sets the session up (session build, ANALYZE, the first H3 touch, the
  * catalog), then warms up (every query once, or the first backfill days),
  * which absorbs the one-time writes and most JIT warm-up, then runs slots
  * (whole corpus passes, or backfill days) for `seconds`. Every op writes
  * its output as parquet for the oracle check that follows the run. Raw
  * timings (and, with `trace = 1`, spans plus listener records) go to
  * `out/raw.json`; the reduction to metrics lives in `report.py`.
  *
  * Args: workload inputDir outDir seconds trace seed cores
  */
object GraftBench {

  val CorpusOps: Seq[String] = Seq("x_dedup_exact", "x_minhash_lsh_pairs",
    "x_containment_pairs", "x_dedup_substring", "x_dedup_substring_excise",
    "x_dedup_components", "x_shortest_path", "x_semdedup",
    "x_embed_neardup_prod", "c_corpus_pipeline")

  def now(): Long = System.nanoTime()

  // ---- spans (traced run only) ------------------------------------------

  final case class Span(id: Int, parent: Int, name: String, layer: String,
      start: Long, var end: Long = -1L)

  /** Records harness-side spans while `active`; a traced run switches it
    * off on alternate slots, which measures the tracing overhead. */
  final class Tracer(val on: Boolean) {
    var active: Boolean = on
    val spans = ArrayBuffer.empty[Span]
    private var stack = List(-1)
    def span[T](name: String, layer: String)(body: => T): T =
      if (!active) body
      else {
        val s = Span(spans.size, stack.head, name, layer, now())
        spans += s
        stack = s.id :: stack
        try body finally { s.end = now(); stack = stack.tail }
      }
  }

  // ---- listener: jobs, stages and task aggregates per op -----------------

  final class Recorder extends SparkListener {
    val jobs = ArrayBuffer.empty[Map[String, Any]]
    val stages = ArrayBuffer.empty[Map[String, Any]]
    private val jobOf = scala.collection.mutable.Map.empty[Int, Int]
    private val jobStart = scala.collection.mutable.Map.empty[Int, (Long, String, String, Seq[Int])]
    private val tasks = scala.collection.mutable.Map.empty[(Int, Int), ArrayBuffer[Array[Long]]]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      val op = p.flatMap(x => Option(x.getProperty("graftbench.op"))).getOrElse("")
      val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
      e.stageIds.foreach(s => jobOf(s) = e.jobId)
      jobStart(e.jobId) = (e.time, op, group, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, op, group, sids) =>
        jobs += Map("job" -> e.jobId, "op" -> op, "group" -> group,
          "start_ms" -> t0, "end_ms" -> e.time, "stage_ids" -> sids,
          "ok" -> (e.jobResult == JobSucceeded))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val i = e.taskInfo
      val rec = if (m == null) Array(i.duration, 0L, 0L, 0L, 0L, 0L, 0L,
          if (i.successful) 0L else 1L)
        else Array(i.duration, m.executorRunTime, m.executorCpuTime / 1000000L,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime,
          if (i.successful) 0L else 1L)
      tasks.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) += rec
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = e.stageInfo
      val ts = tasks.remove((s.stageId, s.attemptNumber())).getOrElse(ArrayBuffer.empty)
      def col(k: Int) = ts.map(_(k))
      val dur = col(0).sorted
      stages += Map("stage" -> s.stageId, "attempt" -> s.attemptNumber(),
        "job" -> jobOf.getOrElse(s.stageId, -1),
        "submit_ms" -> s.submissionTime.getOrElse(0L),
        "complete_ms" -> s.completionTime.getOrElse(0L),
        "tasks" -> ts.size, "task_max_ms" -> dur.lastOption.getOrElse(0L),
        "task_median_ms" -> (if (dur.isEmpty) 0L else dur(dur.size / 2)),
        "run_ms" -> col(1).sum, "cpu_ms" -> col(2).sum,
        "shuffle_write" -> col(3).sum, "shuffle_read" -> col(4).sum,
        "spill" -> col(5).sum, "gc_ms" -> col(6).sum,
        "failed_tasks" -> col(7).sum)
    }
  }

  // ---- JSON out ------------------------------------------------------------

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Every parquet file under `f`, as path -> size. */
  def parquetFiles(f: File): Map[String, Long] =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File])
      .flatMap(parquetFiles).toMap
    else if (f.getName.endsWith(".parquet")) Map(f.getPath -> f.length())
    else Map.empty

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  // ---- main -----------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val Array(workload, inputDir, outDir, secondsS, traceS, seedS, coresS) = args
    val seconds = secondsS.toDouble
    val tracer = new Tracer(traceS == "1")
    val seed = seedS.toLong
    val cores = coresS.toInt
    val rng = new scala.util.Random(seed)
    // pairs span times (nanoTime) with listener times (epoch millis)
    val clock = Map("nano" -> now(), "epoch_ms" -> System.currentTimeMillis())
    val opsDir = s"$outDir/ops"
    val work = new File(".").getCanonicalPath
    val conf = Map(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
        GraftSession.initialShufflePartitions(inputDir, cores).toString,
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.local.dir" -> s"$work/spark-local",
      "spark.sql.warehouse.dir" -> s"$work/spark-warehouse")
    val names = workload match {
      case "corpus_curation" => CorpusOps
      case "taxi_backfill" => Seq.empty
      case w => sys.error(s"unknown workload $w")
    }
    val days: Seq[String] =
      new File(s"$inputDir/src/2024/01").list() match {
        case null => Seq.empty
        case ds => ds.sorted.toSeq.map(d => s"2024-01-$d")
      }

    // -- set-up: session, ANALYZE, first H3 touch, catalog ---------------
    val result = tracer.span("run", "run") {
      val t0 = now()
      val spark = tracer.span("session", "core")(
        GraftSession.local(cores, "graftbench", conf))
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = now()
      tracer.span("analyze", "core")(TableStats.analyze(spark, inputDir))
      val t2 = now()
      tracer.span("h3_init", "functions") {
        graft.functions.H3.latLngToCell(40.7128, -74.006, 9)
      }
      val t3 = now()
      // one catalog per pass, so no op overwrites a table before its check
      val catalogs = scala.collection.mutable.Map.empty[Int, Catalog]
      def catalogOf(pass: Int): Catalog = catalogs.getOrElseUpdate(pass,
        new Catalog(spark, s"$work/catalog/pass$pass"))
      tracer.span("catalog", "core")(catalogOf(0))
      val t4 = now()
      val setup = Map("session_s" -> secs(t0, t1), "analyze_s" -> secs(t1, t2),
        "h3_init_s" -> secs(t2, t3), "catalog_s" -> secs(t3, t4),
        "total_s" -> secs(t0, t4))
      val sc = spark.sparkContext
      val recorder = new Recorder

      // -- one op: build (queries), plan (plans), action (exec) ----------
      val ops = ArrayBuffer.empty[Map[String, Any]]
      def runQuery(name: String, id: String): Map[String, Any] = {
        val fn = SparkEntry.benchQueries.getOrElse(name, SparkEntry.queries(name))
        val t0 = now()
        val df: DataFrame = tracer.span("build", "queries")(fn(spark, inputDir))
        val t1 = now()
        tracer.span("plan", "plans")(df.queryExecution.executedPlan)
        val t2 = now()
        tracer.span("action", "exec") {
          df.write.mode("overwrite").parquet(s"$opsDir/$id")
        }
        val t3 = now()
        val ph = df.queryExecution.tracker.phases
        def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        Map("build_s" -> secs(t0, t1), "plan_s" -> secs(t1, t2),
          "action_s" -> secs(t2, t3), "analysis_ms" -> ms("analysis"),
          "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"))
      }
      def runDay(ds: String, catalog: Catalog): Map[String, Any] = {
        val stageS = scala.collection.mutable.Map.empty[String, Double]
        // Catalog files each stage wrote: the files present after it that
        // were not before it. Taken per stage, because later stages drop
        // the staged tables; taken in traced slots only, because the
        // directory walks would add to the op's time.
        val wh = new File(catalog.warehouseDir)
        val written = scala.collection.mutable.Map.empty[String, Long]
        val t0 = now()
        val stages = TaxiPipeline.stages(spark, inputDir, s"$inputDir/src", ds)
          .map(st => Stage(st.name, c => {
            val before = if (tracer.active) parquetFiles(wh) else Map.empty[String, Long]
            try tracer.span(st.name, "pipeline") {
              val s0 = now()
              try st.run(c) finally stageS(st.name) = secs(s0, now())
            } finally if (tracer.active) written ++= parquetFiles(wh) -- before.keySet
          }))
        val ran = tracer.span("action", "pipeline")(
          Runner.run(catalog, stages, RetryPolicy(retries = 0)))
        val t1 = now()
        require(ran.size == 4, s"pipeline short-circuited after ${ran.last}")
        Map("action_s" -> secs(t0, t1), "stage_s" -> stageS.toMap,
          "catalog_bytes" -> written.values.sum, "catalog_files" -> written.size,
          "table" -> s"${catalog.warehouseDir}/most_populars_${TaxiPipeline.dsNoDash(ds)}")
      }
      // one pass = the workload's ops in a seeded order (days in order)
      def passOps(): Seq[String] =
        if (workload == "taxi_backfill") days else rng.shuffle(names)
      def doOp(pass: Int, name: String, warm: Boolean): Unit = {
        val id = f"${if (warm) "w" else "p"}$pass%02d_${ops.size}%04d"
        val catalog =
          if (workload == "taxi_backfill") Some(catalogOf(pass)) else None
        sc.setLocalProperty("graftbench.op", id)
        val t0 = now()
        val rec = tracer.span(name, "op") {
          try {
            val r = catalog.fold(runQuery(name, id))(runDay(name, _))
            r + ("ok" -> true)
          } catch { case e: Throwable =>
            System.err.println(s"[graftbench] $name FAILED: $e")
            Map("ok" -> false, "error" -> e.toString)
          }
        }
        val t1 = now()
        sc.setLocalProperty("graftbench.op", null)
        ops += rec ++ Map("id" -> id, "name" -> name, "pass" -> pass,
          "warm" -> warm, "traced" -> tracer.active, "start_ns" -> t0,
          "end_ns" -> t1, "wall_s" -> secs(t0, t1))
      }

      // -- warm-up: one-time writes + JIT, reported inside setup_s --------
      val w0 = now()
      tracer.span("warmup", "setup") {
        // backfill days keep getting faster up to about the seventh day;
        // a query's first run pays most of its warm-up (JIT, codegen)
        val warm = if (workload == "taxi_backfill") days.take(8) else names
        warm.foreach(n => doOp(0, n, warm = true))
      }
      val warmS = secs(w0, now())

      // -- measured closed loop: slots for `seconds` ----------------------
      val m0 = now()
      // A traced run alternates untraced and traced slots, a slot being a
      // corpus pass or one backfill day, and runs at least three, so the
      // traced slot sits between two untraced ones and the JIT's drift
      // over the run cancels out of the tracing overhead. The listener is
      // attached only in traced slots.
      var slot = 0
      var lastSlotS = 0.0
      def inSlot(body: => Unit): Unit = {
        tracer.active = tracer.on && slot % 2 == 1
        if (tracer.active) sc.addSparkListener(recorder)
        val s0 = now()
        try body finally {
          if (tracer.active) {
            org.apache.spark.GraftBenchBus.drain(sc)
            sc.removeSparkListener(recorder)
          }
          lastSlotS = secs(s0, now())
          slot += 1
        }
      }
      // Another slot starts only if one more like the last still fits in
      // `seconds`, so the count of corpus passes does not flip between one
      // and two with the machine's speed (the second pass runs faster).
      def due: Boolean = slot == 0 || secs(m0, now()) + lastSlotS <= seconds ||
        (tracer.on && slot < 3)
      tracer.span(workload, "workload") {
        var pass = 1
        while (due) {
          val opsOfPass = passOps()
          if (workload == "taxi_backfill") // a month: stops at the deadline
            opsOfPass.iterator.takeWhile(_ => due)
              .foreach(n => inSlot(doOp(pass, n, warm = false)))
          else // a corpus pass always completes, so each run times every op
            inSlot(opsOfPass.foreach(n => doOp(pass, n, warm = false)))
          pass += 1
        }
      }
      val measureS = secs(m0, now())

      val env = Map("seed" -> seed, "workload" -> workload, "cores" -> cores,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap)
      val oracles = (if (workload == "taxi_backfill") Seq("c_pipeline_e2e") else names)
        .flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
      spark.stop()
      Map("env" -> env, "clock" -> clock, "setup" -> setup, "warmup_s" -> warmS,
        "measure_s" -> measureS, "peak_rss_mb" -> peakRssMb(), "ops" -> ops,
        "oracles" -> oracles, "jobs" -> recorder.jobs, "stages" -> recorder.stages)
    }
    val spans = tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.start, "end_ns" -> s.end))
    Files.write(Paths.get(s"$outDir/raw.json"),
      json(result + ("spans" -> spans)).getBytes(StandardCharsets.UTF_8))
  }
}
