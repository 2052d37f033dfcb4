package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev timing and structure probe for any registered query, benched or
  * not (not a driver surface):
  * `sbt "Test/runMain graft.BenchLab name1 name2 …"`.
  *
  * It runs the bench's engine setup (`GraftSession.forData` over
  * `$SPARK_GRAFT_SF_DIR` at `$SPARK_GRAFT_CPUS` cores) and times a run the
  * way `Bench` times a sample: `Bench.cleanSlate`, then the benched frame
  * to a noop sink. The names run interleaved, run by run, for
  * `$SPARK_GRAFT_BENCH_SAMPLES` runs, so two names form a same-window A/B.
  *
  * Each run prints wall time plus jobs, stages, tasks and shuffle bytes
  * (the counters that do not move with the timing window). Per name it
  * then prints run 1 (cold: JIT and codegen compiles included) and the
  * minimum of runs 2..N (warm). The last run's executed plan and the call
  * site of each of its jobs go to `target/plans/<name>_final.txt` and
  * `target/plans/<name>_jobs.txt`.
  *
  * NOTE: never persist() here — CacheManager substitutes matching plan
  * fragments in LATER runs, silently faking their timings. */
object BenchLab {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_SAMPLES", "5").toInt
    require(runs >= 1, "SPARK_GRAFT_BENCH_SAMPLES must be ≥ 1")
    val names = if (args.nonEmpty) args.toSeq else Seq("q_taxi_full")
    val unknown = names.filterNot(SparkEntry.defs.contains)
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    val spark = graft.core.GraftSession.forData(sfDir, cpus, "graft-benchlab")
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val completed = new AtomicInteger
    val tasks = new AtomicInteger
    val shuffleBytes = new AtomicLong
    val jobSites = new ConcurrentLinkedQueue[String]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size)
        // a job's result stage (its last) is named by the job's short
        // call site (`callSite.short` when a caller set it)
        val site = j.stageInfos.maxBy(_.stageId).name
        jobSites.add(f"job ${j.jobId}%4d stages ${j.stageInfos.size}%2d $site")
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        completed.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        shuffleBytes.addAndGet(
          s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    })

    val times = names.map(_ -> Vector.newBuilder[Double]).toMap
    for (i <- 1 to runs; name <- names) {
      Bench.cleanSlate(spark)
      jobs.set(0); stages.set(0); completed.set(0); tasks.set(0)
      shuffleBytes.set(0); jobSites.clear()
      val t0 = System.nanoTime()
      val df = SparkEntry.defs(name).benched(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      times(name) += dt
      Thread.sleep(300) // the listener bus delivers the run's last events
      println(f"[lab] $name run$i: $dt%.3f s jobs=${jobs.get} " +
        f"stages=${stages.get} completed=${completed.get} tasks=${tasks.get} " +
        f"shuffleMB=${shuffleBytes.get / 1048576.0}%.1f")
      if (i == runs) {
        val dir = Paths.get("target", "plans")
        Files.createDirectories(dir)
        Files.writeString(dir.resolve(s"${name}_final.txt"),
          df.queryExecution.executedPlan.toString)
        Files.writeString(dir.resolve(s"${name}_jobs.txt"),
          jobSites.asScala.mkString("", "\n", "\n"))
      }
    }
    names.foreach { name =>
      val ts = times(name).result()
      val warm =
        if (ts.size < 2) "" else f"  warm min(runs 2..$runs) ${ts.tail.min}%.3f s"
      println(f"[lab] $name%-24s cold ${ts.head}%.3f s$warm")
    }
    spark.stop()
  }
}
