package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared tiny local session for unit specs (one JVM-wide session; specs
  * must not stop it). */
object TestSession {
  // Built through GraftSession so GraftExtensions (SQL function
  // registration) is bound at session creation — getOrCreate would skip
  // extensions on an already-active session.
  lazy val spark: SparkSession =
    graft.core.GraftSession.local(cores = 4, appName = "graft-test",
      extraConf = Map("spark.sql.shuffle.partitions" -> "4"))
}

object SparkSpec {
  private val tempRoots =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  private lazy val cleanup: Unit = sys.addShutdownHook {
    tempRoots.forEach { root =>
      try {
        val paths = java.nio.file.Files.walk(root)
        try paths.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally paths.close()
      } catch {
        case _: java.io.IOException | _: java.io.UncheckedIOException => ()
      }
    }
  }

  /** A new directory under `target/spec_tmp`, named `<prefix><digits>`;
    * its whole tree is deleted when the JVM exits. */
  def tempDir(prefix: String): String = {
    cleanup
    val parent = java.nio.file.Paths.get(sys.props("user.dir"), "target",
      "spec_tmp")
    java.nio.file.Files.createDirectories(parent)
    val dir = java.nio.file.Files.createTempDirectory(parent, prefix)
    tempRoots.add(dir)
    dir.toString
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  lazy val sf: String = "/root/testdata/sf0.001"

  /** The fixture at another scale (e.g. "sf0.01"), next to [[sf]]. */
  def fixture(scale: String): String =
    java.nio.file.Paths.get(sf).resolveSibling(scale).toString

  /** [[SparkSpec.tempDir]]: a directory deleted when the JVM exits. */
  def tempDir(prefix: String): String = SparkSpec.tempDir(prefix)

  /** The job group ("" for none) of each Spark job started while `body`
    * runs on this thread, or on a thread that inherits its local
    * properties. Jobs are told apart from other suites' by a local
    * property; a marker job delivered after them makes the list final
    * without a sleep (the listener bus is FIFO). */
  def jobGroupsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val tag = s"spec-${java.util.UUID.randomUUID()}"
    val marker = s"graft-marker-$tag"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        def prop(k: String) =
          Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        if (prop("graft.spec.tag").contains(tag)) {
          val g = prop("spark.jobGroup.id").getOrElse("")
          if (g == marker) markerSeen.countDown() else groups.add(g)
        }
      }
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec.tag", tag)
    try {
      body
      sc.setJobGroup(marker, "job-count marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(10, java.util.concurrent.TimeUnit.SECONDS),
        "marker job event never delivered")
      groups.toArray(Array.empty[String]).toSeq
    } finally {
      sc.setLocalProperty("graft.spec.tag", null)
      sc.removeSparkListener(listener)
    }
  }

  /** How many Spark jobs `body` starts ([[jobGroupsOf]]). */
  def jobsOf(body: => Unit): Int = jobGroupsOf(body).size
}
