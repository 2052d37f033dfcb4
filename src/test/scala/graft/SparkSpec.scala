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
}
