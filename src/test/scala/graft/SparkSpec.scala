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

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  lazy val sf: String = "/root/testdata/sf0.001"

  /** The fixture at another scale (e.g. "sf0.01"), next to [[sf]]. */
  def fixture(scale: String): String =
    java.nio.file.Paths.get(sf).resolveSibling(scale).toString
}
