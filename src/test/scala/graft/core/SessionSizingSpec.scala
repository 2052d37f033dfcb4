package graft.core

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Pins the data-sized initial-shuffle-partition rule (the sf10 OOM fix;
  * A/B numbers in the scaladoc): floor at the core count for small
  * inputs, bytes/4MB when the data outgrows it, hard cap. */
class SessionSizingSpec extends AnyFunSuite {

  test("small input floors at the core count") {
    val d = new java.io.File(graft.SparkSpec.tempDir("sizing"))
    Files.write(d.toPath.resolve("t.parquet"), new Array[Byte](1024))
    assert(GraftSession.initialShufflePartitions(d.toString, 32) === 32)
    assert(GraftSession.initialShufflePartitions(d.toString, 8) === 8)
  }

  test("missing dir is treated as empty, not an error") {
    assert(GraftSession.initialShufflePartitions("/no/such/dir", 16) === 16)
  }

  test("large input scales by bytes and caps") {
    val d = new java.io.File(graft.SparkSpec.tempDir("sizing2"))
    // sparse file: logical length drives the rule, no real 1 GB write
    val f = new java.io.RandomAccessFile(
      new java.io.File(d, "big.parquet"), "rw")
    f.setLength(1200L * 1024 * 1024)
    f.close()
    // 1200 MB / 4 MB = 300
    assert(GraftSession.initialShufflePartitions(d.toString, 32) === 300)
    val f2 = new java.io.RandomAccessFile(
      new java.io.File(d, "huge.parquet"), "rw")
    f2.setLength(100L * 1024 * 1024 * 1024)
    f2.close()
    assert(GraftSession.initialShufflePartitions(d.toString, 32) === 1024)
  }
}
