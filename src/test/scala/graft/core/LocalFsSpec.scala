package graft.core

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}
import graft.pipeline.{Runner, TaxiPipeline}

/** The engine's `file:` filesystem (`GraftSession.LocalFsConf`): no
  * forked `chmod`, and otherwise Hadoop's local filesystem — same modes,
  * checksums, missing-path error and rename-onto-a-file refusal. */
class LocalFsSpec extends SparkSpec {

  private def fileFs: FileSystem = FileSystem.get(URI.create("file:///"),
    spark.sessionState.newHadoopConf())

  /** Commands of the processes the JVM started while `body` ran
    * (JFR `jdk.ProcessStart`). Left out: Spark's `rm -rf` of a collected
    * session's artifact directory. Streaming queries clone the session,
    * and the JDK cleaner deletes the clone's directory whenever the GC
    * collects it, so those forks land in whatever runs next. */
  private def forks(body: => Unit): Seq[String] = {
    // Spark's executor-metrics poller forks `getconf PAGESIZE` once per
    // JVM, at the first heartbeat; run it now, outside the recording (its
    // initializer reads the running session's SparkEnv)
    spark.sparkContext
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("forks", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filterNot(_.getStackTrace.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith(
            "org.apache.spark.sql.artifact.ArtifactManager")))
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.delete(dump)
    }
  }

  private def perm(octal: String) =
    new FsPermission(Integer.parseInt(octal, 8).toShort)

  /** Permission bits of every entry under `root`, by relative path. */
  private def modes(root: String): Map[String, Int] = {
    val r = Paths.get(root)
    Files.walk(r).iterator().asScala.filterNot(_ == r).map { p =>
      r.relativize(p).toString ->
        (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)
    }.toMap
  }

  test("the session's file: filesystem is the graft class") {
    assert(fileFs.isInstanceOf[GraftLocalFileSystem])
    assert(fileFs.asInstanceOf[GraftLocalFileSystem].getRaw
      .isInstanceOf[GraftRawLocalFileSystem])
  }

  test("a staged sf0.1 day forks no process") {
    val sf01 = fixture("sf0.1")
    val ds = "2024-01-05"
    val cat = new Catalog(spark, tempDir("fork_wh"))
    val src = tempDir("fork_src")
    graft.eventsTbl(spark, sf01)
      .filter(to_date(col("ts")) === lit(ds).cast("date"))
      .coalesce(1).write.parquet(s"$src/2024/01/05")
    val cmds = forks {
      assert(Runner.run(cat, TaxiPipeline.stages(spark, sf01, src, ds))
        .size === 4)
    }
    assert(cmds === Seq.empty)
    assert(cat.tables() === Seq(s"most_populars_20240105", s"trips_20240105"))
  }

  test("a streaming query's checkpoint and state writes fork no process") {
    val cmds = forks {
      assert(SparkEntry.queries("st_h3_enrich")(spark, sf).count() > 0)
    }
    assert(cmds === Seq.empty)
  }

  test("directory and file modes equal Hadoop's, explicit modes included") {
    val stock = new org.apache.hadoop.fs.LocalFileSystem()
    stock.initialize(URI.create("file:///"), spark.sessionState.newHadoopConf())
    def build(fs: FileSystem, root: String): Unit = {
      val out = fs.create(new Path(s"$root/a/b/f"))
      try out.write(Array.fill[Byte](2000)(7)) finally out.close()
      fs.mkdirs(new Path(s"$root/x"), perm("700"))
      fs.create(new Path(s"$root/y")).close()
      fs.setPermission(new Path(s"$root/y"), perm("700"))
    }
    val (ours, theirs) = (tempDir("modes_graft"), tempDir("modes_hadoop"))
    build(fileFs, ours)
    build(stock, theirs)
    val m = modes(ours)
    assert(m === modes(theirs))
    assert(m === Map("a" -> 0x1ed, "a/b" -> 0x1ed, "a/b/f" -> 0x1a4,
      "a/b/.f.crc" -> 0x1a4, "x" -> 0x1c0, "y" -> 0x1c0, ".y.crc" -> 0x1c0))
  }

  test("a sticky-bit mode goes through Hadoop's own path") {
    val dir = new Path(tempDir("sticky"), "d")
    fileFs.mkdirs(dir)
    val cmds = forks(fileFs.setPermission(dir, perm("1755")))
    assert(cmds.size === 1 && cmds.head.contains("chmod"), cmds)
    assert(modes(dir.getParent.toString)("d") === 0x3ed) // 01755
  }

  test("setPermission on a missing path raises FileNotFoundException") {
    val missing = new Path(tempDir("missing"), "nope")
    intercept[FileNotFoundException](
      fileFs.setPermission(missing, perm("644")))
  }

  test("renaming onto an existing file returns false and keeps both") {
    val dir = tempDir("rename")
    def write(name: String, b: Byte): Path = {
      val p = new Path(dir, name)
      val out = fileFs.create(p)
      try out.write(b) finally out.close()
      p
    }
    val (src, dst) = (write("src", 1), write("dst", 2))
    assert(!fileFs.rename(src, dst))
    assert(fileFs.exists(src))
    val in = fileFs.open(dst)
    try assert(in.read() === 2) finally in.close()
  }

  test("a flipped byte in a catalog part file fails the read with a " +
      "checksum error") {
    val cat = new Catalog(spark, tempDir("crc_wh"))
    cat.save("t", spark.range(0, 5000).select(col("id"),
      (col("id") * 7).as("v")).coalesce(1))
    val part = new java.io.File(s"${cat.warehouseDir}/t").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .head
    assert(new java.io.File(part.getParentFile, s".${part.getName}.crc").exists())
    val raf = new RandomAccessFile(part, "rw")
    try {
      val at = raf.length() / 2
      raf.seek(at)
      val b = raf.read()
      raf.seek(at)
      raf.write(b ^ 0xff)
    } finally raf.close()
    val e = intercept[Exception](cat.load("t").collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(_.isInstanceOf[org.apache.hadoop.fs.ChecksumException]), e)
  }
}
