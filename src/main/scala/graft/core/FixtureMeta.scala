package graft.core

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Validity stamps for one-time bench fixture layouts (bucketed tables,
  * pre-written source days).
  *
  * A bench variant that reuses an on-disk fixture across passes must not
  * reuse a STALE one: the source dataset can be regenerated in place
  * (ScaleGen overwrites `target/sf1`), and a crashed writer can leave a
  * partial directory. The stamp is a cheap identity of the SOURCE inputs
  * — per-file (path, length, mtime) digested over a Hadoop listing, no
  * data read — written next to the derived layout after a successful
  * build. Reuse requires (a) the stamp file to match the current source
  * and (b) the derived layout's own `_SUCCESS` markers, else the layout
  * is rebuilt. (Round-8 advice: `IngestQueries.pipelineE2EBench` reused
  * its fixture on a bare directory-exists check.)
  */
object FixtureMeta {

  /** Digest of the source files under `dir/<table>.parquet` for each
    * table: sums of lengths and max mtimes folded per file into one
    * hex token. Listing-only — O(#files) namenode ops, zero data read.
    * Plain statuses, not `listFiles`: its `LocatedFileStatus` copies each
    * file's owner and permission, which the local filesystem reads by
    * forking `ls -ld`. */
  def sourceStamp(s: SparkSession, dir: String, tables: Seq[String]): String = {
    val conf = s.sessionState.newHadoopConf()
    var h = 1125899906842597L // FNV-ish fold; stability only matters per-JVM-config
    def fold(fs: FileSystem, f: FileStatus): Unit =
      if (f.isDirectory) fs.listStatus(f.getPath).foreach(fold(fs, _))
      else {
        h = h * 31 + f.getPath.getName.hashCode
        h = h * 31 + f.getLen
        h = h * 31 + f.getModificationTime
      }
    tables.foreach { t =>
      val p = new Path(s"$dir/$t.parquet")
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fold(fs, fs.getFileStatus(p))
    }
    java.lang.Long.toHexString(h)
  }

  def write(s: SparkSession, stampPath: String, stamp: String): Unit = {
    val p = new Path(stampPath)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(stamp.getBytes("UTF-8")) finally out.close()
  }

  /** True iff the stamp file exists and equals `stamp`. */
  def valid(s: SparkSession, stampPath: String, stamp: String): Boolean = {
    val p = new Path(stampPath)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    fs.exists(p) && {
      val in = fs.open(p)
      try {
        // Read to EOF (round-9 advice): a single read() may legally
        // return short, which would spuriously invalidate a fresh
        // layout and trigger a full rebuild inside a bench pass.
        val bos = new java.io.ByteArrayOutputStream(256)
        val buf = new Array[Byte](256)
        var n = in.read(buf)
        while (n > 0) { bos.write(buf, 0, n); n = in.read(buf) }
        bos.size > 0 && bos.toString("UTF-8") == stamp
      } finally in.close()
    }
  }

  /** `_SUCCESS` marker check for a completed Spark write at `path`. */
  def complete(s: SparkSession, path: String): Boolean = {
    val p = new Path(path, "_SUCCESS")
    p.getFileSystem(s.sessionState.newHadoopConf()).exists(p)
  }
}
