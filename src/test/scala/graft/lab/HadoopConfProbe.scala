package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.util.SerializableConfiguration

/** Dev probe of the Hadoop `Configuration` a session ships with every
  * scan and write (not a driver surface):
  * `sbt "Test/runMain graft.HadoopConfProbe [reps]"`.
  *
  * It builds `GraftSession.local` at `$SPARK_GRAFT_CPUS` cores (default
  * 4), takes `sessionState.newHadoopConf()` (the conf a parquet scan
  * broadcasts and a write puts in its task closure), and prints one JSON
  * line: its key count, the keys per last property source, the names of
  * the keys not from a `*-default.xml` resource, the bytes of
  * its `SerializableConfiguration` under Spark's closure serializer, and
  * the median serialize and deserialize times over `reps` (default 400)
  * runs after as many warm-up runs. */
object HadoopConfProbe {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(400)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.core.GraftSession.local(cpus, "graft-confprobe")
    spark.sparkContext.setLogLevel("ERROR")
    val conf = spark.sessionState.newHadoopConf()
    val sourceOf = conf.iterator().asScala.map(_.getKey).toSeq.sorted
      .map(k => k -> Option(conf.getPropertySources(k))
        .flatMap(_.lastOption).getOrElse("(none)"))
    val bySource = sourceOf.groupBy(_._2).view.mapValues(_.size).toSeq
      .sortBy(-_._2)
    val setKeys = sourceOf.collect {
      case (k, s) if !s.endsWith("-default.xml") => k
    }
    val ser = new JavaSerializer(spark.sparkContext.getConf).newInstance()
    val value = new SerializableConfiguration(conf)
    val bytes = ser.serialize(value).limit()
    def medianMs(f: => Any): Double = {
      (1 to reps).foreach(_ => f)
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
      }.sorted
      ts(reps / 2)
    }
    val serMs = medianMs(ser.serialize(value))
    val buf = ser.serialize(value)
    val deserMs = medianMs(
      ser.deserialize[SerializableConfiguration](buf.duplicate()).value.size())
    def q(s: String) = "\"" + s.replace("\"", "\\\"") + "\""
    val sources = bySource.map { case (s, n) => s"${q(s)}:$n" }.mkString(",")
    println(f"""{"keys":${conf.size()},"bytes":$bytes,""" +
      f""""ser_ms":$serMs%.3f,"deser_ms":$deserMs%.3f,"reps":$reps,""" +
      s""""by_source":{$sources},""" +
      s""""set_keys":[${setKeys.map(q).mkString(",")}]}""")
    spark.stop()
  }
}
