package graft.ops

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}

import graft.plans.FrameStats

/** Public API over the columnar [[graft.plans.FrameStats]] operator — the
  * JVM-native `mapInArrow` shape for multimodal columns: per-blob frame
  * statistics computed straight off the scan's columnar batches.
  *
  * {{{
  * MediaFrames.frameStats(docs, idCol = "doc_id", payloadCol = "media")
  * }}}
  *
  * Output: (doc_id, n_frames, n_sampled, first_frame_md5); rows with a
  * NULL payload are skipped (they carry no frames). The operator plans
  * through [[graft.plans.FrameStatsStrategy]], which
  * [[graft.plans.GraftExtensions]] injects into every session
  * `graft.core.GraftSession` builds.
  */
object MediaFrames {

  /** Frame statistics over an opaque payload column (`string` payloads
    * are read as their raw UTF-8 bytes; `binary` as-is). The child plan
    * is pruned to exactly (id, payload), so the operator sits directly on
    * the vectorized scan with no row transition below it. */
  def frameStats(blobs: DataFrame, idCol: String, payloadCol: String,
      frameBytes: Int = 64, sampleEvery: Int = 4): DataFrame = {
    val spark = blobs.sparkSession
    val child = blobs.select(idCol, payloadCol).queryExecution.analyzed
    val idType = child.output.head.dataType
    val payType = child.output(1).dataType
    require(idType == LongType,
      s"id column '$idCol' must be bigint, got $idType")
    require(payType == StringType || payType == BinaryType,
      s"payload column '$payloadCol' must be string/binary, got $payType")
    val out = Seq(
      AttributeReference("doc_id", LongType,
        nullable = child.output.head.nullable)(),
      AttributeReference("n_frames", LongType, nullable = false)(),
      AttributeReference("n_sampled", LongType, nullable = false)(),
      AttributeReference("first_frame_md5", StringType, nullable = true)())
    GraftBridge.ofRows(spark, FrameStats(frameBytes, sampleEvery, out, child))
  }
}
