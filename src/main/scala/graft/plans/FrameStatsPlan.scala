package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** Columnar media frame-statistics operator — the JVM-native analogue of
  * PySpark's `mapInArrow` (SURVEY.md §7.3 ladder step (c)): a whole
  * physical operator that consumes the vectorized parquet reader's
  * `ColumnarBatch`es DIRECTLY and emits new columnar batches. No per-row
  * `Deserializer`/`Serializer` encoder pair, no per-row case-class
  * allocation, no Python worker round-trip — the "decode" walks the
  * scan's column vectors in place and only ever copies the first-frame
  * prefix (≤ `frameBytes` bytes) into a reused scratch buffer.
  *
  * Semantics per non-null payload row (null payloads are skipped — the
  * media-less rows of a multimodal table carry no frames):
  *   - `n_frames`   = ⌈payload_bytes / frameBytes⌉
  *   - `n_sampled`  = ⌈n_frames / sampleEvery⌉ (every sampleEvery-th frame)
  *   - `first_frame_md5` = md5 of the first frame's lowercase-hex
  *     fingerprint (NULL for empty payloads) — the deterministic stand-in
  *     for the real per-frame decode (this container ships no media libs).
  *
  * Scale: map-shaped — binary never shuffles, batches never leave their
  * input split, and the plan stays columnar from the parquet reader into
  * this operator (the row transition happens ABOVE it, over the 4-column
  * stats output, never over the payload bytes).
  */
final case class FrameStats(
    frameBytes: Int,
    sampleEvery: Int,
    output: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {

  // the stats columns are GENERATED here, not references into the child
  override def producedAttributes: AttributeSet = AttributeSet(output)

  // …but the operator CONSUMES the child's (id, payload) columns even
  // though no expression mentions them — without this, references is
  // empty and ColumnPruning rewrites the child to Project(Nil) whenever
  // a Project sits above this node, crashing planning (caught by review:
  // frameStats(...).select(...) reproduced it)
  override def references: AttributeSet = AttributeSet(child.output)

  override protected def withNewChildInternal(c: LogicalPlan): FrameStats =
    copy(child = c)
}

/** Plans [[FrameStats]] → [[FrameStatsExec]]. Injected by
  * [[GraftExtensions]] into every session `graft.core.GraftSession`
  * builds. */
object FrameStatsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case FrameStats(fb, se, out, child) =>
      FrameStatsExec(fb, se, out, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Physical columnar frame-stats. `supportsColumnar = true`, so Spark's
  * transition rule feeds it the child's columnar batches as-is (the
  * vectorized parquet scan already produces them) and inserts the single
  * ColumnarToRow above the stats output. */
final case class FrameStatsExec(
    frameBytes: Int,
    sampleEvery: Int,
    output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  require(frameBytes > 0 && sampleEvery > 0,
    s"frameBytes/sampleEvery must be positive: $frameBytes/$sampleEvery")
  require(child.output.length == 2 &&
    child.output.head.dataType == LongType &&
    (child.output(1).dataType == StringType ||
      child.output(1).dataType == BinaryType),
    s"frame stats child must be (id: bigint, payload: string|binary), " +
      s"got ${child.output.map(a => s"${a.name}: ${a.dataType}")}")

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override def supportsColumnar: Boolean = true

  override def outputPartitioning = child.outputPartitioning

  override protected def withNewChildInternal(c: SparkPlan): FrameStatsExec =
    copy(child = c)

  /** Payload byte length + prefix reader over either encoding: string
    * vectors expose the raw UTF-8 bytes through UTF8String (no full-value
    * copy for the length), binary vectors through getBinary. */
  private def payloadIsString = child.output(1).dataType == StringType

  override protected def doExecuteColumnar(): RDD[ColumnarBatch] = {
    val fb = frameBytes
    val se = sampleEvery
    val isString = payloadIsString
    val Hex = FrameStatsExec.Hex // local capture: the closure must not drag the plan node
    child.executeColumnar().mapPartitions { batches =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val scratch = new Array[Byte](fb) // first-frame window, reused
      batches.map { in =>
        val n = in.numRows()
        val ids: ColumnVector = in.column(0)
        val pay: ColumnVector = in.column(1)
        val outId = new OnHeapColumnVector(n, LongType)
        val outFrames = new OnHeapColumnVector(n, LongType)
        val outSampled = new OnHeapColumnVector(n, LongType)
        val outMd5 = new OnHeapColumnVector(n, StringType)
        var o = 0
        var i = 0
        while (i < n) {
          if (!pay.isNullAt(i)) {
            // length + prefix straight off the vector; only the first
            // min(fb, len) bytes are ever copied (into scratch)
            var len = 0
            var flen = 0
            if (isString) {
              val u = pay.getUTF8String(i)
              len = u.numBytes()
              flen = math.min(fb, len)
              var k = 0
              while (k < flen) { scratch(k) = u.getByte(k); k += 1 }
            } else {
              val b = pay.getBinary(i)
              len = b.length
              flen = math.min(fb, len)
              System.arraycopy(b, 0, scratch, 0, flen)
            }
            val nFrames = (len + fb - 1) / fb
            if (ids.isNullAt(i)) outId.putNull(o) else outId.putLong(o, ids.getLong(i))
            outFrames.putLong(o, nFrames.toLong)
            outSampled.putLong(o, ((nFrames + se - 1) / se).toLong)
            if (len == 0) outMd5.putNull(o) // 0 frames → no digest
            else {
              val hex = new Array[Byte](flen * 2)
              var k = 0
              while (k < flen) {
                val v = scratch(k) & 0xff
                hex(2 * k) = Hex(v >>> 4)
                hex(2 * k + 1) = Hex(v & 0xf)
                k += 1
              }
              md.reset()
              val digest = md.digest(hex)
              val out = new Array[Byte](32)
              k = 0
              while (k < 16) {
                val v = digest(k) & 0xff
                out(2 * k) = Hex(v >>> 4)
                out(2 * k + 1) = Hex(v & 0xf)
                k += 1
              }
              outMd5.putByteArray(o, out)
            }
            o += 1
          }
          i += 1
        }
        new ColumnarBatch(
          Array[ColumnVector](outId, outFrames, outSampled, outMd5), o)
      }
    }
  }

  /** Defensive row path: the transition rule always plans this node
    * columnar, but `execute()` must still behave if called directly. */
  override protected def doExecute(): RDD[InternalRow] = {
    import scala.jdk.CollectionConverters._
    executeColumnar().mapPartitions { batches =>
      batches.flatMap(_.rowIterator().asScala.map(_.copy()))
    }
  }
}

object FrameStatsExec {
  private[plans] val Hex: Array[Byte] = "0123456789abcdef".getBytes
}
