package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** AS-OF (point-in-time) join — a whole-operator extension (SURVEY.md §7.3
  * ladder step (c)): Spark has no native as-of join, and the relational
  * encodings either don't scale (an inequality theta-join plans as a
  * nested loop) or contort the schema (the union+window trick,
  * `graft.queries.TemporalQueries`). This is the operator a
  * feature-store / training-data pipeline uses for "the latest feature
  * value known at example time" without future leakage.
  *
  * Semantics: for each left row, append the single right row with equal
  * join keys and the greatest right-time ≤ left-time; null-extended when
  * no such row exists (LEFT OUTER as-of, DuckDB's `ASOF LEFT JOIN`,
  * pandas' `merge_asof`). Join keys match null≡null (IS NOT DISTINCT
  * FROM); rows with a null right-time never match; a null left-time never
  * matches anything.
  *
  * Scale: the physical plan is the sort-merge shape — both sides hash-
  * partitioned on the join keys (one shuffle each, exactly like a SMJ),
  * partitions sorted by (keys, time), then a single streaming merge pass
  * per partition holding ONE buffered right row (the newest candidate),
  * O(1) state — no right-side buffering of equal-key groups as SMJ needs,
  * no range explosion. At 100 TB this behaves identically to a
  * sort-merge join minus the group buffer.
  */
final case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    direction: AsOfDirection = AsOfBackward) extends BinaryNode {

  require(leftKeys.length == rightKeys.length && leftKeys.nonEmpty,
    "as-of join needs matching non-empty key lists")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoin]] → [[AsOfJoinExec]]. Injected by [[GraftExtensions]]
  * into every session `graft.core.GraftSession` builds. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt, dir) =>
      AsOfJoinExec(lk, rk, lt, rt, dir, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Match direction: BACKWARD = greatest right-time ≤ left-time (DuckDB
  * ASOF, pandas merge_asof default); FORWARD = smallest right-time ≥
  * left-time (next-event attribution; DuckDB has no native form — the
  * oracle uses a windowed QUALIFY). */
sealed trait AsOfDirection
case object AsOfBackward extends AsOfDirection
case object AsOfForward extends AsOfDirection

/** Physical sort-merge as-of join. EnsureRequirements satisfies the
  * declared distribution/ordering with one hash exchange + in-partition
  * sort per side (same machinery as SortMergeJoinExec); the merge itself
  * is a single forward pass over co-partitioned sorted iterators.
  *
  * Time columns must be timestamp or long (both long-backed); comparison
  * is on the primitive value (µs for timestamps).
  */
final case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    direction: AsOfDirection,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  private def timeOk(e: Expression): Boolean =
    e.dataType == TimestampType || e.dataType == LongType
  require(timeOk(leftTime) && timeOk(rightTime),
    s"as-of time columns must be timestamp/long, " +
      s"got ${leftTime.dataType}/${rightTime.dataType}")
  // the merge ordering is built from LEFT key types; a width mismatch
  // (int vs bigint) would compare garbage bytes silently, not error
  require(leftKeys.map(_.dataType) == rightKeys.map(_.dataType),
    s"as-of join key types must match pairwise: " +
      s"${leftKeys.map(_.dataType)} vs ${rightKeys.map(_.dataType)}")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val leftOutput = left.output
    val rightOutput = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    val keyTypes = leftKeys.map(_.dataType)
    val outAttrs = output
    val dir = direction // local capture for the closure

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, leftOutput)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rightOutput)
      val lTime = BindReferences.bindReference(lTimeExpr, leftOutput)
      val rTime = BindReferences.bindReference(rTimeExpr, rightOutput)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rightOutput.length)
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      val rBuf = rIter.buffered
      val forward = dir == AsOfForward

      new Iterator[InternalRow] {
        // BACKWARD state: newest right row ≤ current left time + its key
        private var matchKey: UnsafeRow = null
        private var matchRow: InternalRow = null

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lk = lKeyProj(l)
          val ltv = lTime.eval(l)
          if (ltv == null) {
            // null left time matches nothing; drain no right rows (they
            // may still match later left rows of the same key)
            return outProj(joined(l, nullRight))
          }
          val lt = ltv.asInstanceOf[Long]
          if (forward) nextForward(l, lk, lt) else nextBackward(l, lk, lt)
        }

        /** Greatest right-time ≤ lt: consume right rows up to lt,
          * remembering the newest; rows with key < lk are permanently
          * stale (both sides are key-ordered). */
        private def nextBackward(l: InternalRow, lk: UnsafeRow,
                                 lt: Long): InternalRow = {
          var scanning = true
          while (scanning && rBuf.hasNext) {
            val rk = rKeyProj(rBuf.head)
            val c = keyOrd.compare(rk, lk)
            if (c < 0) { rBuf.next() }
            else if (c > 0) { scanning = false }
            else {
              val rtv = rTime.eval(rBuf.head)
              if (rtv == null) { rBuf.next() } // null right time: no match
              else if (rtv.asInstanceOf[Long] <= lt) {
                matchRow = rBuf.next().copy()
                matchKey = lk.copy()
              } else scanning = false
            }
          }
          if (matchRow != null && keyOrd.compare(matchKey, lk) == 0)
            outProj(joined(l, matchRow))
          else
            outProj(joined(l, nullRight))
        }

        /** Smallest right-time ≥ lt: discard right rows strictly before
          * lt (left times only grow, so they can never serve a later
          * left either) and match the head WITHOUT consuming it — the
          * same right row may be the next event for several lefts. */
        private def nextForward(l: InternalRow, lk: UnsafeRow,
                                lt: Long): InternalRow = {
          var matched: InternalRow = null
          var scanning = true
          while (scanning && rBuf.hasNext) {
            val r = rBuf.head
            val rk = rKeyProj(r)
            val c = keyOrd.compare(rk, lk)
            if (c < 0) { rBuf.next() }
            else if (c > 0) { scanning = false }
            else {
              val rtv = rTime.eval(r)
              if (rtv == null) { rBuf.next() }
              else if (rtv.asInstanceOf[Long] < lt) { rBuf.next() }
              else { matched = r; scanning = false }
            }
          }
          // outProj copies the buffered head's values before any advance
          outProj(joined(l, if (matched != null) matched else nullRight))
        }
      }
    }
  }
}
