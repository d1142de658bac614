package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, Expression, GenericInternalRow, JoinedRow, SortOrder,
  UnsafeProjection, UnsafeRow
}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning
}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Physical point-in-time join: children are hash-clustered on the join
  * keys and sorted by (keys, ts), the right one then by `rightOrder`; each
  * co-located partition pair is merged in ONE linear pass, holding at most
  * one buffered right row — the last eligible one, so of right rows tied
  * on (keys, ts) the last in `rightOrder` wins.
  *
  * Cost shape vs the union-merge formulation: same single shuffle per
  * side, but each side sorts separately (no combined union sort) and the
  * merge is streaming — no window-function state, no row-tagging columns.
  */
final case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    rightValues: Seq[Attribute],
    exact: Boolean,
    toleranceMs: Option[Long] = None,
    rightOrder: Seq[Expression] = Nil
) extends BinaryExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext,
      "number of output rows"),
    "numMatchedRows" -> SQLMetrics.createMetric(sparkContext,
      "number of anchors with an as-of match"))

  override def output: Seq[Attribute] =
    left.output ++ rightValues.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTs).map(SortOrder(_, org.apache.spark.sql.catalyst.expressions.Ascending)),
    (rightKeys ++ (rightTs +: rightOrder)).map(SortOrder(_, org.apache.spark.sql.catalyst.expressions.Ascending))
  )

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan,
      newRight: SparkPlan
  ): AsOfJoinExec = copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val lKeys = leftKeys
    val rKeys = rightKeys
    val lTs = leftTs
    val rTs = rightTs
    val rVals: Seq[Expression] = rightValues
    val isExact = exact
    val numOutputRows = longMetric("numOutputRows")
    val numMatchedRows = longMetric("numMatchedRows")
    // second-granularity window, matching AsOf.joinBackward's
    // (ts.cast(long) - match_ts.cast(long)) * 1000 <= toleranceMs;
    // hoisted to primitives so the per-row emit check stays branch-only.
    // ts.cast(long) on TimestampType is epoch SECONDS (floor of micros),
    // while on an already-long epoch-seconds column it's the identity —
    // derive the micros→seconds divisor from the column type so both
    // representations get the same tolerance semantics.
    val hasTol = toleranceMs.isDefined
    val tolVal = toleranceMs.getOrElse(0L)
    val tsDiv = leftTs.dataType match {
      case org.apache.spark.sql.types.TimestampType |
          org.apache.spark.sql.types.TimestampNTZType => 1000000L
      case _ => 1L
    }
    val keyTypes = lKeys.map(_.dataType)

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeys, leftOut)
      val rKeyProj = UnsafeProjection.create(rKeys, rightOut)
      val lTsProj = UnsafeProjection.create(Seq(lTs), leftOut)
      val rTsProj = UnsafeProjection.create(Seq(rTs), rightOut)
      val rValProj = UnsafeProjection.create(rVals, rightOut)
      val keyOrdering = org.apache.spark.sql.catalyst.expressions
        .RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val nullValueRow = new GenericInternalRow(rVals.length)
      val joined = new JoinedRow
      val outProj = UnsafeProjection.create(
        output.map(_.dataType).toArray)

      new Iterator[InternalRow] {
        private var rNext: UnsafeRow = _ // lookahead right row (copied)
        private var rNextKey: UnsafeRow = _
        private var rNextTs: Long = 0L
        private var rNextTsNull: Boolean = false
        private var held: UnsafeRow = _ // last eligible right VALUE row
        private var heldKey: UnsafeRow = _
        private var heldTs: Long = 0L // micros; valid while held != null
        advanceRight()

        private def advanceRight(): Unit = {
          if (rIter.hasNext) {
            val r = rIter.next().asInstanceOf[UnsafeRow]
            rNext = r.copy()
            rNextKey = rKeyProj(rNext).copy()
            val tsRow = rTsProj(rNext)
            rNextTsNull = tsRow.isNullAt(0)
            rNextTs = if (rNextTsNull) 0L else tsRow.getLong(0)
          } else {
            rNext = null
            rNextKey = null
          }
        }

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lKey = lKeyProj(l)
          val lTsRow = lTsProj(l)
          val lTsNull = lTsRow.isNullAt(0)
          val lt = if (lTsNull) 0L else lTsRow.getLong(0)
          // consume right rows that sort at-or-before this left anchor;
          // null-ts right rows sort FIRST (nulls-first asc) and are
          // skipped without blocking the scan
          var continue = rNext != null && !lTsNull
          while (continue) {
            val c = keyOrdering.compare(rNextKey, lKey)
            val tsOk = !rNextTsNull &&
              (if (isExact) rNextTs <= lt else rNextTs < lt)
            val consume = c < 0 || (c == 0 && (rNextTsNull || tsOk))
            if (consume) {
              if (c == 0 && tsOk) {
                held = rValProj(rNext).copy()
                heldKey = rNextKey
                heldTs = rNextTs
              }
              advanceRight()
              continue = rNext != null
            } else continue = false
          }
          val matched =
            held != null && heldKey != null &&
              keyOrdering.compare(heldKey, lKey) == 0 &&
              (!hasTol ||
                (Math.floorDiv(lt, tsDiv) -
                  Math.floorDiv(heldTs, tsDiv)) * 1000L <= tolVal)
          numOutputRows += 1
          if (matched) numMatchedRows += 1
          outProj(joined(l, if (matched) held else nullValueRow))
        }
      }
    }
  }
}
