package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeSet, BoundReference, Cast, ConcatWs, Expression, JoinedRow,
  Literal, SortOrder, SpecificInternalRow, UnsafeProjection, UnsafeRow
}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning
}
import org.apache.spark.sql.catalyst.util.DateTimeConstants.MICROS_PER_SECOND
import org.apache.spark.sql.execution.{ExternalAppendOnlyUnsafeRowArray, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Physical [[FeatureScan]]: its child is clustered on `key` and sorted by
  * `(key, ts, order)`, and each partition is scanned ONCE, in that order.
  *
  * Per key the pass carries the previous row's text and `ts`, the last
  * tool, the tool count and the session count, and reads ahead one ts
  * group: the rows of a key that share a `ts` are read before the first
  * of them leaves, so that each of them sees the group's last tool as its
  * `last_tool`, also when that tool turn comes later by `order`. A group of
  * one row is held in reused bytes; a larger one in an
  * `ExternalAppendOnlyUnsafeRowArray`, which spills like a window's
  * buffer. State is O(1) per key plus one ts group; rows leave in input
  * order, through one projection over (input row, features).
  *
  * `numMatchedRows` counts the rows with a non-null `last_tool`: the
  * flagship's as-of match rate is `numMatchedRows / numOutputRows`.
  */
final case class FeatureScanExec(
    child: SparkPlan,
    key: Attribute,
    ts: Attribute,
    order: Attribute,
    text: Attribute,
    tool: Attribute,
    gapSeconds: Long,
    features: Seq[Attribute]
) extends UnaryExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext,
      "number of output rows"),
    "numMatchedRows" -> SQLMetrics.createMetric(sparkContext,
      "number of rows with a last tool"))

  override def output: Seq[Attribute] = child.output ++ features

  override def producedAttributes: AttributeSet = AttributeSet(features)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(key)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(key, ts, order).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def withNewChildInternal(c: SparkPlan): FeatureScanExec =
    copy(child = c)

  override protected def doExecute(): RDD[InternalRow] = {
    val in = child.output
    val n = in.size
    def ordinal(a: Attribute) = in.indexWhere(_.exprId == a.exprId)
    val (tsOrd, textOrd, toolOrd) = (ordinal(ts), ordinal(text), ordinal(tool))
    val keyExpr = Seq(key)
    val gap = gapSeconds
    // (input row, features): prev_text, tool_state, n_tool_calls,
    // session_seq, last_tool; session_id is computed by the projection
    val featTypes = Seq(text.dataType, tool.dataType, LongType, LongType, tool.dataType)
    val keyRef = BoundReference(ordinal(key), key.dataType, key.nullable)
    val keyStr = key.dataType match {
      case _: StringType => keyRef
      case _ => Cast(keyRef, StringType, Some(conf.sessionLocalTimeZone))
    }
    val outExprs: Seq[Expression] = in.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable)
    } ++ Seq(
      BoundReference(n, text.dataType, nullable = true),
      BoundReference(n + 1, tool.dataType, nullable = true),
      BoundReference(n + 2, LongType, nullable = false),
      BoundReference(n + 3, LongType, nullable = false),
      ConcatWs(Seq(Literal("#"), keyStr,
        Cast(BoundReference(n + 3, LongType, nullable = false), StringType))),
      BoundReference(n + 4, tool.dataType, nullable = true))
    val inMemoryRows = conf.windowExecBufferInMemoryThreshold
    val spillRows = conf.windowExecBufferSpillThreshold
    val spillBytes = conf.windowExecBufferSpillSizeThreshold
    val numOutputRows = longMetric("numOutputRows")
    val numMatchedRows = longMetric("numMatchedRows")

    child.execute().mapPartitions { input =>
      val keyProj = UnsafeProjection.create(keyExpr, in)
      val outProj = UnsafeProjection.create(outExprs)
      val buffer = new ExternalAppendOnlyUnsafeRowArray(inMemoryRows, spillBytes,
        spillRows, spillBytes)
      val feats = new SpecificInternalRow(featTypes)
      val joined = new JoinedRow

      /** `v`, or `held` when equal: a copy that outlives the row. */
      def retain(held: UTF8String, v: UTF8String): UTF8String =
        if (held != null && held == v) held else v.clone()

      new Iterator[InternalRow] {
        // the first row of the next ts group, not yet read, and its key
        private var ahead: UnsafeRow = _
        private var aheadKey: UnsafeRow = _
        // a group's first row, copied into reused bytes; the buffer holds
        // the group only when it has more rows, as few groups do
        private val first = new UnsafeRow(n)
        private var firstBytes = new Array[Byte](256)
        private var firstPending = false
        private var group: Iterator[UnsafeRow] = Iterator.empty
        private var groupKey: UnsafeRow = _
        private var groupTsNull = false
        // per-key carries
        private var hasPrev = false
        private var prevTsNull = false
        private var prevSec = 0L
        private var prevText: UTF8String = _
        private var textBytes = new Array[Byte](64)
        private var toolState: UTF8String = _
        private var nTools = 0L
        private var nSessions = 0L
        // last_tool of the key's ts groups so far
        private var dated: UTF8String = _
        fetch()

        private def fetch(): Unit =
          if (input.hasNext) {
            ahead = input.next().asInstanceOf[UnsafeRow]
            aheadKey = keyProj(ahead)
          } else ahead = null

        private def hold(r: UnsafeRow): Unit = {
          val size = r.getSizeInBytes
          if (size > firstBytes.length)
            firstBytes = new Array[Byte](math.max(size, 2 * firstBytes.length))
          Platform.copyMemory(r.getBaseObject, r.getBaseOffset, firstBytes,
            Platform.BYTE_ARRAY_OFFSET, size)
          first.pointTo(firstBytes, size)
        }

        /** Reads the rows of the key and `ts` of `ahead`, and folds their
          * tools into `dated`.
          */
        private def readGroup(): Unit = {
          if (groupKey == null || aheadKey != groupKey) {
            groupKey = aheadKey.copy()
            hasPrev = false
            toolState = null
            nTools = 0L
            nSessions = 0L
            dated = null
          }
          groupTsNull = ahead.isNullAt(tsOrd)
          val groupTs = if (groupTsNull) 0L else ahead.getLong(tsOrd)
          var rows = 0
          while (rows == 0 || (ahead != null && aheadKey == groupKey &&
              (if (groupTsNull) ahead.isNullAt(tsOrd)
               else !ahead.isNullAt(tsOrd) && ahead.getLong(tsOrd) == groupTs))) {
            if (rows == 0) hold(ahead)
            else {
              if (rows == 1) { buffer.clear(); buffer.add(first) }
              buffer.add(ahead)
            }
            rows += 1
            // a null-ts row neither serves nor receives a last tool
            if (!groupTsNull && !ahead.isNullAt(toolOrd))
              dated = retain(dated, ahead.getUTF8String(toolOrd))
            fetch()
          }
          if (rows == 1) firstPending = true else group = buffer.generateIterator()
        }

        override def hasNext: Boolean = firstPending || group.hasNext || ahead != null

        override def next(): InternalRow = {
          if (!firstPending && !group.hasNext) readGroup()
          val row = if (firstPending) { firstPending = false; first } else group.next()
          if (hasPrev && prevText != null) feats.update(0, prevText) else feats.setNullAt(0)
          if (!row.isNullAt(toolOrd)) {
            toolState = retain(toolState, row.getUTF8String(toolOrd))
            nTools += 1
          }
          if (toolState == null) feats.setNullAt(1) else feats.update(1, toolState)
          feats.setLong(2, nTools)
          val tsNull = row.isNullAt(tsOrd)
          // cast(ts AS long): whole seconds, floored
          val sec = if (tsNull) 0L else Math.floorDiv(row.getLong(tsOrd), MICROS_PER_SECOND)
          if (!hasPrev || prevTsNull || (!tsNull && sec - prevSec > gap)) nSessions += 1
          feats.setLong(3, nSessions - 1)
          val matched = !groupTsNull && dated != null
          if (matched) feats.update(4, dated) else feats.setNullAt(4)
          val out = outProj(joined(row, feats))
          // the projection has copied prev_text: its bytes can now be reused
          if (row.isNullAt(textOrd)) prevText = null
          else {
            val t = row.getUTF8String(textOrd)
            val len = t.numBytes
            if (len > textBytes.length)
              textBytes = new Array[Byte](math.max(len, 2 * textBytes.length))
            t.writeToMemory(textBytes, Platform.BYTE_ARRAY_OFFSET)
            prevText = UTF8String.fromBytes(textBytes, 0, len)
          }
          hasPrev = true
          prevTsNull = tsNull
          prevSec = sec
          numOutputRows += 1
          if (matched) numMatchedRows += 1
          out
        }
      }
    }
  }
}
