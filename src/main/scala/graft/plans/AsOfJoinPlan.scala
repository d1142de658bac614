package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}

/** Logical node for the native point-in-time join (SURVEY.md §7.3 custom
  * `LogicalPlan`+`Strategy` tier; stock Spark has no ASOF join,
  * SPARK-22947).
  *
  * Semantics: for each left row, attach `rightValues` from the LAST right
  * row with equal keys and rightTs <= leftTs (or < when !exact); NULLs
  * when no such row. Right rows that tie on (keys, ts) are ordered by
  * `rightOrder` (ascending) and the last one wins; the tie-break columns
  * only order the rows and are not among `rightValues`. Equivalent to [[graft.features.AsOf.joinBackward]]
  * but planned as a real sort-merge: each side is shuffled and sorted
  * independently (smaller sorts than the union-merge's combined sort) and
  * merged in one linear pass per partition.
  */
final case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    rightValues: Seq[Attribute],
    exact: Boolean,
    toleranceMs: Option[Long] = None,
    rightOrder: Seq[Expression] = Nil
) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ rightValues.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan,
      newRight: LogicalPlan
  ): AsOfJoinPlan = copy(left = newLeft, right = newRight)
}
