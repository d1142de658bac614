package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeMap, AttributeSet, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Custom optimizer rule: push predicates THROUGH the native as-of join
  * and the flagship's [[FeatureScan]]. Catalyst's stock filter pushdown
  * does not know these nodes, so without
  * this a `features.filter(anchorPred)` scans and merges every anchor row
  * before discarding — at 10^12 turns that is the difference between
  * reading a partition and reading the table.
  *
  *  - A deterministic predicate over the left input moves into the left
  *    input. Safe because each anchor row's match depends only on the
  *    right side and its own (key, ts) — dropping anchors never changes
  *    other anchors' matches.
  *  - One that reads only the join keys is ALSO copied into the right
  *    input, the left keys rewritten to the right keys: a match needs
  *    equal keys, so the right rows it drops could only have matched
  *    anchors it drops too. Only for keys whose equality is identity of
  *    value (not floating point, not a collated string), where a predicate
  *    cannot tell two equal keys apart. Any other right-side predicate is
  *    NOT pushable (dropping observations changes which one is "latest").
  *    Checkpoint's resume predicate is such a key-only predicate.
  *  - Over a [[FeatureScan]], a deterministic predicate that reads only
  *    its key moves into its input. Safe because every feature is per key:
  *    such a predicate keeps or drops whole keys.
  *
  * [[graft.GraftExtensions]] puts the rule in Spark's fixed-point
  * operator-optimization batches, next to `PushDownPredicates`, so whatever
  * it moves goes on through the `Project`, `Window` and `Aggregate` below.
  */
object AsOfFilterPushdown extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transform {
      case f @ Filter(_, j: AsOfJoinPlan) =>
        pushDown(f, _.references.subsetOf(j.left.outputSet)) { pushable =>
          val toRight = pushable.flatMap(onRightKeys(j, _))
          j.copy(
            left = Filter(pushable.reduce(And), j.left),
            right = toRight.reduceOption(And)
              .map(Filter(_, j.right)).getOrElse(j.right))
        }
      case f @ Filter(_, s: FeatureScan) =>
        pushDown(f, _.references.subsetOf(AttributeSet(s.key))) { pushable =>
          s.copy(child = Filter(pushable.reduce(And), s.child))
        }
    }

  /** `f`'s node rebuilt by `below` from the deterministic conjuncts that
    * `canPush` accepts, under a filter of the others; `f` if there are none.
    */
  private def pushDown(f: Filter, canPush: Expression => Boolean)(
      below: Seq[Expression] => LogicalPlan): LogicalPlan = {
    val (pushable, kept) = splitConjunctivePredicates(f.condition)
      .partition(p => p.deterministic && canPush(p))
    if (pushable.isEmpty) f
    else {
      val node = below(pushable)
      kept.reduceOption(And).map(Filter(_, node)).getOrElse(node)
    }
  }

  /** `p` over the right keys, if it reads only left keys that pair with a
    * right key of the same type whose equality is identity of value.
    */
  private def onRightKeys(j: AsOfJoinPlan, p: Expression): Option[Expression] = {
    val keyMap = AttributeMap(j.leftKeys.zip(j.rightKeys).collect {
      case (l: Attribute, r) if l.dataType == r.dataType && exactEquality(l.dataType) =>
        l -> r
    })
    if (!p.references.forall(keyMap.contains)) None
    else Some(p.transform { case a: Attribute if keyMap.contains(a) => keyMap(a) })
  }

  private def exactEquality(t: DataType): Boolean = t match {
    case StringType | BinaryType | BooleanType | ByteType | ShortType |
        IntegerType | LongType | DateType | TimestampType | TimestampNTZType |
        _: DecimalType => true
    case _ => false
  }
}
