package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeSet, Expression, WindowFunctionType}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.WINDOW

/** Custom optimizer rule: lets stacked window features over one window
  * spec run as one pass. A window function whose argument is an expression
  * (`last(CASE WHEN tool IS NOT NULL AND ts IS NOT NULL THEN struct(ts,
  * tool) END)`, as `Windows.locfTtl` writes it, or a running count over a
  * computed flag) reads an alias that Spark computes in a `Project` just
  * below its `Window`. Stacked on an earlier window of the same spec, that
  * gives `Window – Project – Window`, which Spark's `CollapseWindow`
  * cannot merge: the upper window reads a column the lower window's input
  * lacks.
  *
  * When every such column is a deterministic alias that reads only the
  * lower window's input, this rule computes those aliases below the lower
  * window instead. The value of each row is the same, and `CollapseWindow`,
  * in the same fixed-point batch, then merges the two windows into one
  * sort and one scan. Nothing moves when the merge would still be blocked
  * (different specs or function types, or the upper window reads the
  * lower one's output), so plans that cannot gain do not change. Of the
  * oracled queries it changes `q_example_factory`'s: two windows, not three.
  */
object StackedWindowFusion extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(WINDOW)) {
      case upper @ Window(_, _, _, mid @ Project(list, lower @ Window(_, _, _, input, _)), _)
          if compatible(upper, lower) =>
        val needed = upper.references -- input.outputSet
        val moved = list.collect {
          case a: Alias if needed.contains(a.toAttribute) && a.deterministic &&
              a.references.subsetOf(input.outputSet) => a
        }
        if (needed.isEmpty || AttributeSet(moved.map(_.toAttribute)) != needed) upper
        else {
          val movedIds = moved.map(_.exprId).toSet
          upper.copy(child = mid.copy(
            projectList = list.map {
              case a: Alias if movedIds(a.exprId) => a.toAttribute
              case e => e
            },
            child = lower.copy(child = Project(input.output ++ moved, input))))
        }
    }

  /** The conditions of `CollapseWindow` that do not depend on the child. */
  private def compatible(a: Window, b: Window): Boolean = {
    def same(x: Seq[Expression], y: Seq[Expression]) =
      x.length == y.length && x.zip(y).forall { case (p, q) => p.semanticEquals(q) }
    same(a.partitionSpec, b.partitionSpec) && same(a.orderSpec, b.orderSpec) &&
      a.windowExpressions.nonEmpty && b.windowExpressions.nonEmpty &&
      WindowFunctionType.functionType(a.windowExpressions.head) ==
        WindowFunctionType.functionType(b.windowExpressions.head)
  }
}
