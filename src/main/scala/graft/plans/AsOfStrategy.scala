package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Planner strategy mapping the logical AsOfJoinPlan to its physical
  * sort-merge exec (registered per session by [[graft.GraftExtensions]]).
  */
object AsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: AsOfJoinPlan =>
      AsOfJoinExec(planLater(p.left), planLater(p.right), p.leftKeys,
        p.rightKeys, p.leftTs, p.rightTs, p.rightValues, p.exact,
        p.toleranceMs, p.rightOrder) :: Nil
    case _ => Nil
  }
}
