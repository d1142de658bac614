package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{LongType, StringType, TimestampType}

/** Logical node for the flagship's per-conversation features in one
  * ordered pass: per `key`, in `(ts ASC NULLS FIRST, order ASC)` order,
  * it appends `features`, in this order:
  *
  *  - `prev_text`: the previous row's `text`; null on a key's first row;
  *  - `tool_state`: the last non-null `tool` at or before the row;
  *  - `n_tool_calls`: the running count of non-null `tool`s;
  *  - `session_seq`: the running count of session boundaries, minus 1. A
  *    row is a boundary when there is no previous row, when the previous
  *    row's `ts` is null, or when `cast(ts AS long) - cast(prev_ts AS
  *    long) > gapSeconds`;
  *  - `session_id`: `concat_ws('#', key, session_seq)`;
  *  - `last_tool`: the `tool` of the last row with non-null `tool` and
  *    non-null `ts <=` the row's `ts`, same-`ts` rows later by `order`
  *    included; null where `ts` is null.
  *
  * That is, row for row, `Windows.withLag`/`locf`/`runningCount` and
  * `Sessionize` over `Windows.turnWindow`, then a self
  * `AsOfNative.joinBackward` on the tool turns with `rightOrderBy = order`
  * (`Pipeline`). Every feature reads only its own key's rows, so a
  * predicate on `key` alone commutes with the node ([[AsOfFilterPushdown]]).
  */
final case class FeatureScan(
    child: LogicalPlan,
    key: Attribute,
    ts: Attribute,
    order: Attribute,
    text: Attribute,
    tool: Attribute,
    gapSeconds: Long,
    features: Seq[Attribute]
) extends UnaryNode {

  override def output: Seq[Attribute] = child.output ++ features

  override def references: AttributeSet = AttributeSet(Seq(key, ts, order, text, tool))

  override def producedAttributes: AttributeSet = AttributeSet(features)

  override protected def withNewChildInternal(c: LogicalPlan): FeatureScan =
    copy(child = c)
}

object FeatureScan {

  /** The node over `child`'s columns of these names, with fresh feature
    * attributes typed as the window and as-of composition types them.
    */
  def apply(child: LogicalPlan, key: String, ts: String, order: String,
      text: String, tool: String, gapSeconds: Long): FeatureScan = {
    def attr(name: String) = child.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"column $name not found"))
    val (k, t, txt, tl) = (attr(key), attr(ts), attr(text), attr(tool))
    require(t.dataType == TimestampType, s"$ts must be a timestamp, got ${t.dataType}")
    require(txt.dataType.isInstanceOf[StringType] && tl.dataType.isInstanceOf[StringType],
      s"$text and $tool must be strings, got ${txt.dataType} and ${tl.dataType}")
    FeatureScan(child, k, t, attr(order), txt, tl, gapSeconds, Seq(
      AttributeReference("prev_text", txt.dataType)(),
      AttributeReference("tool_state", tl.dataType)(),
      AttributeReference("n_tool_calls", LongType, nullable = false)(),
      AttributeReference("session_seq", LongType)(),
      AttributeReference("session_id", StringType, nullable = false)(),
      AttributeReference("last_tool", tl.dataType)()))
  }
}

/** Plans [[FeatureScan]] as [[FeatureScanExec]] (registered per session by
  * [[graft.GraftExtensions]]).
  */
object FeatureScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: FeatureScan =>
      FeatureScanExec(planLater(s.child), s.key, s.ts, s.order, s.text, s.tool,
        s.gapSeconds, s.features) :: Nil
    case _ => Nil
  }
}
