package graft

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._

import graft.compile.WaryGate
import graft.io.Tables
import graft.plans.FeatureScan
import graft.rules._
import graft.rules.VRule._

/** The flagship end-to-end feature pipeline (SURVEY.md §7.2): validate +
  * normalize each turn via the wary gate, then per-conversation point-in-
  * time features — previous turn text (lag), tool state (LOCF), running
  * tool-call count, a gap session id, and the as-of last tool.
  *
  * Plan shape: the gate is a narrow projection fused into the scan; all
  * features come from ONE ordered pass, `plans.FeatureScanExec`, over one
  * `conv_id`-clustered sort by `(conv_id, ts, turn_idx)`. Over a plain
  * table the executed plan has one exchange and one sort; over a table
  * bucketed on conv_id it has no exchange; `features`, over the
  * transcript derived from `events`, has one exchange, below the
  * derivation's `row_number` window (`PipelinePlanSpec`).
  *
  * Contract, per conversation (a null `conv_id` is one conversation), in
  * `ts ASC NULLS FIRST, turn_idx ASC` order:
  *  - `prev_text`: the previous row's gated `text`; null on the first row;
  *  - `tool_state`: the last non-null `tool` at or before the row, null-ts
  *    rows included;
  *  - `n_tool_calls`: the running `count(tool)`, never null;
  *  - `session_seq`: the running count of boundaries, minus 1. A row is a
  *    boundary when there is no previous row, when the previous row's `ts`
  *    is null, or when `cast(ts AS long) - cast(prev_ts AS long) > 1800`
  *    (whole seconds, floored); a null `ts` after a non-null one is not;
  *  - `session_id`: `concat_ws('#', conv_id, session_seq)`, just the
  *    sequence number for a null `conv_id`;
  *  - `last_tool`: the `tool` of the last row with non-null `tool` and
  *    non-null `ts <=` the row's `ts`, tool turns of the same `ts` later by
  *    `turn_idx` included; null-ts rows neither serve nor receive one.
  *
  * Row for row this is `Windows.withLag`/`locf`/`runningCount` and
  * `Sessionize` over `Windows.turnWindow`, then
  * `AsOfNative.joinBackward(rightOrderBy = Seq("turn_idx"))` of the tool
  * turns, with the same column names, order, types and nullability
  * (`FeatureScanPropertySpec`).
  */
object Pipeline {

  /** Turn-validation spec: text required + byte-length bounded, trimmed and
    * lower-cased when valid (wary gate semantics).
    */
  val turnSpec: WarySpec = WarySpec(
    Seq(
      FieldSpec(
        "text",
        rules = Seq(Required(), Length(min = 1, max = 4000)),
        transforms = Seq(TRule.Trim(), TRule.Lower())
      )
    )
  )

  def features(spark: SparkSession, dir: String): DataFrame =
    featuresFromTurns(Tables.transcript(spark, dir))

  /** Same pipeline over an already-materialized transcript table. */
  def featuresFromTurns(turns: DataFrame): DataFrame = {
    val gated = WaryGate(turns, turnSpec)
      .withColumn("n_errors", size(col("errors")))
      .drop("errors")
    GraftBridge.ofRows(gated, FeatureScan(GraftBridge.logicalPlan(gated),
      key = "conv_id", ts = "ts", order = "turn_idx", text = "text", tool = "tool",
      gapSeconds = 1800L))
  }
}
