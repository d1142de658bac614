package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.compile.WaryGate
import graft.features.{AsOfNative, Sessionize, Windows}
import graft.io.Tables
import graft.rules._
import graft.rules.VRule._

/** The flagship end-to-end feature pipeline (SURVEY.md §7.2): validate +
  * normalize each turn via the wary gate, then per-conversation point-in-
  * time features — previous turn text (lag), tool state (as-of/LOCF),
  * running tool-call count, and a gap session id.
  *
  * Plan shape at scale: the gate is a narrow projection fused into the
  * scan; all window features share one (conv_id)-partitioned sort and run
  * in two window passes (lag, LOCF, running count and the session's
  * previous ts in one, none of them with a computed argument; the session
  * running sum over the boundary flags in the second). Over a plain table
  * the executed plan has two exchanges, one per as-of side, both on
  * conv_id; over a table bucketed on conv_id it has none
  * (`PipelinePlanSpec`). `features`, over the transcript derived from
  * `events`, has the same two: the derivation's window is on conv_id.
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
    val w = Windows.turnWindow
    val withWin = Sessionize(
      Windows.runningCount(
        Windows.locf(
          Windows.withLag(gated, w, "text", 1, as = "prev_text"),
          w, "tool", as = "tool_state"),
        w, col("tool").isNotNull, as = "n_tool_calls"),
      Seq("conv_id"), "ts", gapSeconds = 1800L, tieBreak = Seq("turn_idx"))

    // as-of: latest per-conversation tool observation at ts <= anchor ts.
    // The NATIVE sort-merge exec (custom plan) is ~6.7x faster than the
    // union-merge formulation at 25M rows: each side sorts separately and
    // the merge streams, instead of window-scanning the combined union.
    // Of tool turns sharing a ts, the latest turn wins: the exec sorts the
    // right side by (conv_id, ts, turn_idx) and keeps the last row.
    val obs = turns
      .filter(col("tool").isNotNull)
      .select(col("conv_id"), col("ts"), col("turn_idx"), col("tool").as("last_tool"))
    AsOfNative.joinBackward(withWin, obs, Seq("conv_id"), rightOrderBy = Seq("turn_idx"))
  }
}
