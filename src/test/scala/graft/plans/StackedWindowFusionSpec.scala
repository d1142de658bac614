package graft.plans

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.features.{Sessionize, Windows}
import graft.schema.TranscriptGen

/** [[StackedWindowFusion]]: stacked window features over one spec run as
  * one pass where an alias blocked the merge, with unchanged rows; nothing
  * moves where the merge stays blocked.
  */
class StackedWindowFusionSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark

  private def windowPasses(df: DataFrame): Int = {
    GraftBridge.forceEvaluate(df)
    collect(GraftBridge.executedPlan(df)) { case w: WindowExec => w }.size
  }

  /** Whether a window-argument alias (`_w<n>`) is computed below the
    * lowest window of the optimized plan.
    */
  private def aliasBelowLowestWindow(df: DataFrame): Boolean = {
    val windows = GraftBridge.optimizedPlan(df).collect { case w: Window => w }
    windows.filter(_.child.collectFirst { case w: Window => w }.isEmpty)
      .exists(_.child.output.exists(_.name.startsWith("_w")))
  }

  /** A stacked window block over `Windows.turnWindow` (lag, LOCF, a
    * running count and `Sessionize`; the flagship computes these features
    * in `FeatureScanExec` instead), counting the rows where `counted` holds.
    */
  private def stackedWindows(s: SparkSession, counted: Column): DataFrame = {
    val w = Windows.turnWindow
    Sessionize(
      Windows.runningCount(
        Windows.locf(
          Windows.withLag(TranscriptGen.generateDF(s, 40), w, "text", 1, as = "prev_text"),
          w, "tool", as = "tool_state"),
        w, counted, as = "n_tool_calls"),
      Seq("conv_id"), "ts", gapSeconds = 1800L, tieBreak = Seq("turn_idx"))
  }

  test("stacked withLag → locf → runningCount → Sessionize plan two window " +
    "passes, with the rows of the unfused plan") {
    val unfusedSession = spark.newSession()
    unfusedSession.conf.set("spark.sql.optimizer.excludedRules", StackedWindowFusion.ruleName)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    // a count whose flag is an expression (`CASE WHEN … THEN 1 ELSE 0 END`)
    val long = length(col("text")) > 20
    val fused = stackedWindows(spark, long)
    assert(windowPasses(fused) == 2)
    val unfused = stackedWindows(unfusedSession, long)
    assert(windowPasses(unfused) == 3)
    assert(rows(fused) == rows(unfused))
    // a count of `isNotNull(tool)` counts the column: no flag, so two
    // passes without the rule too
    val ofColumn = stackedWindows(unfusedSession, col("tool").isNotNull)
    assert(windowPasses(ofColumn) == 2)
    assert(rows(ofColumn) == rows(stackedWindows(spark, col("tool").isNotNull)))
  }

  test("a non-deterministic alias is not moved") {
    val w = Windows.turnWindow
    val lagged = Windows.withLag(TranscriptGen.generateDF(spark, 10), w, "text")
    val random = Windows.runningSum(lagged, w, rand(7), "r")
    assert(!aliasBelowLowestWindow(random))
    assert(windowPasses(random) == 2)
    // control: the same shape with a deterministic argument fuses
    val fixed = Windows.runningSum(lagged, w, col("turn_idx") * 2, "r")
    assert(aliasBelowLowestWindow(fixed))
    assert(windowPasses(fixed) == 1)
  }

  test("windows with different specs, or an upper window reading the " +
    "lower one's output, are not merged") {
    val w = Windows.turnWindow
    val lagged = Windows.withLag(TranscriptGen.generateDF(spark, 10), w, "text")
    val byIdx = W.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    val otherSpec = Windows.runningCount(lagged, byIdx, col("tool").isNotNull, "n")
    assert(!aliasBelowLowestWindow(otherSpec))
    assert(windowPasses(otherSpec) == 2)
    val readsLag = Windows.runningSum(lagged, w, coalesce(length(col("text_lag1")), lit(0)), "n")
    assert(!aliasBelowLowestWindow(readsLag))
    assert(windowPasses(readsLag) == 2)
  }
}
