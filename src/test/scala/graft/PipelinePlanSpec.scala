package graft

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Bucketed
import graft.plans.AsOfJoinExec
import graft.schema.TranscriptGen

/** The flagship's executed plan (`Pipeline.featuresFromTurns`): one
  * exchange per as-of side over plain parquet and none over a table
  * bucketed on conv_id, two window passes, and no aggregate; over the
  * transcript derived from `events` (`Pipeline.features`), the same two
  * exchanges.
  */
class PipelinePlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark

  private def executed(df: DataFrame): SparkPlan = {
    GraftBridge.forceEvaluate(df)
    GraftBridge.executedPlan(df)
  }

  private def exchanges(p: SparkPlan): Int =
    collect(p) { case e: ShuffleExchangeExec => e }.size

  test("over plain parquet: one exchange per as-of side, two window passes, " +
    "no aggregate") {
    val dir = GraftBridge.tempDir("graft_plan").toString
    TranscriptGen.generateDF(spark, 120).repartition(4).write.mode("overwrite").parquet(dir)
    val plan = executed(Pipeline.featuresFromTurns(spark.read.parquet(dir)))
    val asof = collect(plan) { case j: AsOfJoinExec => j }
    assert(asof.size == 1)
    assert(exchanges(asof.head.left) == 1 && exchanges(asof.head.right) == 1, plan)
    assert(exchanges(plan) == 2, plan)
    assert(collect(plan) { case w: WindowExec => w }.size == 2, plan)
    assert(collect(plan) { case a: BaseAggregateExec => a }.isEmpty, plan)
  }

  test("over Bucketed.read: no exchange") {
    Bucketed.writeTranscript(TranscriptGen.generateDF(spark, 120), "t_plan_shape",
      GraftBridge.tempDir("graft_plan_b").toString, nBuckets = 8)
    val plan = executed(Pipeline.featuresFromTurns(Bucketed.read(spark, "t_plan_shape")))
    assert(exchanges(plan) == 0, plan)
    assert(collect(plan) { case w: WindowExec => w }.size == 2, plan)
  }

  test("Pipeline.features: one exchange per as-of side, no checkpoint scan, " +
    "the derivation's row_number on each side") {
    val plan = executed(Pipeline.features(spark, TestSpark.eventsDir(60)))
    val asof = collect(plan) { case j: AsOfJoinExec => j }
    assert(asof.size == 1)
    assert(exchanges(asof.head.left) == 1 && exchanges(asof.head.right) == 1, plan)
    assert(exchanges(plan) == 2, plan)
    assert(collect(plan) { case r: RDDScanExec => r }.isEmpty, plan)
    // the flagship's two window passes over the left side's row_number,
    // and a row_number on the right side
    assert(collect(asof.head.left) { case w: WindowExec => w }.size == 3, plan)
    assert(collect(plan) { case w: WindowExec => w }.size == 4, plan)
  }
}
