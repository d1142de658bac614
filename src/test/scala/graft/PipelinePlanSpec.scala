package graft

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.RowNumber
import org.apache.spark.sql.execution.{RDDScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Bucketed
import graft.plans.{AsOfJoinExec, FeatureScanExec}
import graft.schema.TranscriptGen

/** The flagship's executed plan (`Pipeline.featuresFromTurns`): one
  * `FeatureScanExec` over one `conv_id` exchange and one sort over plain
  * parquet, no exchange over a table bucketed on conv_id, and no window
  * pass, as-of join or aggregate; over the transcript derived from
  * `events` (`Pipeline.features`), one exchange, and the derivation's
  * `row_number` as the only window.
  */
class PipelinePlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark

  private def executed(df: DataFrame): SparkPlan = {
    GraftBridge.forceEvaluate(df)
    GraftBridge.executedPlan(df)
  }

  private def count(p: SparkPlan)(pick: PartialFunction[SparkPlan, SparkPlan]): Int =
    collect(p)(pick).size

  private def assertOnePass(plan: SparkPlan): Unit = {
    assert(count(plan) { case f: FeatureScanExec => f } == 1, plan)
    assert(count(plan) { case j: AsOfJoinExec => j } == 0, plan)
    assert(count(plan) { case a: BaseAggregateExec => a } == 0, plan)
  }

  test("over plain parquet: one exchange, one sort, one fused pass") {
    val dir = GraftBridge.tempDir("graft_plan").toString
    TranscriptGen.generateDF(spark, 120).repartition(4).write.mode("overwrite").parquet(dir)
    val plan = executed(Pipeline.featuresFromTurns(spark.read.parquet(dir)))
    assertOnePass(plan)
    assert(count(plan) { case e: ShuffleExchangeExec => e } == 1, plan)
    assert(count(plan) { case s: SortExec => s } == 1, plan)
    assert(count(plan) { case w: WindowExec => w } == 0, plan)
  }

  test("over Bucketed.read: no exchange") {
    Bucketed.writeTranscript(TranscriptGen.generateDF(spark, 120), "t_plan_shape",
      GraftBridge.tempDir("graft_plan_b").toString, nBuckets = 8)
    val plan = executed(Pipeline.featuresFromTurns(Bucketed.read(spark, "t_plan_shape")))
    assertOnePass(plan)
    assert(count(plan) { case e: ShuffleExchangeExec => e } == 0, plan)
    assert(count(plan) { case w: WindowExec => w } == 0, plan)
  }

  test("Pipeline.features: one exchange, row_number the only window") {
    val plan = executed(Pipeline.features(spark, TestSpark.eventsDir(60)))
    assertOnePass(plan)
    assert(count(plan) { case e: ShuffleExchangeExec => e } == 1, plan)
    assert(count(plan) { case r: RDDScanExec => r } == 0, plan)
    val windows = collect(plan) { case w: WindowExec => w }
    assert(windows.size == 1, plan)
    assert(windows.head.windowExpression.exists(_.find(_.isInstanceOf[RowNumber]).nonEmpty), plan)
  }
}
