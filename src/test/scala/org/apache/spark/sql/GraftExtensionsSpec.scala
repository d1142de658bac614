package org.apache.spark.sql

import java.util.ServiceLoader

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftExtensions, TestSpark}
import graft.plans.{AsOfFilterPushdown, AsOfStrategy, FeatureScanStrategy, RemainingBucketsScan,
  StackedWindowFusion}

/** graft's planner pieces reach a session through its extensions, each
  * exactly once, although the test session sees both ways in: the
  * `spark.sql.extensions` conf and the `META-INF/services` entry.
  */
class GraftExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark.asInstanceOf[classic.SparkSession]

  private def assertRegisteredOnce(s: classic.SparkSession): Unit = {
    val state = s.sessionState
    assert(state.planner.strategies.count(_ eq AsOfStrategy) == 1)
    assert(state.planner.strategies.count(_ eq FeatureScanStrategy) == 1)
    assert(state.adaptiveRulesHolder.queryPostPlannerStrategyRules
      .count(_ eq RemainingBucketsScan) == 1)
    val batches = state.optimizer.batches
      .filter(_.name.startsWith("Operator Optimization"))
    assert(batches.size == 2, batches.map(_.name))
    for (b <- batches) {
      assert(b.rules.count(_ eq AsOfFilterPushdown) == 1, b.name)
      assert(b.rules.count(_ eq StackedWindowFusion) == 1, b.name)
    }
    assert(s.experimental.extraStrategies.isEmpty)
    assert(s.experimental.extraOptimizations.isEmpty)
  }

  test("ServiceLoader finds graft.GraftExtensions") {
    val providers = ServiceLoader.load(classOf[SparkSessionExtensionsProvider])
      .asScala.map(_.getClass).toSeq
    assert(providers.contains(classOf[GraftExtensions]))
  }

  test("the test session registers AsOfStrategy and AsOfFilterPushdown once") {
    assert(spark.conf.get("spark.sql.extensions") == classOf[GraftExtensions].getName)
    assertRegisteredOnce(spark)
  }

  test("a newSession() inherits the extension, once") {
    assertRegisteredOnce(spark.newSession())
  }
}
