package graft

import java.util.{Collections, WeakHashMap}

import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}

import graft.plans.{AsOfFilterPushdown, AsOfStrategy, FeatureScanStrategy, RemainingBucketsScan,
  StackedWindowFusion}

/** Registers the planner strategies of the native as-of join and of the
  * flagship's feature scan, their pushdown rule, the rule that fuses
  * stacked window passes and the rule that prunes a resume's table
  * buckets, once, in each session that loads it: from
  * graft's `META-INF/services` entry, from `spark.sql.extensions` (which
  * [[GraftSession]] sets, for classpaths without graft's resources), or
  * both.
  */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit =
    if (GraftExtensions.applied.add(ext)) {
      ext.injectPlannerStrategy(_ => AsOfStrategy)
      ext.injectPlannerStrategy(_ => FeatureScanStrategy)
      ext.injectQueryPostPlannerStrategyRule(_ => RemainingBucketsScan)
      ext.injectOptimizerRule(_ => AsOfFilterPushdown)
      ext.injectOptimizerRule(_ => StackedWindowFusion)
    }
}

object GraftExtensions {
  private val applied = Collections.synchronizedSet(Collections.newSetFromMap(
    new WeakHashMap[SparkSessionExtensions, java.lang.Boolean]))
}
