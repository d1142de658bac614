package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, PredicateHelper}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.util.collection.BitSet

import graft.io.Bucketed
import graft.io.Checkpoint.RemainingBuckets

/** Physical rule: a resume over a table bucketed on its key reads only the
  * table buckets that can hold its remaining `Checkpoint` buckets. Spark
  * prunes a scan's buckets only for `=` and `IN` on the bucket column, so
  * without this every table bucket is opened and all of its rows are
  * dropped by the filter above the scan.
  *
  * It narrows a `FileSourceScanExec`'s bucket set when the `FilterExec`
  * right above it holds a [[RemainingBuckets]] over the relation's one
  * bucket column; [[Bucketed.tableBuckets]] says which table buckets can
  * hold the remaining checkpoint buckets. [[AsOfFilterPushdown]] moves the
  * predicate below the flagship's [[FeatureScan]] (and copies it into an
  * as-of join's right input), so the flagship's one scan prunes. A scan of
  * a table without buckets, and one under no such predicate (a full
  * write), is left as it is.
  *
  * [[graft.GraftExtensions]] registers it as a post-planner rule, which
  * Spark applies to adaptive plans (`spark.sql.adaptive.enabled`, on by
  * default and in `GraftSession`).
  */
object RemainingBucketsScan extends Rule[SparkPlan] with PredicateHelper {
  override def apply(plan: SparkPlan): SparkPlan = plan.transform {
    case f @ FilterExec(cond, scan: FileSourceScanExec)
        if scan.relation.bucketSpec.exists(_.bucketColumnNames.size == 1) =>
      val spec = scan.relation.bucketSpec.get
      val held = splitConjunctivePredicates(cond).collect {
        case RemainingBuckets(a: Attribute, n, remaining)
            if a.name == spec.bucketColumnNames.head =>
          Bucketed.tableBuckets(spec.numBuckets, n, remaining)
      }
      if (held.isEmpty) f
      else {
        val kept = new BitSet(spec.numBuckets)
        held.reduce(_ intersect _).foreach(kept.set)
        f.copy(child = scan.copy(optionalBucketSet =
          Some(scan.optionalBucketSet.fold(kept)(_ & kept))))
      }
  }
}
