package graft.jobs

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, Pipeline}
import graft.io.Checkpoint
import graft.metrics.Lineage

/** The north-rule production entrypoint: spark-submit job that runs the
  * full feature pipeline over a transcript table and writes the feature
  * frame as a checkpoint-resumable bucketed dataset with per-partition
  * lineage + row-count/skew metrics.
  *
  * Usage: spark-submit --class graft.jobs.FeatureBackfillJob <jar> \
  *          <sfDir> <outDir> [nBuckets] [runId]
  *
  * Re-running after a kill resumes: committed buckets are skipped, output
  * converges to the clean-run result (CheckpointSpec proves equality).
  * `observed_rows` and `null_ts` count the rows this run wrote: all rows
  * on a first run, and on a resume the promoted buckets' rows, if any.
  * In production the parquet source/sink swaps for Iceberg (the manifest
  * maps to snapshot commits — SURVEY.md §7.4 item 7); nothing else
  * changes.
  */
object FeatureBackfillJob {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    try println(run(spark, args)) finally spark.stop()
  }

  /** One backfill with `main`'s arguments; returns the run's JSON record. */
  def run(spark: SparkSession, args: Array[String]): String = {
    val sfDir = args(0)
    val outDir = args(1)
    val nBuckets = if (args.length > 2) args(2).toInt else 32
    val runId =
      if (args.length > 3) args(3)
      else s"run_${java.util.UUID.randomUUID().toString.take(8)}"
    val (features, obs) = Lineage.observed(Pipeline.features(spark, sfDir), "ts")
    val promoted = Checkpoint.write(features, "conv_id", outDir, nBuckets, sfDir, runId)
    val metrics = obs.get
    val (bucketRows, skew) = Checkpoint.metrics(outDir)
    s"""{"run_id":"$runId","input":"$sfDir","out":"$outDir","buckets_promoted":${promoted.size},"buckets_total":${bucketRows.size},"rows":${bucketRows.values.sum},"observed_rows":${metrics("rows")},"null_ts":${metrics("null_ts")},"bucket_skew":${f"$skew%.3f"}}"""
  }
}
