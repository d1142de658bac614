package graft.metrics

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Pipeline observability without extra passes: `Observation` metrics ride
  * along with the action that materializes the DataFrame (no second scan),
  * and a partition histogram diagnoses shuffle skew before it burns a
  * 1000-executor stage.
  */
object Lineage {

  /** Attach row/null/min-max observations; read them AFTER an action:
    * {{{
    * val (df2, obs) = Lineage.observed(df, "ts")
    * df2.write.parquet(...)           // any action
    * val m = obs.get                  // Map(rows -> ..., nulls -> ...)
    * }}}
    * The observation counts the rows of `df`, whatever filters the action
    * puts on top of it — with one exception: when `df2` goes through
    * `Checkpoint.write` and buckets are already committed, the write puts
    * its resume predicate below the observation, which then counts only
    * the rows of the buckets this write promotes (none, and zero counts,
    * over a fully committed output).
    */
  def observed(df: DataFrame, tsCol: String): (DataFrame, Observation) = {
    val obs = Observation()
    val out = df.observe(
      obs,
      count(lit(1)).as("rows"),
      count(when(col(tsCol).isNull, 1L)).as("null_ts"),
      min(col(tsCol)).as("min_ts"),
      max(col(tsCol)).as("max_ts")
    )
    (out, obs)
  }

  /** Per-bucket lineage MANIFEST — the north rule's "per-partition
    * lineage + metrics" as data: one row per deterministic key bucket
    * with row count, null-ts count, ts range, and distinct-key count.
    * The bucket is the first 8 md5 hex chars of the key mod `nBuckets` —
    * engine-portable (Spark's internal Murmur3 bucket id is not), so the
    * manifest itself sits under the DuckDB oracle (q_lineage) instead of
    * being a trusted side channel. One partial-agg shuffle; output is
    * bucket-count-sized.
    */
  def bucketManifest(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      nBuckets: Int
  ): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    val bucket = pmod(
      conv(substring(md5(col(keyCol)), 1, 8), 16, 10).cast("long"),
      lit(nBuckets.toLong))
    df.groupBy(bucket.as("bucket"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col(tsCol).isNull, 1L).otherwise(0L)).as("n_null_ts"),
        min(col(tsCol)).as("min_ts"),
        max(col(tsCol)).as("max_ts"),
        count_distinct(col(keyCol)).as("n_keys"))
  }

  /** Rows per physical partition (one lightweight job) + skew ratio. */
  def partitionHistogram(df: DataFrame): (Map[Int, Long], Double) = {
    val counts = df
      .groupBy(spark_partition_id().as("pid"))
      .count()
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .toMap
    val skew =
      if (counts.isEmpty) 0.0
      else counts.values.max.toDouble / (counts.values.sum.toDouble / counts.size)
    (counts, skew)
  }
}
