package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed (hash-clustered, sorted) transcript storage — the shuffle
  *-elimination layer for the hot key.
  *
  * Every heavy operator in this engine clusters on `conv_id` (window
  * features, sessionize, both as-of variants, per-conversation rollups).
  * At 10^12 turns the exchange that establishes that clustering IS the
  * job cost; writing the transcript table bucketed+sorted by conv_id pays
  * it once at ingest:
  *
  *  - scans of a bucketed table report `HashPartitioning(conv_id, n)`, so
  *    Catalyst drops the Exchange under joins/aggregations/windows keyed
  *    on conv_id (EnsureRequirements sees the distribution is satisfied);
  *  - two tables bucketed the same way co-locate, so the as-of join's
  *    anchor and observation sides read already-aligned partitions;
  *  - `sortBy(conv_id, ts)` additionally pre-orders rows inside each
  *    bucket file — the order every window/merge needs.
  *
  * This is the local-parquet equivalent of Iceberg's
  * `bucket(n, conv_id)` partition transform + sorted write (prod target;
  * no Iceberg runtime in this sandbox). Bucket count is a layout
  * decision: pick ~(total bytes / 256 MB) rounded to a power of two;
  * downstream stages inherit n-way parallelism from the layout.
  */
/** The layout contract every downstream stage relies on — the seam where
  * the local parquet emulation swaps for Iceberg in production (mapping
  * documented in docs/ICEBERG.md):
  *
  *  1. a catalog read of a written table reports a conv_id-compatible
  *     output partitioning, so conv_id joins/aggs/windows plan ZERO
  *     exchanges (plan-asserted in BucketedSpec);
  *  2. rows inside each file are sorted (conv_id, ts);
  *  3. a re-write of the same table name is atomic (readers see old or
  *     new, never a mix);
  *  4. it can tell which of its buckets hold a `Checkpoint` bucket's rows,
  *     so a resume reads only those ([[tableBuckets]]).
  */
trait TranscriptLayout {
  def writeTranscript(df: DataFrame, table: String, path: String,
      nBuckets: Int): Unit
  def read(spark: SparkSession, table: String): DataFrame

  /** The buckets, of a table written with `nTable` buckets, that can hold
    * rows of `Checkpoint` buckets `remaining` of `n`.
    */
  def tableBuckets(nTable: Int, n: Int, remaining: Seq[Int]): Seq[Int]
}

object Bucketed extends TranscriptLayout {

  /** Write `df` as a bucketed, per-bucket-sorted external parquet table
    * registered as `table` with files under `path`.
    */
  override def writeTranscript(
      df: DataFrame,
      table: String,
      path: String,
      nBuckets: Int
  ): Unit =
    df.write
      .mode("overwrite")
      .format("parquet")
      .option("path", path)
      .bucketBy(nBuckets, "conv_id")
      .sortBy("conv_id", "ts")
      .saveAsTable(table)

  /** Catalog read — REQUIRED for bucket-aware planning (a plain
    * spark.read.parquet(path) of the same files loses the bucket spec and
    * re-shuffles).
    */
  override def read(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Spark's bucket and `Checkpoint`'s are both `pmod(hash(conv_id), _)`,
    * the same Murmur3 (seed 42). A row whose hash is h sits in table bucket
    * pmod(h, nTable) and in checkpoint bucket pmod(h, n), and both are
    * congruent to h modulo gcd(nTable, n): table bucket t can hold
    * checkpoint bucket c only when t ≡ c (mod gcd(nTable, n)).
    */
  override def tableBuckets(nTable: Int, n: Int, remaining: Seq[Int]): Seq[Int] = {
    val g = BigInt(nTable).gcd(BigInt(n)).toInt
    val residues = remaining.map(_ % g).toSet
    (0 until nTable).filter(t => residues(t % g))
  }
}
