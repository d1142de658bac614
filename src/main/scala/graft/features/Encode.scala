package graft.features

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Leakage-free categorical encodings for training pipelines.
  *
  * [[targetEncode]] is the point-in-time version of the classic target
  * (mean) encoding: at each row, the count and sum of a numeric label
  * over all STRICTLY EARLIER rows sharing the key — never the current
  * row, never a tie at the same timestamp, never the future. Emitting
  * the exact integer sufficient statistics (count, sum) instead of a
  * float mean keeps the output under the hard oracle and lets the caller
  * pick the smoothing (e.g. `(sum + prior·m) / (cnt + m)`) downstream.
  *
  * Encoding keys are low-cardinality by nature (role, tool, source), so
  * the naive single window serializes each key's entire history into one
  * task — the mega-key problem. The default here is a [[ChunkedScan]],
  * as in [[graft.ops.Curation.packShards]]: a range frame within (key,
  * time-chunk) plus an exclusive running carry over per-chunk totals, so
  * a key's history parallelizes across chunks. [[targetEncodeSingleWindow]]
  * is kept as the differential twin.
  */
object Encode {

  private def guardedEpoch(ts: Column): Column = {
    val e = ts.cast("long")
    when(e.isNotNull, e).otherwise(raise_error(lit(
      "Encode: null order value — the order column must be non-null")))
  }

  /** Exact integral floor-division (subtract the non-negative remainder
    * first, so trunc-div equals floor-div for negative epochs too, and
    * nothing routes through a double).
    */
  private def floorDiv(v: Column, d: Long): Column =
    call_function("div", v - pmod(v, lit(d)), lit(d))

  /** Adds `cntAs` / `sumAs`: the count and sum of `label` over strictly
    * earlier rows (by `tsCol`) with the same `keys`. Rows whose epoch
    * ties the current row's are excluded on both sides of the tie — a
    * same-instant label is not yet observable. `sumAs` is null when the
    * count is zero (nothing observed yet), mirroring SQL `SUM` over an
    * empty frame.
    *
    * Scale shape: a [[ChunkedScan]] with a strict range frame over
    * `chunkSeconds` chunks — a task is bounded by one chunk of history,
    * not by the key's total volume. Epoch ties cannot straddle a chunk
    * boundary (same epoch ⇒ same chunk), so the strict-exclusion
    * semantics survive the split exactly.
    */
  def targetEncode(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      label: Column,
      chunkSeconds: Long = 86400L,
      cntAs: String = "enc_cnt",
      sumAs: String = "enc_sum"
  ): DataFrame = {
    require(keys.nonEmpty, "targetEncode needs at least one key column")
    require(chunkSeconds > 0, "chunkSeconds must be positive")
    val reserved = Seq(cntAs, sumAs, "__te_epoch", "__te_lbl")
    require(!reserved.exists(df.columns.contains),
      s"targetEncode reserves the column names ${reserved.mkString(", ")}")
    val lbl = col("__te_lbl")
    ChunkedScan(
        df.withColumn("__te_epoch", guardedEpoch(col(tsCol)))
          .withColumn("__te_lbl", label.cast("long")),
        keys, floorDiv(col("__te_epoch"), chunkSeconds), Seq(col("__te_epoch")),
        ChunkedScan.RangeBefore,
        ChunkedScan.Sum(cntAs, when(lbl.isNotNull, 1L).otherwise(0L), lit(0L)),
        ChunkedScan.Sum(sumAs, lbl, lit(0L)))
      .withColumn(sumAs, when(col(cntAs) === 0L, lit(null).cast("long"))
        .otherwise(col(sumAs)))
      .drop("__te_epoch", "__te_lbl")
  }

  /** Single-window reference formulation — one task per key, kept as the
    * differential-test twin (EncodeSpec asserts byte-equality with the
    * two-phase default on random inputs) and for callers whose keys are
    * known small.
    */
  def targetEncodeSingleWindow(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      label: Column,
      cntAs: String = "enc_cnt",
      sumAs: String = "enc_sum"
  ): DataFrame = {
    require(keys.nonEmpty, "targetEncode needs at least one key column")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(guardedEpoch(col(tsCol)))
      .rangeBetween(Window.unboundedPreceding, -1)
    val lbl = label.cast("long")
    df.withColumn(cntAs, coalesce(count(lbl).over(w), lit(0L)))
      .withColumn(sumAs, sum(lbl).over(w))
  }

  /** Exact per-group rank features: for every row, its min-rank among the
    * group's `valueCol` values (`rankAs`, ties share a rank), the group
    * size (`nAs`), and — when `nBuckets > 0` — its equal-frequency
    * quantile bucket `floor(nBuckets·(rank−1)/n)` (`bucketAs`, in
    * `[0, nBuckets)`): the standard discretization / percentile-rank
    * featurization, emitted as exact integers (the caller divides for a
    * float percentile if it wants one).
    *
    * `Window.partitionBy(group).orderBy(value)` would sort each whole
    * group in one task; this instead counts strictly-smaller values with
    * the same chunked frame as [[targetEncode]] (rank−1 IS that
    * count, by definition of min-rank), so a dominant group parallelizes
    * across `valueChunk`-wide value ranges. One extra group-sized
    * aggregate + join supplies n. `valueCol` must be non-null
    * (fail-loud guard, shared with targetEncode).
    */
  def rankInGroup(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      nBuckets: Int = 0,
      valueChunk: Long = 1024L,
      rankAs: String = "rnk",
      nAs: String = "n_group",
      bucketAs: String = "bucket"
  ): DataFrame = {
    require(nBuckets >= 0, "nBuckets must be >= 0 (0 = no bucket column)")
    val reserved = Seq(rankAs, nAs, bucketAs, "__rk_c", "__rk_s")
    require(!reserved.exists(df.columns.contains),
      s"rankInGroup reserves the column names ${reserved.mkString(", ")}")
    val ranked = targetEncode(df, keys, valueCol, lit(1L), valueChunk,
        cntAs = "__rk_c", sumAs = "__rk_s")
      .withColumn(rankAs, col("__rk_c") + 1L)
      .drop("__rk_c", "__rk_s")
    val totals = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as(nAs))
      .select(col(nAs) +: keys.map(k => col(k).as(s"__rk_j_$k")): _*)
    val cond = keys.map(k => ranked(k) <=> totals(s"__rk_j_$k")).reduce(_ && _)
    val joined = ranked.join(totals, cond)
      .drop(keys.map(k => s"__rk_j_$k"): _*)
    if (nBuckets == 0) joined
    else joined.withColumn(bucketAs,
      call_function("div", lit(nBuckets.toLong) * (col(rankAs) - 1L),
        col(nAs)))
  }

  /** Deterministic group k-fold assignment: fold = fmix64-gate(id) mod k,
    * so every row carrying the same id (every turn of a conversation)
    * lands in the same fold — group k-fold with zero cross-fold leakage
    * at the grouping granularity, no stored randomness, reproducible
    * across runs and engines (the oracle replays the gate bit-exactly).
    *
    * `k` must divide 10000 (the gate's basis-point range) so folds are
    * exactly equiprobable over gate values; this also makes folds NEST
    * with [[graft.ops.Curation.sampleStratified]]'s rate gates — fold
    * boundaries are gate-value boundaries.
    *
    * Scale shape: a codegen'd scan-fused projection; zero shuffles,
    * zero state.
    */
  def foldAssign(
      df: DataFrame,
      id: Column,
      k: Int,
      as: String = "fold"
  ): DataFrame = {
    require(k > 1, "foldAssign needs k > 1")
    require(10000 % k == 0,
      s"k=$k must divide 10000 (the sampling-gate range) for exactly " +
        "equiprobable folds — use 2, 4, 5, 8, 10, 16, 20, 25, 40, 50, ...")
    df.withColumn(as, graft.ops.Curation.sampleGateBp(id) % k)
  }
}
