package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.features.ChunkedScan

/** Training-mix curation operators: deterministic stratified sampling
  * (mixture weighting) and token-budget shard packing — the two
  * operations that turn a cleaned corpus into an actual training dataset.
  *
  * Both are exact-integer and order-deterministic, so they sit under the
  * DuckDB oracle like every other operator (q_sample_mix, q_pack_shards).
  */
object Curation {

  private def bridge(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.GraftBridge.column(e)
  private def expr(c: Column) =
    org.apache.spark.sql.GraftBridge.expression(c)

  /** Deterministic per-row sampling gate in [0, 10000) from an int64 id —
    * codegen'd fmix64, no RNG state. Row is in the r-bp sample iff
    * `gate < r`; samples nest across rates.
    */
  def sampleGateBp(id: Column): Column =
    bridge(graft.exprs.SampleHash(expr(id)))

  /** Deterministic global-shuffle key from an int64 id: the full fmix64
    * bijection ([[graft.exprs.ShuffleHash]]). Ordering by it IS the
    * "shuffle the training data" step — uniform, reproducible, seedless,
    * and unique whenever the id is, so it satisfies [[packShards]]'
    * unique-order-column contract directly. When packing on it, pass a
    * `chunkSpan` sized for the full int64 range (e.g. 2^48 → 2^16
    * order-contiguous chunks per stratum): the two-phase cumsum only
    * needs the chunk map to be monotone in the order column, which
    * floor-division keeps even where the double quotient is inexact.
    */
  def shuffleKey(id: Column): Column =
    bridge(graft.exprs.ShuffleHash(expr(id)))

  /** Stratified (mixture-weighted) sampling: keep each row with its
    * stratum's rate, deterministically by id hash. `ratesBp` maps stratum
    * value → keep-rate in basis points (10000 = keep all); strata absent
    * from the map fall back to `defaultBp`.
    *
    * Scale shape: one codegen'd projection + filter, no shuffle, no RNG
    * seeds to coordinate across executors, and fully pushdown-friendly
    * (the gate is a scan-fused predicate). Changing the mixture re-uses
    * the same hash, so raising a stratum's rate only ADDS documents —
    * incremental re-curation touches only the delta.
    */
  def sampleStratified(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      ratesBp: Map[String, Int],
      defaultBp: Int = 0
  ): DataFrame = {
    require((ratesBp.values ++ Seq(defaultBp)).forall(r => r >= 0 && r <= 10000),
      "rates are basis points in 0..10000")
    val rate = ratesBp.foldLeft(lit(defaultBp.toLong)) {
      case (acc, (stratum, bp)) =>
        when(col(strataCol) === stratum, lit(bp.toLong)).otherwise(acc)
    }
    df.filter(sampleGateBp(col(idCol)) < rate)
  }

  /** Deterministic EXACT-k sample per stratum: keep, for each stratum,
    * the k rows with the smallest fmix64 shuffle key — a seedless,
    * coordination-free uniform sample whose size is exactly min(k, n)
    * per stratum (rate-based sampling only hits its size in
    * expectation). Re-running, re-partitioning or re-ordering the input
    * cannot change the selection: the key is a pure function of the id.
    *
    * Scale shape: this is [[packShards]] with every row weighing 1 and
    * budget k — rank-within-stratum via the two-phase cumsum, so a
    * dominant stratum never serializes into one task and no per-stratum
    * sort of real rows ever runs (a `row_number` window would be exactly
    * that). Keep ⇔ the row's 0-based rank in key order < k ⇔ its
    * pack shard is 0.
    */
  def sampleExactPerStratum(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      k: Long
  ): DataFrame = {
    require(k > 0, "k must be positive")
    require(!df.columns.contains("__skey"),
      "sampleExactPerStratum reserves the column name __skey")
    val keyed = df.withColumn("__skey", shuffleKey(col(idCol)))
    packShards(keyed, strataCol, "__skey", lit(1L),
        budgetTokens = k, chunkSpan = 1L << 48)
      .filter(col("shard_seq") === 0L)
      .select(df.columns.map(col).toSeq: _*)
  }

  /** Data-dependent mixture plan: given target mixture weights (basis
    * points per stratum) and a total token budget, compute per stratum
    * how many tokens to take and the deterministic keep-rate that
    * [[sampleByPlan]] applies. All integer arithmetic:
    *
    *   tokens_target = min(tokens_avail, floor(budget * weight_bp / 10000))
    *   rate_bp       = floor(10000 * tokens_target / tokens_avail)   (0 when empty)
    *
    * The budget×weight product is computed as
    * `bp*(budget div 10000) + (bp*(budget mod 10000)) div 10000` —
    * algebraically equal to the floor above but overflow-free at any
    * int64 budget. `rate_bp` assumes `tokens_avail < 2^63/10^4` (≈9×10^14
    * tokens per stratum — two orders of magnitude above a 100 TB corpus).
    *
    * Scale shape: ONE partial-agg shuffle producing a rows-per-stratum
    * frame (tiny), on which the plan math is plain projection. Nothing
    * touches the driver; [[sampleByPlan]] broadcasts the plan back.
    * Undersupplied strata (avail < target) simply keep everything —
    * surfaced by `tokens_target = tokens_avail` rather than silently
    * rescaling other strata, so the caller decides how to re-spread the
    * unused budget (re-run with renormalized weights over the leftovers).
    */
  def mixturePlan(
      df: DataFrame,
      strataCol: String,
      tokens: Column,
      weightsBp: Map[String, Int],
      budgetTokens: Long
  ): DataFrame = {
    require(budgetTokens >= 0, "budgetTokens must be non-negative")
    require(weightsBp.values.forall(w => w >= 0 && w <= 10000),
      "weights are basis points in 0..10000")
    val weight = weightsBp.foldLeft(lit(0L)) { case (acc, (stratum, bp)) =>
      when(col(strataCol) === stratum, lit(bp.toLong)).otherwise(acc)
    }
    val q = budgetTokens / 10000L
    val r = budgetTokens % 10000L
    val idealTarget = col("weight_bp") * q +
      call_function("div", col("weight_bp") * r, lit(10000L))
    df.groupBy(col(strataCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(tokens).as("tokens_avail"),
        max(weight).as("weight_bp")
      )
      .withColumn("tokens_target", least(col("tokens_avail"), idealTarget))
      .withColumn("rate_bp",
        when(col("tokens_avail") > 0,
          call_function("div", col("tokens_target") * 10000L,
            col("tokens_avail")))
          .otherwise(0L))
  }

  /** Apply a [[mixturePlan]]: keep each row iff its deterministic id gate
    * falls under its stratum's planned `rate_bp`. Same fmix64 gate (and
    * therefore the same nesting property) as [[sampleStratified]], but
    * the rates come from DATA, not a hardcoded map — the plan frame is
    * broadcast, so the corpus never shuffles and no rate ever rides
    * through the driver. Strata absent from the plan keep nothing.
    */
  def sampleByPlan(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      plan: DataFrame
  ): DataFrame =
    df.join(
        broadcast(plan.select(col(strataCol), col("rate_bp").as("__rate"))),
        Seq(strataCol), "left")
      .filter(sampleGateBp(col(idCol)) < coalesce(col("__rate"), lit(0L)))
      .drop("__rate")

  /** Neyman (variance-proportional) allocation: split a row budget
    * across strata ∝ n_h·σ_h — the allocation that minimizes the
    * variance of a stratified estimate of `metric`'s mean for a fixed
    * total sample size (Neyman 1934). Flat-rate sampling overspends on
    * big homogeneous strata (web boilerplate) and starves small noisy
    * ones (code, math); this computes, from the data, the rate plan
    * that [[sampleByPlan]] then applies with the usual deterministic
    * fmix64 gate.
    *
    * All plan math is exact except one square root: the Neyman weight
    * n_h·σ_h equals √(n_h·Σx² − (Σx)²) of the EXACT integer variance
    * numerator, evaluated as FLOOR(SQRT(CAST(exact AS DOUBLE))). Both
    * engines convert decimal→double and take IEEE-754 correctly-rounded
    * square roots, so the replay is still bit-stable; the ±1 the double
    * rounding could theoretically cost on a 19-digit numerator shifts an
    * allocation by at most one row. Allocations are floored (never
    * rounded up), capped at n_h, and zero-variance strata get weight 0 —
    * callers wanting a floor compose with `greatest(rate_bp, lit(f))`.
    *
    * Output per stratum: `n_avail`, `w_nsigma` (= ⌊n_h·σ_h⌋), `alloc`
    * (target rows), `rate_bp` (the gate rate, ⌊10^4·alloc/n⌋).
    *
    * Scale shape: ONE partial-agg shuffle for the per-stratum moment
    * sums (count/Σx/Σx² all map-side combinable), then plan math on the
    * |strata|-row frame with the 1-row weight total broadcast back.
    * `budget·w` runs in decimal(38,0): exact for budget·n_h·σ_h < 10^38
    * — beyond any real corpus.
    */
  def neymanPlan(
      df: DataFrame,
      strataCol: String,
      metric: Column,
      budget: Long
  ): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    import graft.ops.ExactU64.{dec38, floorDiv}
    val x = metric.cast("long").cast(dec38)
    val moments = df.groupBy(col(strataCol))
      .agg(
        count(lit(1)).as("n_avail"),
        sum(x).cast(dec38).as("__s1"),
        sum(x * x).cast(dec38).as("__s2"))
      .withColumn("__varnum",
        (col("n_avail").cast(dec38) * col("__s2") -
          col("__s1") * col("__s1")).cast(dec38))
      .withColumn("w_nsigma",
        floor(sqrt(col("__varnum").cast("double"))).cast("long"))
    val tot = moments.agg(sum(col("w_nsigma")).cast(dec38).as("__totw"))
    moments.crossJoin(broadcast(tot))
      .withColumn("alloc",
        when(col("__totw") === 0, lit(0L))
          .otherwise(least(
            col("n_avail"),
            floorDiv(lit(budget).cast(dec38) * col("w_nsigma"),
              col("__totw")).cast("long"))))
      .withColumn("rate_bp",
        call_function("div", col("alloc") * 10000L, col("n_avail")))
      .select(col(strataCol), col("n_avail"), col("w_nsigma"),
        col("alloc"), col("rate_bp"))
  }

  /** Probability-proportional-to-size (PPS) sampling with a
    * deterministic hash threshold: keep a row iff
    *
    *   u(id) · W  <  w · 2^64 · k
    *
    * where u(id) is the row's unsigned fmix64 key, w its weight
    * (e.g. token count), W the stratum's total weight, and k the target
    * expected sample size per stratum. That is exactly "keep with
    * probability min(1, k·w/W)" with the hash as the uniform draw — a
    * weighted sample that is seedless, reproducible, and NESTED in k
    * (k1 < k2 ⇒ sample(k1) ⊆ sample(k2)), with heavy rows (w ≥ W/k)
    * kept with certainty. Output adds the exact inclusion probability
    * as a rational `p_num/p_den = min(k·w, W)/W` for downstream
    * Horvitz–Thompson reweighting.
    *
    * All arithmetic is exact decimal(38,0); the comparison domain needs
    * w·k < 5.4·10^18 (10^38/2^64) — e.g. billion-token documents at
    * k up to 10^9. Negative weights fail loud (packShards' contract).
    *
    * Scale shape: ONE tiny partial-agg shuffle for the per-stratum
    * totals, broadcast back; the keep decision is then a zero-shuffle
    * scan-fused predicate — the corpus itself never shuffles, exactly
    * like [[sampleByPlan]] but weight-proportional instead of uniform.
    */
  def samplePps(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      weight: Column,
      k: Long
  ): DataFrame = {
    require(k > 0, "k (expected sample size per stratum) must be positive")
    val reserved = Seq("__w", "__wtot", "__u", "__stot", "p_num", "p_den")
    require(!reserved.exists(df.columns.contains),
      s"samplePps reserves the column names ${reserved.mkString(", ")}")
    import graft.ops.ExactU64.{dec38, two64, unsignedDec}
    val guarded = when(weight >= 0L, weight).otherwise(raise_error(concat(
      lit("samplePps: negative weight "), weight.cast("string"),
      lit(" — weights must be >= 0"))))
    val weighted = df.withColumn("__w", guarded.cast("long").cast(dec38))
    val totals = weighted.groupBy(col(strataCol))
      .agg(sum(col("__w")).as("__wtot"))
      .withColumnRenamed(strataCol, "__stot")
    val u = unsignedDec(shuffleKey(col(idCol)))
    weighted
      // null-safe stratum match: a NULL stratum is its own stratum and
      // samples against its own total — an inner equi-join would
      // silently drop every null-stratum row
      .join(broadcast(totals), col(strataCol) <=> col("__stot"))
      .filter(u * col("__wtot") < col("__w") * two64 * lit(k).cast(dec38))
      .withColumn("p_num", least(col("__w") * lit(k).cast(dec38), col("__wtot")))
      .withColumn("p_den", col("__wtot"))
      .drop("__w", "__wtot", "__stot")
  }

  /** Deterministic negative sampling for contrastive training: for each
    * anchor row, `k` pseudo-uniform OTHER ids drawn by hashing — no RNG
    * state, reproducible across runs/partitions/engines, and each
    * epoch's draw changes by shifting the salt index base. Negative j of
    * anchor a is
    *
    *   neg_j(a) = (fmix64(a ⊕ j·φ) >>> 1) mod N
    *
    * (the [[graft.exprs.BloomImpl]] probe geometry — non-negative signed
    * domain, replayable by checked-shift engines). Accidental
    * self-draws (neg = anchor, expected k/N of rows) are dropped rather
    * than re-rolled, so output size is exactly k·N − |collisions| and
    * every row is independent of every other — re-rolling would chain
    * draws and break per-row replay.
    *
    * Ids must be DENSE [0, N): the draw indexes the id space directly,
    * which is what keeps this a zero-shuffle scan projection (N rides
    * in on a broadcast single-row count, never through the driver). For
    * sparse ids, compose with a dense-rank relabeling first.
    */
  def negativeSample(
      df: DataFrame,
      idCol: String,
      k: Int
  ): DataFrame = {
    require(k > 0 && k <= 64, "k must be in [1, 64]")
    require(!df.columns.contains("__n"),
      "negativeSample reserves the column name __n")
    val n = df.agg(count(lit(1)).as("__n"))
    val salts = (0 until k).map(j => j.toLong * graft.exprs.BloomImpl.Phi)
    df.crossJoin(broadcast(n))
      .select(col(idCol), col("__n"),
        explode(array(salts.zipWithIndex.map { case (s, j) =>
          struct(lit(j).as("neg_idx"), lit(s).as("__salt"))
        }: _*)).as("__x"))
      .select(col(idCol), col("__x.neg_idx").as("neg_idx"),
        (shiftrightunsigned(
          shuffleKey(col(idCol).bitwiseXOR(col("__x.__salt"))), 1)
          % col("__n")).as("neg_id"))
      .filter(col("neg_id") =!= col(idCol))
  }

  /** Assemble training sequences from transcript turns: greedily pack
    * each conversation's non-null-text turns, in (orderCol) order, into
    * sequences of at most `maxTokens` regex-counted tokens (a turn that
    * would overflow starts the next sequence — [[packShards]]' contract
    * with the conversation as the stratum), then materialize one row per
    * sequence with the newline-joined text. This is the example-assembly
    * step between a curated corpus and a tokenizer: dataloaders consume
    * (conv_id, seq_id) → text.
    *
    * Scale shape: the pack inherits packShards' two-phase cumsum (no
    * single-task stratum even for a mega-conversation) and the assembly
    * groupBy is keyed (conv, seq) — each group is at most one
    * conversation's slice of `maxTokens`-ish tokens, so the collected
    * struct array is budget-bounded, not data-bounded.
    */
  def assembleSequences(
      turns: DataFrame,
      convCol: String,
      orderCol: String,
      textCol: String,
      maxTokens: Long
  ): DataFrame = {
    val packed = packShards(
      turns.filter(col(textCol).isNotNull),
      strataCol = convCol,
      orderCol = orderCol,
      tokens = TextStats.regexTokenCount(col(textCol)),
      budgetTokens = maxTokens)
    packed
      .groupBy(col(convCol), col("shard_seq").as("seq_id"))
      .agg(
        count(lit(1)).as("n_turns"),
        sum(col("n_tokens")).as("seq_tokens"),
        array_join(
          transform(
            sort_array(collect_list(
              struct(col(orderCol).as("o"), col(textCol).as("t")))),
            x => x.getField("t")),
          "\n").as("seq_text")
      )
  }

  /** Deterministic mixture INTERLEAVE schedule over a shard manifest —
    * the order a trainer consumes packed shards so that stratum s
    * appears with frequency ∝ its mixture weight, smoothly (no long
    * single-stratum runs), reproducibly, with no RNG. This is stride
    * scheduling in closed form: shard j of stratum s is consumed at
    * virtual time
    *
    *   sched_key = (j + 1) · 10^8 div w_bp(s)
    *
    * and `global_pos` is the ascending rank of (sched_key, stratum,
    * shard) — exactly the emission order of a stateful stride scheduler,
    * computed statelessly so any engine replays it (q_interleave).
    * Strata with weight 0 (or absent with defaultBp = 0) are excluded.
    *
    * Scale shape: this operates on the shard MANIFEST — file-count-
    * sized, not row-count-sized (100 TB at 1 GB shards ≈ 10^5 rows), so
    * the one global rank window is a deliberately tiny single task; the
    * corpus itself is never touched. Overflow-safe to ~9·10^10 shards
    * per stratum ((j+1)·10^8 within int64).
    */
  def interleaveSchedule(
      shards: DataFrame,
      strataCol: String,
      shardCol: String,
      weightsBp: Map[String, Int],
      defaultBp: Int = 0
  ): DataFrame = {
    require((weightsBp.values ++ Seq(defaultBp)).forall(w => w >= 0 && w <= 10000),
      "weights are basis points in 0..10000")
    val reserved = Seq("__w", "sched_key", "global_pos")
    require(!reserved.exists(shards.columns.contains),
      s"interleaveSchedule reserves the column names ${reserved.mkString(", ")}")
    val w = weightsBp.foldLeft(lit(defaultBp.toLong)) {
      case (acc, (stratum, bp)) =>
        when(col(strataCol) === stratum, lit(bp.toLong)).otherwise(acc)
    }
    // fail loud outside [0, Long.MaxValue/10^8 - 1]: a negative shard
    // number would sort before every legitimate key and an overflowing
    // one would wrap — both silently corrupt the schedule otherwise
    val maxShard = Long.MaxValue / 100000000L - 1L
    val guarded = {
      val sl = col(shardCol).cast("long")
      when(sl >= 0L && sl <= maxShard, sl).otherwise(raise_error(concat(
        lit(s"interleaveSchedule: shard number out of [0, $maxShard]: "),
        sl.cast("string"))))
    }
    val win = Window.orderBy(col("sched_key"), col(strataCol), col(shardCol))
    shards.withColumn("__w", w)
      .filter(col("__w") > 0L)
      .withColumn("sched_key",
        call_function("div", (guarded + 1L) * 100000000L, col("__w")))
      .withColumn("global_pos", row_number().over(win).cast("long"))
      .drop("__w")
  }

  /** Token-budget shard packing: assign each document (ordered by
    * `orderCol` within its `strataCol` group) to training shard
    * `floor(exclusive_cumsum(tokens) / budget)`. A document whose tokens
    * straddle a boundary belongs to the shard where it STARTS, so a shard
    * may overrun the budget by at most one document (and a document
    * larger than the whole budget still lands in exactly one shard) —
    * the standard streaming-packer contract, stated rather than hidden.
    *
    * Scale shape — mega-stratum safe: real training mixtures are
    * dominated by one stratum (web ≈ 80%), so a per-stratum window would
    * serialize tens of TB into one task. The exclusive cumsum is a
    * [[graft.features.ChunkedScan]] over order-contiguous chunks
    * (`floor(orderCol / chunkSpan)`), so no task ever sorts more than one
    * chunk of real rows; byte-equality with the single-window
    * formulation is tested in CurationSpec.
    *
    * `orderCol` must be numeric or timestamp (anything whose long cast is
    * order-preserving) and unique within its stratum. Token counts must
    * be non-negative: a negative count would make the cumulative sum dip
    * and `shard_seq` diverge from the documented floor contract, so the
    * packing FAILS LOUD on one (raise_error) instead of mis-sharding.
    */
  def packShards(
      df: DataFrame,
      strataCol: String,
      orderCol: String,
      tokens: Column,
      budgetTokens: Long,
      chunkSpan: Long = 4096L
  ): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    require(chunkSpan > 0, "chunkSpan must be positive")
    val reserved = Seq("n_tokens", "shard_seq", "__pstart")
    require(!reserved.exists(df.columns.contains),
      s"packShards reserves the column names ${reserved.mkString(", ")}")
    // integral `div`, not float `/`: a stratum's cumulative token sum at
    // 100 TB can pass 2^53, where a double quotient misplaces boundary
    // documents — keep the module's exact-integer contract
    tokenStarts(df, strataCol, orderCol, tokens, chunkSpan, "packShards")
      .withColumn("shard_seq",
        call_function("div", col("__pstart"), lit(budgetTokens)).cast("long"))
      .drop("__pstart")
  }

  /** `tokens`, failing loud (raise_error, naming `op`) when negative. */
  private def nonNegative(tokens: Column, op: String): Column =
    when(tokens >= 0L, tokens).otherwise(raise_error(concat(
      lit(s"$op: negative token count "), tokens.cast("string"),
      lit(" — token counts must be >= 0"))))

  /** `df` plus `n_tokens` (the [[nonNegative]] token count) and
    * `__pstart`, the exclusive running token sum per stratum in
    * `orderCol` order — a [[graft.features.ChunkedScan]] over
    * `floor(orderCol / chunkSpan)` chunks.
    */
  private def tokenStarts(
      df: DataFrame,
      strataCol: String,
      orderCol: String,
      tokens: Column,
      chunkSpan: Long,
      op: String
  ): DataFrame =
    ChunkedScan(df.withColumn("n_tokens", nonNegative(tokens, op)),
      Seq(strataCol), floor(col(orderCol).cast("long") / chunkSpan),
      Seq(col(orderCol)), ChunkedScan.RowsBefore,
      ChunkedScan.Sum("__pstart", col("n_tokens"), lit(0L)))

  /** Length-bucketed dataloader BATCHES with padding-waste accounting —
    * the dynamic-batching step between packed shards and the trainer:
    * batching similar-length rows together is what keeps padding (dead
    * FLOPs) low, and the waste number is the gauge that justifies the
    * bucket edges. Rows are bucketed by `bucketEdges` (bucket = how many
    * edges ≤ length, i.e. searchsorted — 0 is "below the first edge"),
    * then batched WITHIN each bucket in `idCol` order, `batchSize` rows
    * per batch (the last batch of a bucket runs short). Output is one row
    * per batch: size, length min/max/sum, and
    * `pad_waste = n·max_len − sum_len` — the exact padded-token overhead
    * of batching these rows together (the short final batch pads to its
    * OWN max, stated not hidden).
    *
    * Scale shape: the bucketize is a scan-fused when-chain projection;
    * the within-bucket rank is [[packShards]] with every row weighing 1
    * (two-phase — a dominant bucket never serializes); the batch summary
    * is one partial-agg shuffle, output batch-count-sized.
    *
    * A NULL length fails every edge comparison and lands in bucket 0
    * with null min/max/sum stats — treat lengths as non-null (coalesce
    * upstream) for meaningful padding numbers.
    */
  def batchByLength(
      df: DataFrame,
      idCol: String,
      lengths: Column,
      batchSize: Int,
      bucketEdges: Seq[Long]
  ): DataFrame = {
    require(batchSize > 0, "batchSize must be positive")
    require(bucketEdges.nonEmpty && bucketEdges == bucketEdges.sorted &&
      bucketEdges.distinct.size == bucketEdges.size,
      "bucketEdges must be non-empty, strictly ascending")
    val reserved = Seq("len_bucket", "batch_seq", "__blen")
    require(!reserved.exists(df.columns.contains),
      s"batchByLength reserves the column names ${reserved.mkString(", ")}")
    val bucket = bucketEdges
      .map(e => when(lengths >= e, 1L).otherwise(0L))
      .reduce(_ + _)
    val keyed = df
      .withColumn("__blen", lengths.cast("long"))
      .withColumn("len_bucket", bucket)
    packShards(keyed, strataCol = "len_bucket", orderCol = idCol,
        tokens = lit(1L), budgetTokens = batchSize.toLong)
      .groupBy(col("len_bucket"), col("shard_seq").as("batch_seq"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("__blen")).as("min_len"),
        max(col("__blen")).as("max_len"),
        sum(col("__blen")).as("sum_len"))
      .withColumn("pad_waste",
        col("n_rows") * col("max_len") - col("sum_len"))
  }

  /** GLOBAL 0-based rank by (orderCol, tieCol) — the curriculum-ordering
    * primitive: "sort the whole corpus by difficulty and number it" —
    * WITHOUT the single-task global window `row_number().over(orderBy)`
    * degenerates into. Output adds `global_rank` (dense 0..n-1 iff
    * (orderCol, tieCol) is unique, which the caller must guarantee — a
    * unique id tiebreak does) and `phase` = floor(rank · nPhases / n),
    * the equal-size curriculum phase index in [0, nPhases).
    *
    * Scale shape — the [[packShards]] chunked cumsum applied to COUNTS:
    * global_rank is the count of rows strictly before in (orderCol,
    * tieCol) order, a keyless [[graft.features.ChunkedScan]] over
    * order-contiguous chunks (`floor(orderCol / chunkSpan)`; the long
    * cast and floor-div are both monotone, so chunk order is rank order).
    * No task ever sorts more than one chunk of real rows; a value so hot
    * that one chunk dominates needs a smaller `chunkSpan` (the chunk map
    * only has to be monotone in orderCol).
    *
    * `n` rides in on a broadcast single-row count (never the driver),
    * exactly like [[negativeSample]]'s N.
    */
  def globalRank(
      df: DataFrame,
      orderCol: String,
      tieCol: String,
      nPhases: Int = 1,
      chunkSpan: Long = 4096L
  ): DataFrame = {
    require(nPhases > 0, "nPhases must be positive")
    require(chunkSpan > 0, "chunkSpan must be positive")
    val reserved = Seq("global_rank", "phase", "__gn")
    require(!reserved.exists(df.columns.contains),
      s"globalRank reserves the column names ${reserved.mkString(", ")}")
    val n = df.agg(count(lit(1)).as("__gn"))
    // the 0-based rank is the count of rows strictly before, keyless:
    // the carry window is the only unpartitioned one, over one row per
    // chunk — deliberately tiny, like interleaveSchedule's manifest rank
    ChunkedScan(df, Nil, floor(col(orderCol).cast("long") / chunkSpan),
        Seq(col(orderCol), col(tieCol)), ChunkedScan.RowsBefore,
        ChunkedScan.Sum("global_rank", lit(1L), lit(0L)))
      .crossJoin(broadcast(n))
      // integral div: rank·nPhases stays exact where a double ratio of
      // 10^12-row ranks would round phase boundaries
      .withColumn("phase",
        call_function("div", col("global_rank") * nPhases, col("__gn"))
          .cast("long"))
      .drop("__gn")
  }

  /** Single-window reference formulation of [[packShards]] — one task per
    * stratum, kept as the differential-test twin (CurationSpec asserts
    * byte-equality with the two-phase default on random inputs) and for
    * callers with many small strata who want the simpler plan.
    */
  def packShardsSingleWindow(
      df: DataFrame,
      strataCol: String,
      orderCol: String,
      tokens: Column,
      budgetTokens: Long
  ): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    require(!df.columns.contains("n_tokens") &&
      !df.columns.contains("shard_seq"),
      "packShards reserves the column names n_tokens and shard_seq")
    val w = Window.partitionBy(col(strataCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("n_tokens", nonNegative(tokens, "packShards"))
      .withColumn("shard_seq",
        call_function("div",
          coalesce(sum(col("n_tokens")).over(w), lit(0L)),
          lit(budgetTokens)).cast("long"))
  }

  /** [[packShards]] plus each document's [start, end) TOKEN OFFSETS
    * within its shard — the attention-mask boundary table for packed
    * pretraining: trainers that concatenate documents into one sequence
    * per shard need exactly these offsets to zero cross-document
    * attention and to index spans back to documents. `tok_start` is the
    * exclusive within-shard cumsum of token counts in `orderCol` order;
    * `tok_end = tok_start + n_tokens`; a shard's first document starts
    * at 0 (the shard boundary resets the offset even though the
    * stratum-level cumsum keeps running).
    *
    * Scale shape: the pack is the two-phase cumsum; the offset window is
    * partitioned by (stratum, shard_seq) — each group holds one shard's
    * documents, budget-bounded by construction, so no mega-key exists by
    * definition.
    */
  def packOffsets(
      df: DataFrame,
      strataCol: String,
      orderCol: String,
      tokens: Column,
      budgetTokens: Long
  ): DataFrame = {
    require(!df.columns.contains("tok_start") &&
      !df.columns.contains("tok_end"),
      "packOffsets reserves the column names tok_start and tok_end")
    val packed = packShards(df, strataCol, orderCol, tokens, budgetTokens)
    val w = Window.partitionBy(col(strataCol), col("shard_seq"))
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    packed
      .withColumn("tok_start",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("tok_end", col("tok_start") + col("n_tokens"))
  }

  /** Materialize packed training shards: [[packShards]] then write ONE
    * parquet file per (stratum, shard) directory —
    * `out/<strataCol>=…/shard_seq=…/part-….parquet` — which is the layout
    * a training dataloader consumes (one sequential file per shard, shards
    * enumerable by listing). The repartition on (stratum, shard) routes
    * each shard's rows to exactly one task, so each directory holds
    * exactly one file; rows inside it are sorted by `orderCol`.
    *
    * Readback note: parquet partition-value inference types `shard_seq`
    * as INT — cast it back to long (the q_write_shards roundtrip oracle
    * does exactly this), and remember partition columns return at the END
    * of the readback schema.
    */
  def writeShards(
      df: DataFrame,
      strataCol: String,
      orderCol: String,
      tokens: Column,
      budgetTokens: Long,
      outDir: String
  ): Unit =
    // explicit count: see Layout.compactExec — keeps the partitioned
    // write parallel instead of AQE-coalescing it to one task
    packShards(df, strataCol, orderCol, tokens, budgetTokens)
      .repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        .toInt, col(strataCol), col("shard_seq"))
      .sortWithinPartitions(col(strataCol), col("shard_seq"), col(orderCol))
      .write
      .partitionBy(strataCol, "shard_seq")
      .mode("overwrite")
      .parquet(outDir)

  /** Exact-boundary "concat-and-chop" packing: the GPT-style pretraining
    * layout where each stratum's token stream is conceptually
    * concatenated in `orderCol` order and cut every `budgetTokens`
    * tokens, documents SPLITTING across boundaries — unlike
    * [[packShards]] (whole documents, stated overrun), every shard here
    * holds exactly `budgetTokens` tokens (the stratum's last shard runs
    * short). Emits one row per (document, shard) PIECE:
    *
    *   shard_seq      shard this piece lands in
    *   piece_seq      0-based piece index within the document
    *   tok_start/end  the piece's [start, end) WITHIN its shard
    *   doc_tok_start/end  the piece's [start, end) within the DOCUMENT
    *                  (what the loader actually slices)
    *
    * Zero-token documents emit one empty piece ([x, x)) in the shard the
    * cut position falls in — present, never silently dropped. Pieces of
    * one document tile [0, n) exactly and each shard's pieces tile
    * [0, budget) exactly (both property-tested); piece 0 lands in the
    * same shard [[packShards]] assigns, so the two layouts agree on
    * where a document starts.
    *
    * Scale shape: the same mega-stratum-safe chunked exclusive cumsum
    * as [[packShards]], then a scan-fused explode over the piece range. A document
    * spanning p shards inherently emits p rows — documents that could
    * approach the shard count should be pre-chopped
    * ([[TextStats.chunkWords]]) so no single input row fans out
    * unboundedly. Token counts must be non-negative (fails loud).
    */
  def packSplit(
      df: DataFrame,
      strataCol: String,
      orderCol: String,
      tokens: Column,
      budgetTokens: Long,
      chunkSpan: Long = 4096L
  ): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    require(chunkSpan > 0, "chunkSpan must be positive")
    val reserved = Seq("n_tokens", "shard_seq", "piece_seq", "tok_start",
      "tok_end", "doc_tok_start", "doc_tok_end", "__pstart")
    require(!reserved.exists(df.columns.contains),
      s"packSplit reserves the column names ${reserved.mkString(", ")}")
    val b = lit(budgetTokens)
    val g = col("__pstart")
    val s0 = call_function("div", g, b)
    val s1 = when(col("n_tokens") === 0L, s0)
      .otherwise(call_function("div", g + col("n_tokens") - 1L, b))
    val pstart = greatest(g, col("shard_seq") * b)
    val pend = least(g + col("n_tokens"), (col("shard_seq") + 1L) * b)
    tokenStarts(df, strataCol, orderCol, tokens, chunkSpan, "packSplit")
      .withColumn("shard_seq", explode(sequence(s0, s1)))
      .withColumn("piece_seq", (col("shard_seq") - s0).cast("long"))
      .withColumn("tok_start", pstart - col("shard_seq") * b)
      .withColumn("tok_end", pend - col("shard_seq") * b)
      .withColumn("doc_tok_start", pstart - g)
      .withColumn("doc_tok_end", pend - g)
      .drop("__pstart")
  }

  /** DSIR-style hashed importance scoring for TARGET-DOMAIN data
    * selection ("Data Selection for Language Models via Importance
    * Resampling", Xie et al. 2023): score every corpus document by how
    * much its hashed token profile resembles a TARGET corpus relative
    * to the raw corpus itself — the step that picks "looks like my
    * eval domain" data out of a web crawl. The pointwise
    * log-likelihood-ratio weight is computed as the exact-integer
    * whole-bit surrogate
    *
    *   w(b)  = bitlen(t_b) − bitlen(T) − bitlen(r_b) + bitlen(R)
    *   score = Σ_tokens w(bucket(token))
    *
    * where t_b / r_b are the (+1-smoothed) per-bucket token counts of
    * the target / raw corpus, T / R their smoothed totals, bucket(·)
    * the same vocabulary-free hashing trick as
    * [[TextStats.featureHash]] (rolling hash mod `dims`), and
    * bitlen(x) = length(bin(x)) — the engine-portable floor(log2 x)+1
    * idiom the HLL rho and the log2 histogram already rely on. w is
    * log2(t_b/T) − log2(r_b/R) rounded to whole bits: monotone in the
    * true ratio and bit-replayable by the DuckDB oracle, where a float
    * log would put the selection boundary on engine-dependent rounding.
    *
    * Output: one row per corpus document — (idCol, n_tokens, score,
    * selected) with selected ⇔ score ≥ `minScore` (default 1: its
    * tokens are more target-like than raw-like at whole-bit
    * granularity; raise it to tighten selection toward the target
    * mode). Token-less documents score 0. Callers wanting a fixed
    * budget instead of a threshold feed `score` to the two-phase
    * top-k/rank family rather than re-deriving it. When the target IS
    * a subset of the corpus and distributionally indistinguishable
    * from it, scores sit at ≈ 0 — the correct "nothing to select on"
    * answer, not a failure. Note the count column is named `n_tokens`,
    * which [[packShards]] reserves — `.drop("n_tokens")` before
    * packing the selection.
    *
    * Scale shape: each profile is a dims-bounded aggregate (≤ `dims`
    * rows, ONE partial-agg shuffle over its token stream); the weight
    * table (≤ dims rows) is BROADCAST back onto the corpus token
    * stream, so scoring is a map-side hash join + one doc-keyed
    * partial agg — corpus tokens never shuffle for the weights. Counts
    * stay < 2^63 past 10^18 tokens.
    */
  def dsirScores(
      corpus: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      dims: Int = 64,
      minScore: Long = 1L
  ): DataFrame = {
    require(dims > 0, "dims must be positive")
    def bitlen(c: Column): Column = length(bin(c)).cast("long")
    def toks(df: DataFrame, keep: Seq[Column]): DataFrame =
      df.select(keep :+ explode(Dedup.words(col(textCol))).as("__term"): _*)
        .filter(col("__term") =!= "")
        .withColumn("__bucket",
          (TextStats.rollingFingerprint(col("__term")) % dims).cast("long"))
        .drop("__term")
    // +1 smoothing over ALL dims buckets, so a bucket absent from one
    // side still carries a finite weight instead of dropping its tokens
    def profile(df: DataFrame, cnt: String): DataFrame =
      corpus.sparkSession.range(0, dims).select(col("id").as("__bucket"))
        .join(toks(df, Nil).groupBy(col("__bucket"))
                .agg(count(lit(1)).as("__n")),
              Seq("__bucket"), "left")
        .select(col("__bucket"),
          (coalesce(col("__n"), lit(0L)) + 1L).as(cnt))
    val tp = profile(target, "__t")
    val rp = profile(corpus, "__r")
    val weights = tp.join(rp, Seq("__bucket"))
      .crossJoin(broadcast(tp.agg(sum(col("__t")).as("__tt"))))
      .crossJoin(broadcast(rp.agg(sum(col("__r")).as("__rt"))))
      .select(col("__bucket"),
        (bitlen(col("__t")) - bitlen(col("__tt"))
          - bitlen(col("__r")) + bitlen(col("__rt"))).as("__w"))
    val scored = toks(corpus, Seq(col(idCol)))
      .join(broadcast(weights), Seq("__bucket"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__nt"), sum(col("__w")).as("__score"))
    corpus.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__nt"), lit(0L)).as("n_tokens"),
        coalesce(col("__score"), lit(0L)).as("score"),
        (coalesce(col("__score"), lit(0L)) >= minScore).as("selected"))
  }

  /** Greedy MAXIMUM-COVERAGE selection — pick `k` documents whose
    * distinct-word union covers as much of the corpus vocabulary as
    * possible (eval-set / exemplar construction by COVERAGE, the set
    * function [[graft.ops.Similarity.mmrSelect]]'s embedding-diversity
    * objective cannot express). Coverage is monotone submodular, so the
    * greedy sweep carries Nemhauser–Wolsey–Fisher's (1 − 1/e) guarantee
    * — and greedy is inherently sequential in k, so the loop runs k
    * rounds, each ONE distributed job: uncovered candidate terms
    * (word-keyed LEFT ANTI join against the covered set — which stays
    * DATA, rebuilt from the ≤ k selected ids each round so plan lineage
    * never deepens), one partial-agg gain count, one
    * TakeOrderedAndProject argmax collecting a single row (ties by id —
    * deterministic, oracle-replayable). Documents contributing zero new
    * terms can never be picked (the anti-join erases them); selection
    * stops early when coverage is saturated.
    *
    * Returns (rank, doc_id, gain) in selection order, gain = the number
    * of first-covered terms the pick contributed.
    */
  def coverageSelect(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    def terms(d: DataFrame) = d
      .select(col(idCol).as("__id"),
        explode(Dedup.words(col(textCol))).as("__w"))
      .filter(col("__w") =!= "")
      .distinct()
    val t = terms(df)
    var sel = Vector.empty[(Int, Long, Long)]
    var exhausted = false
    for (r <- 1 to k if !exhausted) {
      val selIds = sel.map(_._2)
      val cand = t.filter(!col("__id").isin(selIds: _*))
      val remaining =
        if (selIds.isEmpty) cand
        else cand.join(
          t.filter(col("__id").isin(selIds: _*)).select(col("__w")).distinct(),
          Seq("__w"), "left_anti")
      val top = remaining.groupBy(col("__id"))
        .agg(count(lit(1)).as("__g"))
        .orderBy(col("__g").desc, col("__id").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else sel :+= ((r, top.head.getLong(0), top.head.getLong(1)))
    }
    sel.toDF("rank", "doc_id", "gain")
  }
}
