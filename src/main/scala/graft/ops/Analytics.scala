package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.features.ChunkedScan

/** Dataset-level analytics a curation pipeline runs before and after
  * every transform: per-column profiles (the schema-drift / data-quality
  * gate), exact histograms (distribution eyeballing at any scale), and
  * exact per-group outlier flags (the "this document is 40σ long"
  * filter). All exact-integer / binary-collation outputs so each sits
  * under the hard DuckDB oracle — no floats, no sampling.
  */
object Analytics {

  /** One-pass column profiler: for each requested column, its row count,
    * null count, exact distinct count, and min/max rendered as strings
    * (binary collation — both engines compare UTF-8 bytes). The
    * before/after pair of these rows is the cheapest regression test a
    * pipeline stage can have.
    *
    * Scale shape: ONE aggregation over the scan. Multiple exact
    * count(distinct) columns plan as a single Expand + two-level
    * partial agg (rows × |cols| intermediate, key-only payload) — the
    * standard exact-distinct trade; swap in [[Sketches.kmvBuild]] when
    * approximate is acceptable. The unpivot to one row per column is a
    * driver-free inline explode of a |cols|-element array.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"no such column(s): ${missing.mkString(", ")}")
    val aggs = count(lit(1)).as("__n") +: cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__nn_$c"),
        count_distinct(col(c)).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val entries = cols.map { c =>
      struct(
        lit(c).as("column_name"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"__nn_$c")).as("n_nulls"),
        col(s"__nd_$c").as("n_distinct"),
        col(s"__mn_$c").as("min_str"),
        col(s"__mx_$c").as("max_str"))
    }
    one.select(explode(array(entries: _*)).as("p")).select(col("p.*"))
  }

  /** Exact equal-width histogram: per (keys, bin) the row count and the
    * observed value min/max inside the bin. `bin = floor(value/width)`
    * computed with integer arithmetic (subtract the non-negative `pmod`
    * remainder, then divide exactly) so negative values bin correctly
    * and no float rounding can move a boundary value across bins.
    * (Values within `width` of Long.MinValue would underflow the
    * subtraction — ANSI mode fails loud there rather than mis-binning.)
    * Scan-fused projection + one partial-agg shuffle keyed by
    * (keys, bin) — output is bounded by the number of OCCUPIED bins.
    */
  def histogram(
      df: DataFrame,
      value: Column,
      width: Long,
      keys: Seq[String] = Nil
  ): DataFrame = {
    require(width > 0, "bin width must be positive")
    val v = value.cast("long")
    // exact integral division (Spark's `/` would go through double):
    // the numerator is a multiple of width, so trunc-div == floor-div
    val bin = call_function("div", v - pmod(v, lit(width)), lit(width)).as("bin")
    df.filter(v.isNotNull)
      .groupBy(keys.map(col) :+ (bin: Column): _*)
      .agg(
        count(lit(1)).as("n"),
        min(v).as("v_min"),
        max(v).as("v_max"))
  }

  /** Exact per-group outlier flag: marks rows where
    * `(value − mean)² > z² · variance_pop` of the row's group — algebra
    * cleared of divisions and square roots so it stays on integers:
    * `(n·x − s)² > z² · (n·q − s²)` with s = Σx, q = Σx². Computed in
    * decimal(38,0) (the oracle replays in HUGEINT); exact for
    * |value| ≤ ~10⁹ at up to ~10¹⁰ rows per group — the caller's
    * contract, checked at analysis time only by the decimal domain
    * (Spark nulls on decimal overflow rather than corrupting).
    *
    * Note the strict `>`: a group with zero variance (all values equal,
    * including singletons) flags nothing. Scale shape: one key-only
    * stats agg (3 sums) + a broadcast-sized join back — group count
    * rows, never data rows, cross the second exchange.
    */
  def outliers(
      df: DataFrame,
      keys: Seq[String],
      value: Column,
      z2: Int
  ): DataFrame = {
    require(keys.nonEmpty, "outliers needs grouping keys")
    require(z2 > 0, "z² must be positive")
    val d = ExactU64.dec38
    val x = value.cast("long").cast(d)
    val stats = df
      .filter(value.isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).cast(d).as("__gn"),
        sum(x).as("__gs"),
        sum(x * x).as("__gq"))
    val lhs = (col("__gn") * x - col("__gs")) * (col("__gn") * x - col("__gs"))
    val rhs = lit(z2).cast(d) *
      (col("__gn") * col("__gq") - col("__gs") * col("__gs"))
    df.filter(value.isNotNull)
      .join(stats, keys)
      .withColumn("is_outlier", lhs > rhs)
      .drop("__gn", "__gs", "__gq")
  }

  /** Distribution-drift sufficient statistics between two slices of one
    * table (train vs serve, yesterday vs today): per equal-width bin of
    * `value`, the reference/current row counts, both slice totals, and
    * the exact proportion-shift numerator
    * `delta_num = n_cur·tot_ref − n_ref·tot_cur` (decimal(38,0), so its
    * sign/zero test is exact — `delta_num / (tot_ref·tot_cur)` IS
    * `p_cur − p_ref`). PSI / KL / chi² are one float expression away
    * downstream; everything emitted here is integer-exact and oracled.
    *
    * Scale shape: ONE (bin)-keyed partial agg over the scan — the slice
    * split is a conditional count inside the aggregate, so bins present
    * in only one slice zero-fill for free (no outer join). Totals ride a
    * 1-row broadcast back onto the bin frame.
    */
  def driftStats(
      df: DataFrame,
      isRef: Column,
      value: Column,
      width: Long
  ): DataFrame = {
    require(width > 0, "bin width must be positive")
    val v = value.cast("long")
    val bin = call_function("div", v - pmod(v, lit(width)), lit(width))
    driftStatsBy(df.filter(v.isNotNull), isRef, bin.as("bin"))
  }

  /** [[driftStats]] for an arbitrary slice key — categorical drift
    * (language mix, source mix, tool mix) uses the column itself as the
    * key instead of a numeric bin. NULL keys are dropped (they carry no
    * category); NULL slice flags likewise. Same one-shuffle shape.
    */
  def driftStatsBy(
      df: DataFrame,
      isRef: Column,
      key: Column
  ): DataFrame = {
    val d = ExactU64.dec38
    val bins = df
      .filter(key.isNotNull && isRef.isNotNull)
      .select(key, isRef.as("__r"))
      .groupBy(df.select(key).columns.head)
      .agg(
        sum(when(col("__r"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col("__r"), 1L).otherwise(0L)).as("n_cur"))
    // slice totals via an unpartitioned window over the BIN frame — a
    // deliberate single task over |occupied bins| rows (bounded by the
    // key's cardinality, not the corpus), which keeps the corpus scan
    // at exactly ONE pass; an `agg + join back` here would re-derive
    // the bin lineage and scan the data twice in the static plan
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    bins
      .withColumn("tot_ref", sum(col("n_ref")).over(w))
      .withColumn("tot_cur", sum(col("n_cur")).over(w))
      .withColumn(
        "delta_num",
        col("n_cur").cast(d) * col("tot_ref").cast(d) -
          col("n_ref").cast(d) * col("tot_cur").cast(d))
  }

  /** Min-max feature scaling to integer basis points: per group,
    * `scaled_bp = floor(scaleBp · (x − min) / (max − min))` — 0 at the
    * group minimum, `scaleBp` at the maximum, monotone in between, all
    * in integer arithmetic (subtract the `pmod` remainder before the
    * division so trunc-div equals floor-div even mid-range). A
    * degenerate group (max == min, including singletons) scales to
    * NULL — there is no order information to preserve, and 0 would
    * masquerade as "at the minimum".
    *
    * The numerator `(x − min) · scaleBp` is computed in decimal(38,0)
    * (output stays long — integral division narrows back), so the full
    * int64 value domain is safe at any scaleBp ≤ 10⁹ — scaling an
    * epoch-micros feature cannot overflow the way a raw long multiply
    * would.
    *
    * Scale shape: identical to [[outliers]] — one key-only min/max agg,
    * then a broadcast-sized join back; data rows cross one exchange.
    */
  def minMaxScaleBp(
      df: DataFrame,
      keys: Seq[String],
      value: Column,
      scaleBp: Long = 10000L
  ): DataFrame = {
    require(keys.nonEmpty, "minMaxScaleBp needs grouping keys")
    require(scaleBp > 0, "scaleBp must be positive")
    val d = ExactU64.dec38
    val v = value.cast("long")
    val stats = df
      .filter(v.isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(min(v).as("__mn"), max(v).as("__mx"))
    val span = col("__mx").cast(d) - col("__mn").cast(d)
    val num = (v.cast(d) - col("__mn").cast(d)) * lit(scaleBp).cast(d)
    val scaled = when(
      span > 0,
      call_function("div", num - pmod(num, span), span))
    df.filter(v.isNotNull)
      .join(stats, keys)
      .withColumn("scaled_bp", scaled)
      .drop("__mn", "__mx")
  }

  /** Multi-level corpus report in one pass: ROLLUP over `keys` with row
    * count and an exact long sum of `value` at every prefix level
    * (per (k1,k2), per k1, grand total). Each key gets an explicit
    * `g_<key>` grouping flag (1 = rolled up at this level) so subtotal
    * NULLs are distinguishable from genuine NULL key values — the flags
    * are portable (`GROUPING(col)` on both engines), unlike the
    * engine-specific bit order of `grouping_id()`.
    *
    * Scale shape: Catalyst plans rollup as ONE Expand (|levels| rows per
    * input row, key+counter payload only) into a single two-level
    * partial agg — no per-level rescan, output bounded by the distinct
    * key prefixes.
    */
  def rollupCounts(
      df: DataFrame,
      keys: Seq[String],
      value: Column
  ): DataFrame = {
    require(keys.nonEmpty, "rollupCounts needs at least one key")
    // grouping() is only resolvable inside the rollup's own aggregate
    val aggs =
      keys.map(k => grouping(col(k)).cast("int").as(s"g_$k")) ++
        Seq(count(lit(1)).as("n"), sum(value.cast("long")).as("total"))
    df.rollup(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(
        keys.map(col) ++ keys.map(k => col(s"g_$k")) ++
          Seq(col("n"), col("total")): _*)
  }

  /** Classifier THRESHOLD SWEEP: the exact confusion table (tp/fp/fn/tn)
    * of the rule `score >= thr` against a boolean label, at every
    * candidate threshold in one pass — the table a curator reads to pick
    * the quality cutoff ("keep everything the scorer rates ≥ X") with
    * full knowledge of what each X costs in false drops. Downstream
    * precision/recall are one division away; the table itself stays in
    * exact integers under the oracle.
    *
    * Scale shape: ONE scan with a |thresholds|-way inline explode
    * (2-column payload: score + label) into a partial-agg groupBy —
    * output is |thresholds| rows. No per-threshold rescan, no driver
    * loop.
    *
    * Rows with a NULL score or label land in NO cell (every comparison
    * is null) — coalesce or filter upstream if they should count.
    */
  def thresholdSweep(
      df: DataFrame,
      score: Column,
      label: Column,
      thresholds: Seq[Long]
  ): DataFrame = {
    require(thresholds.nonEmpty &&
      thresholds.distinct.size == thresholds.size,
      "thresholds must be non-empty and distinct")
    df.select(score.cast("long").as("__s"), label.as("__l"),
        explode(array(thresholds.map(lit(_)): _*)).as("thr"))
      .groupBy(col("thr"))
      .agg(
        sum(when(col("__s") >= col("thr") && col("__l"), 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("__s") >= col("thr") && !col("__l"), 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("__s") < col("thr") && col("__l"), 1L)
          .otherwise(0L)).as("fn"),
        sum(when(col("__s") < col("thr") && !col("__l"), 1L)
          .otherwise(0L)).as("tn"))
  }

  /** Ingest-volume ANOMALY gate: per (key, time bucket) row counts with a
    * trailing-window baseline and an exact integer spike flag — the
    * monitor that catches "source X started sending 10× its usual volume
    * this hour" (a crawler loop, a replayed feed, an upstream dedup
    * outage) BEFORE the corpus absorbs it. For each key's bucket b:
    * trailing count/sum over the `trailing` PRECEDING observed buckets
    * (current excluded — the spike must not drag its own baseline), and
    *
    *   is_spike ⇔ n · trail_n > factor · trail_sum   (trail_n > 0)
    *
    * — the cross-multiplied form of `n > factor · trailing_mean`, exact
    * in int64 with no division. Early buckets with no history never flag
    * (no baseline, no verdict). Buckets with zero rows don't appear;
    * the trailing frame is over OBSERVED buckets, stated not hidden.
    *
    * Scale shape: one partial-agg shuffle to bucket counts (output is
    * keys × time-range-sized — metadata, not rows), then a per-key
    * bounded-frame window over those counts: the biggest per-key task
    * sorts one key's bucket HISTORY (8,760 rows per key-year at hourly
    * buckets), never its rows.
    *
    * NULL-ts rows form a NULL bucket whose position in the trailing
    * frame is engine-specific (Spark sorts nulls first, DuckDB last) —
    * filter them upstream when replaying across engines. The epoch ÷
    * bucketSeconds quotient evaluates in double; it is exact while
    * |epoch seconds| < 2^53 (year ±285M), and floor(double) keeps the
    * bucket map monotone regardless.
    */
  def volumeAnomaly(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      bucketSeconds: Long,
      trailing: Int,
      factor: Long
  ): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    require(trailing > 0, "trailing must be positive")
    require(factor > 0, "factor must be positive")
    val reserved = Seq("bucket", "n", "trail_n", "trail_sum", "is_spike")
    require(!reserved.exists(df.columns.contains),
      s"volumeAnomaly reserves the column names ${reserved.mkString(", ")}")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("bucket"))
      .rowsBetween(-trailing, -1)
    df.groupBy(col(keyCol),
        floor(unix_timestamp(col(tsCol)) / bucketSeconds).as("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("trail_n", count(col("n")).over(w))
      .withColumn("trail_sum", coalesce(sum(col("n")).over(w), lit(0L)))
      .withColumn("is_spike",
        col("trail_n") > 0L &&
          col("n") * col("trail_n") > lit(factor) * col("trail_sum"))
  }

  /** Exact ROC-AUC per segment — the scorer-evaluation number a quality
    * model is judged by, computed without sampling and without a global
    * sort. Ties get the standard average-rank treatment:
    *
    *   AUC = [Σ_s np(s)·nb(s) + ½·Σ_s np(s)·nn(s)] / (n_pos·n_neg)
    *
    * over distinct score values s, where np/nn are positive/negative
    * counts at s and nb is the negative count strictly below s. Output
    * is the EXACT integer pair (auc_num, auc_den) with auc_num =
    * Σ np·(2·nb + nn) and auc_den = 2·n_pos·n_neg (AUC = num/den) in
    * decimal(38,0) — at 10^12 rows the cross-products overflow int64,
    * and a float AUC would not sit under a byte-exact oracle.
    *
    * Scale shape: one partial-agg shuffle to the (segment, score)
    * histogram, then the prefix-sum over distinct scores is a
    * [[graft.features.ChunkedScan]] over (segment, floor(score/chunkSpan))
    * chunks — a dominant segment with billions of distinct float scores
    * never serializes into one task. Rows with a NULL score or label are
    * excluded (stated, not hidden); a NULL segment is a segment, as under
    * `groupBy`. A segment with no positives or no negatives reports
    * auc_den = 0 — AUC is undefined there, the caller decides.
    */
  def aucExact(
      df: DataFrame,
      seg: Column,
      score: Column,
      label: Column,
      chunkSpan: Double = 64.0
  ): DataFrame = {
    require(chunkSpan > 0, "chunkSpan must be positive")
    val dec = "decimal(38,0)"
    val h = df
      .filter(score.isNotNull && label.isNotNull)
      .groupBy(seg.as("seg"), score.as("__s"))
      .agg(
        sum(when(label, 1L).otherwise(0L)).cast(dec).as("__np"),
        sum(when(label, 0L).otherwise(1L)).cast(dec).as("__nn"))
    ChunkedScan(h, Seq("seg"), floor(col("__s") / chunkSpan), Seq(col("__s")),
        ChunkedScan.RowsBefore, ChunkedScan.Sum("__nb", col("__nn"), lit(0L).cast(dec)))
      .groupBy(col("seg"))
      .agg(
        sum(col("__np")).cast(dec).as("n_pos"),
        sum(col("__nn")).cast(dec).as("n_neg"),
        sum(col("__np") * (col("__nb") * 2 + col("__nn"))).cast(dec)
          .as("auc_num"))
      .withColumn("auc_den", (col("n_pos") * col("n_neg") * 2).cast(dec))
  }

  /** Reliability-diagram bins for a probabilistic scorer: equal-width
    * buckets over [lo, hi) with per-bin count, positive count, and the
    * score mass in exact basis points (sum of floor(score·10⁴) — a
    * float sum would drift across engines and partition orders; the
    * bp sum is associative int64 math). Mean confidence vs empirical
    * accuracy per bin is then n_pos/n vs sum_score_bp/(n·10⁴).
    *
    * Out-of-range scores clamp into the edge bins (a calibration plot
    * must account for every scored row, not quietly drop the tails).
    * NULL score/label rows are excluded. Scale shape: one partial-agg
    * shuffle, output is nBins rows.
    */
  def calibrationBins(
      df: DataFrame,
      score: Column,
      label: Column,
      nBins: Int,
      lo: Double,
      hi: Double
  ): DataFrame = {
    require(nBins > 0, "nBins must be positive")
    require(lo < hi, "lo must be < hi")
    val bin = least(lit(nBins - 1L),
      greatest(lit(0L),
        floor((score - lo) / ((hi - lo) / nBins)).cast("long")))
    df.filter(score.isNotNull && label.isNotNull)
      .groupBy(bin.as("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(label, 1L).otherwise(0L)).as("n_pos"),
        sum(floor(score * 10000d).cast("long")).as("sum_score_bp"))
  }

  /** EXACT isotonic (monotone non-decreasing) calibration over score
    * bins — pool-adjacent-violators on the [[calibrationBins]] output:
    * a scorer whose empirical positive rate dips as the score rises is
    * repaired into the closest monotone rate curve (L2), which is what
    * a threshold sweep or a probability consumer should read instead of
    * raw bin rates. All arithmetic is exact rationals: each bin's
    * calibrated rate is its PAV pool's (Σ n_pos, Σ n), emitted REDUCED
    * (gcd) as (iso_num, iso_den) so the representation is canonical —
    * the oracle recomputes the fit independently via the minimax closed
    * form ŷᵢ = max_{j≤i} min_{k≥i} avg(j..k) (Robertson et al.'s
    * identity for the PAV solution) and must land on the same reduced
    * fraction.
    *
    * The input is a BINNED AGGREGATE — at most `maxBins` rows by
    * construction (the binning collapsed the corpus already), so the
    * PAV stack runs on the driver over the collected bins: the same
    * aggregate-sized-driver-data contract as
    * [[Similarity.ivfCentroids]]. The guard makes exceeding it a loud
    * error, not a silent driver OOM.
    */
  def isotonicCalibrate(
      bins: DataFrame, // (bin, n, n_pos) — n >= 1 per present bin
      maxBins: Int = 4096
  ): DataFrame = {
    require(maxBins > 0, "maxBins must be positive")
    val spark = bins.sparkSession
    import spark.implicits._
    val rows = bins.select(
        col("bin").cast("long"), col("n").cast("long"),
        col("n_pos").cast("long"))
      .orderBy(col("bin"))
      .limit(maxBins + 1)
      .as[(Long, Long, Long)].collect()
    require(rows.length <= maxBins,
      s"isotonicCalibrate saw more than $maxBins bins — bin coarser or " +
        "raise maxBins; the PAV stack is driver-side by contract")
    require(rows.forall(_._2 >= 1L), "every bin needs n >= 1")
    // PAV stack: pools of (P = Σ n_pos, W = Σ n, span); merge while the
    // last two pools violate monotonicity (cross-multiplied compare)
    // BigInt cross-multiply: pool sums reach corpus scale (~10^12) and
    // P·W would overflow long — the comparison is driver-side over at
    // most maxBins pools, so arbitrary precision costs nothing
    val stack = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    rows.foreach { case (_, n, p) =>
      var cur = (p, n, 1)
      while (stack.nonEmpty &&
          BigInt(stack.last._1) * cur._2 > BigInt(cur._1) * stack.last._2) {
        val prev = stack.remove(stack.length - 1)
        cur = (prev._1 + cur._1, prev._2 + cur._2, prev._3 + cur._3)
      }
      stack += cur
    }
    val fitted = stack.iterator.flatMap { case (p, w, span) =>
      val g = BigInt(p).gcd(BigInt(w)).toLong max 1L
      Iterator.fill(span)((p / g, w / g))
    }.toVector
    rows.toVector.zip(fitted)
      .map { case ((bin, n, p), (num, den)) => (bin, n, p, num, den) }
      .toDF("bin", "n", "n_pos", "iso_num", "iso_den")
  }

  /** Strictly-ordered funnel: how many users reached stage k only
    * counting stage-k events AFTER their first qualifying stage-(k-1)
    * event — the sequence-sensitive variant (view → click → purchase
    * in that order), not mere set membership. Per user the anchor is
    * the EARLIEST valid completion of the previous stage, which is the
    * standard greedy funnel semantics (earliest anchor maximizes each
    * user's reachable depth).
    *
    * Scale shape: one filtered min-aggregation plus one key-equi-join
    * per stage — k tiny and fixed — with every shuffle keyed on the
    * user column; the per-user state is ONE timestamp per stage, never
    * an event list, so a mega-user costs nothing beyond its scan.
    * Output is |stages| rows. NULL-ts events never anchor (min skips
    * nulls; the strict `>` drops null comparisons).
    */
  def funnel(
      df: DataFrame,
      userCol: String,
      tsCol: String,
      stages: Seq[(String, Column)]
  ): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    require(stages.map(_._1).distinct.size == stages.size,
      "stage names must be distinct")
    require(!df.columns.contains("__t"),
      "funnel reserves the column name __t")
    var reached = df.filter(stages.head._2)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("__t"))
    var out = reached.groupBy()
      .agg(count(lit(1)).as("n_users"))
      .select(lit(0L).as("stage_idx"), lit(stages.head._1).as("stage"),
        col("n_users"))
    for (((name, pred), i) <- stages.zipWithIndex.drop(1)) {
      reached = df.filter(pred)
        .join(reached.withColumnRenamed("__t", "__prev"), Seq(userCol))
        .filter(col(tsCol) > col("__prev"))
        .groupBy(col(userCol)).agg(min(col(tsCol)).as("__t"))
      out = out.unionByName(reached.groupBy()
        .agg(count(lit(1)).as("n_users"))
        .select(lit(i.toLong).as("stage_idx"), lit(name).as("stage"),
          col("n_users")))
    }
    out
  }

  /** Cohort-retention matrix: users bucketed by their FIRST-seen time
    * bucket (the cohort), then counted per (cohort, offset) for every
    * later bucket they were active in — the classic retention triangle,
    * in engine-stable integer buckets (floor(epoch/bucketSeconds),
    * same convention as [[volumeAnomaly]]) rather than calendar weeks
    * whose start-of-week differs across engines.
    *
    * Scale shape: distinct (user, bucket) is one partial-agg shuffle;
    * first-seen is a min-agg over it (same key — no extra exchange
    *  pattern needed); the user-keyed self-join then reduces to the
    * cohort-offset matrix (output ≤ buckets², metadata-sized). NULL
    * ts rows are excluded.
    */
  def cohortRetention(
      df: DataFrame,
      userCol: String,
      tsCol: String,
      bucketSeconds: Long
  ): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    val act = df.filter(col(tsCol).isNotNull)
      .select(col(userCol).as("__u"),
        floor(unix_timestamp(col(tsCol)) / bucketSeconds).as("__b"))
      .distinct()
    val first = act.groupBy(col("__u")).agg(min(col("__b")).as("__cohort"))
    act.join(first, Seq("__u"))
      .groupBy(col("__cohort").as("cohort_bucket"),
        (col("__b") - col("__cohort")).as("bucket_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Cohen's kappa between two categorical labelers as EXACT integer
    * sufficient statistics — the labeler-QC number ("do rater A and
    * rater B agree beyond chance") for annotation pipelines. One row:
    * n, n_agree, pe_num = Σ_c rowMarginal(c)·colMarginal(c), all in
    * decimal(38,0) (marginal products at 10^12 rows overflow int64).
    * The caller computes
    *
    *   κ = (n·n_agree − pe_num) / (n² − pe_num)
    *
    * NULL labels on either side are excluded. Classes present in only
    * one labeler's output contribute 0 to pe_num (inner-join marginal
    * match — exactly the κ definition's Σ over the joint alphabet).
    *
    * Scale shape: the raw rows cross the shuffle ONCE, collapsed to the
    * joint (a, b) contingency table (|A|·|B| cells — metadata); n,
    * n_agree, both marginals, and pe_num all derive from the cells, so
    * the downstream aggs and the single-row broadcast cross join never
    * see row volume.
    */
  def kappaExact(df: DataFrame, a: Column, b: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val joint = df.filter(a.isNotNull && b.isNotNull)
      .groupBy(a.as("__a"), b.as("__b"))
      .agg(count(lit(1)).cast(dec).as("__c"))
    val base = joint.agg(
      sum(col("__c")).cast(dec).as("n"),
      coalesce(sum(when(col("__a") === col("__b"), col("__c"))), lit(0L))
        .cast(dec).as("n_agree"))
    val ma = joint.groupBy(col("__a").as("__cls"))
      .agg(sum(col("__c")).as("__ca"))
    val mb = joint.groupBy(col("__b").as("__cls"))
      .agg(sum(col("__c")).as("__cb"))
    val pe = ma.join(mb, Seq("__cls"))
      .agg(coalesce(sum(col("__ca") * col("__cb")), lit(0L).cast(dec))
        .as("pe_num"))
    base.crossJoin(broadcast(pe))
  }

  /** Fleiss' κ sufficient statistics — [[kappaExact]]'s MULTI-rater
    * generalization for annotation pipelines with ≥ 3 labelers. Input
    * is LONG format (one row per rating), so raters need no identity —
    * exactly Fleiss' setting (any `nRaters` raters per item, not
    * necessarily the same ones). One row out, all exact integers
    * (decimal(38,0) where 10^12-row squares overflow int64):
    *
    *   n_items      items with exactly nRaters non-null ratings
    *   n_raters     echo of the required count R
    *   agree_pairs  Σ_i Σ_c n_ic(n_ic − 1) — agreeing rating pairs
    *   pe_num       Σ_c (Σ_i n_ic)² — the chance-agreement numerator
    *   n_dropped    items with ≠ R ratings, EXCLUDED and audited
    *                (classic Fleiss needs constant R; silently keeping
    *                ragged items would bias P̄'s denominator)
    *
    * The caller computes P̄ = agree_pairs / (n_items·R·(R−1)),
    * P̄e = pe_num / (n_items·R)², κ = (P̄−P̄e)/(1−P̄e) — floats stay
    * downstream, the [[kappaExact]] contract.
    *
    * Scale shape: ratings cross the shuffle once into the (item, label)
    * contingency cells; per-item totals re-aggregate the CELLS (each
    * item has ≤ |labels| cells, so the second exchange is
    * cell-cardinality); the keep-filter is a cell↔item semi-join on the
    * same key, and everything after is label-cardinality. Single-row
    * branches meet in broadcast cross joins.
    */
  def fleissStats(
      ratings: DataFrame, // (itemCol, labelCol) — one row per rating
      itemCol: String,
      labelCol: String,
      nRaters: Int
  ): DataFrame = {
    require(nRaters >= 2, "nRaters must be >= 2")
    val dec = "decimal(38,0)"
    val r = ratings.filter(col(labelCol).isNotNull)
      .select(col(itemCol).as("__i"), col(labelCol).as("__l"))
    // cells is the one ratings-sized pass; every downstream branch (base,
    // agree, pe, drop) re-aggregates it, so materialize it once instead of
    // letting four aggregate subtrees each re-scan the ratings union
    // (fresh per invocation — localCheckpoint, not cache)
    val cells = r.groupBy(col("__i"), col("__l"))
      .agg(count(lit(1)).as("__n"))
      .localCheckpoint(false)
    val perItem = cells.groupBy(col("__i")).agg(sum(col("__n")).as("__ni"))
    val keptIds = perItem.filter(col("__ni") === nRaters.toLong).select("__i")
    val kept = cells.join(keptIds, Seq("__i"))
    val base = keptIds.agg(count(lit(1)).cast(dec).as("n_items"))
    val agree = kept.agg(
      coalesce(sum(col("__n") * (col("__n") - 1L)), lit(0L))
        .cast(dec).as("agree_pairs"))
    val pe = kept.groupBy(col("__l"))
      .agg(sum(col("__n")).cast(dec).as("__t"))
      .agg(coalesce(sum(col("__t") * col("__t")), lit(0L).cast(dec))
        .as("pe_num"))
    val drop = perItem.agg(
      coalesce(sum(when(col("__ni") =!= nRaters.toLong, 1L).otherwise(0L)),
        lit(0L)).as("n_dropped"))
    base
      .withColumn("n_raters", lit(nRaters.toLong))
      .crossJoin(broadcast(agree))
      .crossJoin(broadcast(pe))
      .crossJoin(broadcast(drop))
      .select(col("n_items"), col("n_raters"), col("agree_pairs"),
        col("pe_num"), col("n_dropped"))
  }

  /** Unbiased pass@k sufficient statistics (the Codex-paper estimator)
    * as EXACT RATIONALS: per task with n ≥ k samples,
    *
    *   pass@k = 1 − C(n−c, k)/C(n, k) = 1 − fail_num/fail_den
    *
    * with fail_num = (n−c)(n−c−1)…(n−c−k+1) and fail_den =
    * n(n−1)…(n−k+1) — falling factorials, so the binomials' shared k!
    * cancels and both sides stay integers (decimal(38,0); exact while
    * nᵏ < 10³⁸, i.e. n up to ~10⁹ at k ≤ 4). Tasks with fewer than k
    * samples are excluded — the estimator is undefined there, and
    * silently emitting pass@n instead would bias a sweep. The one
    * division (and nothing else) stays downstream, the repo's
    * exact-integer contract.
    *
    * Scale shape: ONE task-keyed partial agg (count + conditional sum);
    * the factorial products are plain projection on the task-cardinality
    * frame.
    */
  def passAtK(
      df: DataFrame, // one row per sample
      taskCol: String,
      correct: Column,
      k: Int
  ): DataFrame = {
    require(k >= 1 && k <= 8, "k must be in 1..8 (nᵏ must fit decimal(38))")
    val dec = "decimal(38,0)"
    val agg = df
      .groupBy(col(taskCol).as("task"))
      .agg(count(lit(1)).as("n"),
        sum(when(correct, 1L).otherwise(0L)).as("c"))
      .filter(col("n") >= k.toLong)
    val f = col("n") - col("c")
    val num = (0 until k).map(i => (f - i.toLong).cast(dec)).reduce(_ * _)
    val den = (0 until k).map(i => (col("n") - i.toLong).cast(dec)).reduce(_ * _)
    agg.select(col("task"), col("n"), col("c"),
      when(f >= k.toLong, num).otherwise(lit(0L).cast(dec)).as("fail_num"),
      den.as("fail_den"))
  }

  /** Per-group least-squares TREND of y over x as an exact rational:
    * slope = slope_num / slope_den with
    *
    *   slope_num = n·Σxy − Σx·Σy      slope_den = n·Σx² − (Σx)²
    *
    * — the volume-drift detector ("is this source's daily feed shrinking?")
    * with no float in sight: both sides are decimal(38,0) products of
    * integer sums, so sign and magnitude comparisons (slope_num·10⁶ vs
    * slope_den·threshold) replay bit-exact in any engine. slope_den = 0
    * ⇔ the group has a single distinct x — no trend, caller decides.
    *
    * Scale shape: ONE partial-agg shuffle (five map-side-combinable
    * sums); output is |groups| rows. Overflow: n·Σxy must stay below
    * 10^38 — x values should be SMALL indices (epoch days, not epoch
    * micros); at x ≤ 10^6, y ≤ 10^12, n ≤ 10^9 the product is ≤ 10^27.
    */
  def trendSlope(
      df: DataFrame,
      groupCols: Seq[String],
      x: Column,
      y: Column
  ): DataFrame = {
    val d = ExactU64.dec38
    val xl = x.cast("long").cast(d)
    val yl = y.cast("long").cast(d)
    df.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(xl).as("__sx"), sum(yl).as("__sy"),
        sum(xl * yl).as("__sxy"), sum(xl * xl).as("__sxx"))
      .select((groupCols.map(col) ++ Seq(
        col("n"),
        (col("n").cast(d) * col("__sxy") - col("__sx") * col("__sy"))
          .cast(d).as("slope_num"),
        (col("n").cast(d) * col("__sxx") - col("__sx") * col("__sx"))
          .cast(d).as("slope_den"))): _*)
  }

  /** Exact two-sample Kolmogorov–Smirnov distance between the `value`
    * distributions of two slices: KS = max over v of |F_a(v) − F_b(v)|,
    * reported as the exact integer cross-product form
    * ks_num = max |cum_a(v)·n_b − cum_b(v)·n_a| (so KS = ks_num/(n_a·n_b))
    * plus the value attaining it (smallest such v). The distribution-
    * shift gauge between two sources/snapshots that, unlike PSI/KL,
    * needs no bins, no smoothing constants, and no transcendentals —
    * integer-exact across engines.
    *
    * Scale shape: rows collapse to distinct (value, side) COUNTS first
    * (one partial-agg shuffle — the only pass over full volume); the
    * cumulative walk then runs over DISTINCT values only. That stream is
    * sketch-sized for the integer metrics this targets (lengths, counts,
    * scores in a bounded domain); a billion-distinct-value column would
    * need the chunked-prefix geometry of [[Stats.exactGroupedQuantiles]]
    * — compose that before this reduction if you have one.
    */
  def ksDistance(
      df: DataFrame,
      isA: Column,
      value: Column
  ): DataFrame = {
    val d = ExactU64.dec38
    val counts = df.filter(value.isNotNull && isA.isNotNull)
      .groupBy(value.cast("long").as("v"))
      .agg(
        sum(when(isA, 1L).otherwise(0L)).as("__ca"),
        sum(when(isA, 0L).otherwise(1L)).as("__cb"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts
      .withColumn("__cuma", sum(col("__ca")).over(w))
      .withColumn("__cumb", sum(col("__cb")).over(w))
    val tot = counts.agg(
      sum(col("__ca")).as("n_a"), sum(col("__cb")).as("n_b"))
    val gaps = cum.crossJoin(broadcast(tot))
      .withColumn("__gap",
        abs(col("__cuma").cast(d) * col("n_b") -
          col("__cumb").cast(d) * col("n_a")).cast(d))
    val mx = gaps.agg(max(col("__gap")).cast(d).as("ks_num"))
    gaps.crossJoin(broadcast(mx))
      .filter(col("__gap") === col("ks_num"))
      .groupBy(col("n_a"), col("n_b"), col("ks_num"))
      .agg(min(col("v")).as("at_value"))
  }
}
