package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.features.ChunkedScan

/** Exact distribution statistics for corpus dashboards — the numbers a
  * curation run is tuned against (doc-length percentiles per language,
  * token-count spread per source).
  *
  * Quantiles here are EXACT and DISCRETE: the q-quantile of a group of n
  * rows is the value at rank ceil(q·n) in (value, tiebreaker) order — an
  * element of the data, computed by rank selection, never interpolated.
  * That makes the result integer-exact and engine-portable (the oracle
  * replays the identical rank arithmetic in SQL), unlike
  * approx_percentile (non-deterministic sketch) or interpolating
  * percentile functions (float formulas that differ across engines).
  */
object Stats {

  /** Per-group exact discrete quantiles of an integer column, one output
    * row per group: (group, n, q<bp1>, q<bp2>, ...). `qsBp` are quantile
    * levels in basis points (5000 = median, 9900 = p99).
    *
    * Scale shape — DISTRIBUTED rank selection, mega-group safe. A
    * per-group `row_number` window would sort a dominant group (one
    * language ≈ most of a corpus) in a single task; instead:
    *   0. rows collapse to distinct (group, value) COUNTS — one
    *      partial-agg-friendly shuffle, the only one that sees full row
    *      volume. The value at a rank never depends on the tie order
    *      (equal values are adjacent in (value, tie) order), so the
    *      tiebreaker only documents the rank contract;
    *   1. each value's cumulative count cum(≤v) is a
    *      [[graft.features.ChunkedScan]] over value-range chunks
    *      (`floor(value / chunkSpan)`; tasks bounded by ≤ chunkSpan
    *      distinct integer values), and one per-group aggregate gives n;
    *      v holds rank r  ⇔  cum(<v) < r ≤ cum(≤v).
    * The rank predicate stays pure integer arithmetic, no division:
    * r = ceil(q·n/10⁴)  ⇔  cum(≤v)·10⁴ ≥ q·n  ∧  cum(<v)·10⁴ < q·n.
    * Byte-equality with the single-window formulation is tested in
    * CurationSpec (incl. a mega-group spread over many chunk tasks).
    */
  def exactGroupedQuantiles(
      df: DataFrame,
      groupCol: String,
      value: Column,
      tieCol: String,
      qsBp: Seq[Int],
      chunkSpan: Long = 4096L
  ): DataFrame = {
    require(qsBp.nonEmpty && qsBp.forall(q => q > 0 && q <= 10000),
      "quantiles are basis points in 1..10000")
    require(qsBp.distinct.size == qsBp.size,
      s"duplicate quantile levels would produce duplicate output columns: " +
        qsBp.mkString(", "))
    require(chunkSpan > 0, "chunkSpan must be positive")
    val reserved = Seq("__v", "__c", "__cum", "__n", "__tg")
    require(!reserved.exists(df.columns.contains),
      s"exactGroupedQuantiles reserves the column names " +
        reserved.mkString(", "))
    // phase 0: the one full-volume shuffle — map-side combinable
    val vc = df.groupBy(col(groupCol), value.as("__v"))
      .agg(count(lit(1)).as("__c"))
    val cum = withGroupTotal(cumulative(vc, groupCol, chunkSpan, lit(0L)),
      vc, groupCol, col("__c"), "__n")
    val picks = qsBp.map { q =>
      val qn = lit(q.toLong) * col("__n")
      val isPick = col("__cum") * 10000L >= qn &&
        (col("__cum") - col("__c")) * 10000L < qn
      max(when(isPick, col("__v"))).as(s"q$q")
    }
    cum.groupBy(col(groupCol))
      .agg(max(col("__n")).as("n"), picks: _*)
  }

  /** WEIGHTED exact grouped quantiles — "the token-weighted p50/p99 doc
    * length per language", the curation stat that answers how the
    * TRAINING MASS is distributed rather than the document count (one
    * 100k-token doc should move the median more than a tweet). The
    * q-quantile is the smallest value v with cumWeight(≤v)·10⁴ ≥ q·W —
    * integer-exact, division-free, an element of the data:
    *
    *   pick(v) ⇔ cum(≤v)·10⁴ ≥ q·W  ∧  cum(<v)·10⁴ < q·W
    *
    * Zero-weight rows can never be picked (they don't move cum — the
    * two inequalities contradict), matching the standard definition;
    * NEGATIVE weights fail loud; `weight ≡ 1` reproduces
    * [[exactGroupedQuantiles]] exactly (differential-tested). Cumulative
    * weights ride decimal(38,0): q·W at 10^12 rows of 10^5-token docs is
    * ~10^21 — past int64.
    *
    * Scale shape: identical geometry to [[exactGroupedQuantiles]] — one
    * full-volume partial-agg shuffle to (group, value) weight sums, then
    * the chunked running sum, so a dominant group never single-task
    * sorts. Output: (group, w_total, q<bp>…).
    */
  def weightedGroupedQuantiles(
      df: DataFrame,
      groupCol: String,
      value: Column,
      weight: Column,
      qsBp: Seq[Int],
      chunkSpan: Long = 4096L
  ): DataFrame = {
    require(qsBp.nonEmpty && qsBp.forall(q => q > 0 && q <= 10000),
      "quantiles are basis points in 1..10000")
    require(qsBp.distinct.size == qsBp.size,
      s"duplicate quantile levels would produce duplicate output columns: " +
        qsBp.mkString(", "))
    require(chunkSpan > 0, "chunkSpan must be positive")
    val reserved = Seq("__v", "__c", "__cum", "__wt", "__tg")
    require(!reserved.exists(df.columns.contains),
      s"weightedGroupedQuantiles reserves the column names " +
        reserved.mkString(", "))
    val dec = "decimal(38,0)"
    val guarded = when(weight >= 0L, weight).otherwise(raise_error(concat(
      lit("weightedGroupedQuantiles: negative weight "),
      weight.cast("string"), lit(" — weights must be >= 0"))))
    val vc = df.groupBy(col(groupCol), value.as("__v"))
      .agg(sum(guarded.cast(dec)).as("__c"))
    val cum = withGroupTotal(
      cumulative(vc, groupCol, chunkSpan, lit(0L).cast(dec)),
      vc, groupCol, col("__c"), "__wt")
    val picks = qsBp.map { q =>
      val qw = lit(q.toLong).cast(dec) * col("__wt")
      val isPick = col("__cum") * 10000L >= qw &&
        (col("__cum") - col("__c")) * 10000L < qw
      max(when(isPick, col("__v"))).as(s"q$q")
    }
    cum.groupBy(col(groupCol))
      .agg(max(col("__wt")).cast(dec).as("w_total"), picks: _*)
  }

  /** `vc`'s (group, `__v`, `__c`) rows plus `__cum`, the running sum of
    * `__c` over the group's values up to and including `__v` — a
    * [[graft.features.ChunkedScan]] over `floor(__v / chunkSpan)` chunks.
    */
  private def cumulative(
      vc: DataFrame,
      groupCol: String,
      chunkSpan: Long,
      zero: Column
  ): DataFrame =
    ChunkedScan(vc, Seq(groupCol), floor(col("__v").cast("long") / chunkSpan),
      Seq(col("__v")), ChunkedScan.UpToCurrent,
      ChunkedScan.Sum("__cum", col("__c"), zero))

  /** `df` plus `as`, the per-group `sum(v)` over `of`, joined back
    * null-safely: a NULL group is a group (the oracle's GROUP BY keeps it).
    */
  private def withGroupTotal(
      df: DataFrame,
      of: DataFrame,
      groupCol: String,
      v: Column,
      as: String
  ): DataFrame = {
    val totals = of.groupBy(col(groupCol).as("__tg")).agg(sum(v).as(as))
    df.join(totals, col(groupCol) <=> col("__tg")).drop("__tg")
  }

  /** Robust per-row outlier flags via MAD (median absolute deviation) —
    * the 3σ flag's heavy-tail-safe twin: a single mega-document can drag
    * a mean/σ gate arbitrarily, but moves both medians by at most one
    * rank. Composes [[exactGroupedQuantiles]] twice (both passes two-phase,
    * mega-group safe): med = median(value), mad = median(|value − med|),
    * then the per-row flag is the division-free integer cross-multiply
    *
    *   is_outlier  ⇔  |v − med| · 10⁴  >  kBp · mad
    *
    * (kBp = 30000 ⇒ "beyond 3 MADs"). `mad = 0` — over half the group
    * shares one value — flags EVERY deviating row, the standard MAD
    * caveat, stated not hidden. Output: every input row with
    * (group, id, v, med, mad, abs_dev, is_outlier).
    *
    * Scale shape: two quantile passes (each one full-volume partial-agg
    * shuffle + chunk-sized windows) plus two joins against per-group
    * single rows — Catalyst broadcasts both at any realistic group count.
    */
  def madOutliers(
      df: DataFrame,
      groupCol: String,
      value: Column,
      idCol: String,
      kBp: Long,
      chunkSpan: Long = 4096L
  ): DataFrame = {
    require(kBp > 0, "kBp must be positive basis points")
    val reserved = Seq("__mv", "__adev", "__mg", "n")
    require(!reserved.exists(df.columns.contains),
      s"madOutliers reserves the column names ${reserved.mkString(", ")}")
    // null-safe group joins: a NULL group is a group (the oracle's
    // GROUP BY keeps it), so the join-back must not silently drop it
    val meds = exactGroupedQuantiles(df, groupCol, value, idCol,
      Seq(5000), chunkSpan)
      .select(col(groupCol).as("__mg"), col("q5000").as("med"))
    val withMed = df.select(col(groupCol), col(idCol), value.as("__mv"))
      .join(meds, col(groupCol) <=> col("__mg")).drop("__mg")
      .withColumn("__adev", abs(col("__mv") - col("med")))
    val mads = exactGroupedQuantiles(
      withMed, groupCol, col("__adev"), idCol, Seq(5000), chunkSpan)
      .select(col(groupCol).as("__mg"), col("q5000").as("mad"))
    withMed.join(mads, col(groupCol) <=> col("__mg")).drop("__mg")
      .select(col(groupCol), col(idCol), col("__mv").as("v"),
        col("med"), col("mad"), col("__adev").as("abs_dev"),
        (col("__adev") * 10000L > lit(kBp) * col("mad")).as("is_outlier"))
  }

  /** Winsorization at exact per-group quantile bounds — clamp the value
    * column into [q(loBp), q(hiBp)] before any mean/σ-sensitive consumer
    * (the standard tail-taming step before fitting the quality model or
    * computing drift baselines). Bounds come from
    * [[exactGroupedQuantiles]] — elements of the data, never
    * interpolated — so the clipped output is integer-exact and the
    * oracle replays it. Output: every input row with
    * (group, id, v, lo, hi, v_clipped, was_clipped).
    *
    * Scale shape: one two-phase quantile pass + one join against
    * per-group single rows (broadcast); the clip itself is a projection.
    */
  def winsorize(
      df: DataFrame,
      groupCol: String,
      value: Column,
      idCol: String,
      loBp: Int,
      hiBp: Int,
      chunkSpan: Long = 4096L
  ): DataFrame = {
    require(loBp < hiBp, "loBp must be below hiBp")
    val reserved = Seq("__wv", "__wg", "n")
    require(!reserved.exists(df.columns.contains),
      s"winsorize reserves the column names ${reserved.mkString(", ")}")
    // null-safe group join — a NULL group keeps its rows (see madOutliers)
    val bounds = exactGroupedQuantiles(df, groupCol, value, idCol,
      Seq(loBp, hiBp), chunkSpan)
      .select(col(groupCol).as("__wg"),
        col(s"q$loBp").as("lo"), col(s"q$hiBp").as("hi"))
    df.select(col(groupCol), col(idCol), value.as("__wv"))
      .join(bounds, col(groupCol) <=> col("__wg")).drop("__wg")
      .select(col(groupCol), col(idCol), col("__wv").as("v"),
        col("lo"), col("hi"),
        least(greatest(col("__wv"), col("lo")), col("hi")).as("v_clipped"),
        (col("__wv") < col("lo") || col("__wv") > col("hi"))
          .as("was_clipped"))
  }

  /** Quantile normalization onto a REFERENCE group — the batch-effect
    * correction that maps every group's distribution exactly onto the
    * reference's (each source's doc-length profile onto `en`'s, each
    * labeling vendor's score scale onto the calibration vendor's): a row
    * at rank r of its n-row group takes the reference value at the
    * rank-scaled position
    *
    *   r_ref = ceil(r · n_ref / n)     (exact: (r·n_ref + n − 1) div n,
    *                                    the multiply in decimal(38,0))
    *
    * so r_ref ∈ [1, n_ref] always and the normalized value is an ELEMENT
    * of the reference data — integer-exact, never interpolated, the same
    * discrete-rank contract as [[exactGroupedQuantiles]]. The reference
    * group maps to itself identically (r_ref = r). An EMPTY reference
    * group fails loud. Output: every input row with
    * (group, id, v, rank, n, v_norm).
    *
    * Scale shape: per-group ranks via the chunked running count
    * ([[graft.ops.Curation.globalRank]]'s geometry with the group as the
    * key — no single-task group sorts), n_ref rides in as
    * a broadcast single row, and the final lookup is ONE equi-join on
    * the scaled rank (both sides partition by rank, reference side is
    * the reference group's rows only).
    */
  def quantileNormalize(
      df: DataFrame,
      groupCol: String,
      value: Column,
      idCol: String,
      refGroup: String,
      chunkSpan: Long = 4096L
  ): DataFrame = {
    require(chunkSpan > 0, "chunkSpan must be positive")
    val reserved = Seq("__qv", "__qn", "__tg", "__rref", "__vref", "__nref",
      "__rtarget", "rank", "n", "v_norm")
    require(!reserved.exists(df.columns.contains),
      s"quantileNormalize reserves the column names ${reserved.mkString(", ")}")
    val dec = "decimal(38,0)"
    // per-group rank: the running row count in (value, id) order over
    // value-range chunks, plus the group's n
    val df1 = df.select(col(groupCol), col(idCol), value.as("__qv"))
    val ranked = withGroupTotal(
      ChunkedScan(df1, Seq(groupCol),
        floor(col("__qv").cast("long") / chunkSpan),
        Seq(col("__qv"), col(idCol)), ChunkedScan.UpToCurrent,
        ChunkedScan.Sum("rank", lit(1L), lit(0L))),
      df1, groupCol, lit(1L), "__qn")
    val ref = ranked.filter(col(groupCol) === refGroup)
      .select(col("rank").as("__rref"), col("__qv").as("__vref"))
    val nRef = ranked.filter(col(groupCol) === refGroup)
      .agg(count(lit(1)).as("__nref"))
    // LEFT join + fail-loud on the miss: with a non-empty reference every
    // scaled rank lands in [1, n_ref] and matches exactly once, so a null
    // __vref can only mean the reference group is empty. An INNER join
    // would let an empty (broadcast) reference short-circuit the whole
    // plan to zero rows without ever evaluating the guard.
    ranked
      .crossJoin(broadcast(nRef))
      .withColumn("__rtarget",
        call_function("div",
          col("rank").cast(dec) * col("__nref") + col("__qn") - 1L,
          col("__qn")).cast("long"))
      .join(ref, col("__rtarget") === col("__rref"), "left")
      .select(col(groupCol), col(idCol), col("__qv").as("v"),
        col("rank"), col("__qn").as("n"),
        when(col("__vref").isNull, raise_error(lit(
          s"quantileNormalize: reference group '$refGroup' is empty")))
          .otherwise(col("__vref")).as("v_norm"))
  }

  /** Single-window reference formulation (`row_number` per group — one
    * task per group): the differential-test twin of
    * [[exactGroupedQuantiles]] and the documented rank contract, value at
    * rank ceil(q·n) in (value, tieCol) order.
    */
  def exactGroupedQuantilesSingleWindow(
      df: DataFrame,
      groupCol: String,
      value: Column,
      tieCol: String,
      qsBp: Seq[Int]
  ): DataFrame = {
    require(qsBp.nonEmpty && qsBp.forall(q => q > 0 && q <= 10000),
      "quantiles are basis points in 1..10000")
    require(qsBp.distinct.size == qsBp.size,
      s"duplicate quantile levels would produce duplicate output columns: " +
        qsBp.mkString(", "))
    require(!Seq("__v", "__rn", "__n").exists(df.columns.contains),
      "exactGroupedQuantiles reserves the column names __v, __rn, __n")
    val w = Window.partitionBy(col(groupCol)).orderBy(value, col(tieCol))
    val wAll = Window.partitionBy(col(groupCol))
    val ranked = df
      .withColumn("__v", value)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
    val picks = qsBp.map { q =>
      val qn = lit(q.toLong) * col("__n")
      val isPick = col("__rn") * 10000L >= qn &&
        (col("__rn") - 1L) * 10000L < qn
      max(when(isPick, col("__v"))).as(s"q$q")
    }
    ranked.groupBy(col(groupCol))
      .agg(max(col("__n")).as("n"), picks: _*)
  }

  /** Exact per-group top-k ("the k best documents of every language"),
    * MEGA-GROUP SAFE. The obvious `row_number().over(partitionBy(group))`
    * sorts a dominant group in one task; instead the selection runs
    * twice over bounded partitions:
    *   1. rows are salted into `fanout` sub-partitions by a hash of the
    *      unique tiebreak column; a per-(group, salt) window keeps each
    *      sub-partition's top k — tasks see ~|group|/fanout rows;
    *   2. the ≤ fanout·k survivors per group (the global top-k is a
    *      subset of the union of per-salt top-ks — every dropped row
    *      loses to ≥ k rows in its own salt) meet in a final
    *      per-group window that assigns the exact rank 1..k.
    * Identical output to the single-window form for any total order;
    * the order is made total by appending the unique column ascending.
    * Ranks are deterministic, ties broken by `uniqueCol` — the same
    * contract as the quantile family.
    *
    * Scale shape: two exchanges (group+salt, then group), both with
    * bounded task sizes (≤ max(|group|/fanout, fanout·k) rows). Size
    * `fanout` ≈ cluster parallelism / |groups| for a dominated mixture.
    */
  def groupedTopK(
      df: DataFrame,
      groupCols: Seq[String],
      order: Seq[Column],
      uniqueCol: String,
      k: Int,
      fanout: Int = 32
  ): DataFrame = {
    require(k > 0, "k must be positive")
    require(fanout > 0, "fanout must be positive")
    require(order.nonEmpty, "order must name at least one column")
    require(!Seq("__salt", "__rn", "rank").exists(df.columns.contains),
      "groupedTopK reserves the column names __salt, __rn, rank")
    val fullOrder = order :+ col(uniqueCol).asc
    val w1 = Window
      .partitionBy((groupCols.map(col) :+ col("__salt")): _*)
      .orderBy(fullOrder: _*)
    val w2 = Window.partitionBy(groupCols.map(col): _*).orderBy(fullOrder: _*)
    df.withColumn("__salt", pmod(hash(col(uniqueCol)), lit(fanout)))
      .withColumn("__rn", row_number().over(w1))
      .filter(col("__rn") <= k)
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .drop("__salt", "__rn")
  }

  /** Average-rank map for one column, TWO-PHASE: each distinct value →
    * 2× its average rank (the ×2 keeps tied average ranks integral —
    * avg rank of a run of c equal values after p smaller ones is
    * p + (c+1)/2, so r2 = 2p + c + 1). The prefix over distinct values
    * runs as a keyless [[graft.features.ChunkedScan]] so a column with
    * billions of distinct values never single-task sorts — the
    * [[exactGroupedQuantiles]] / globalRank geometry, unsegmented.
    */
  private def rank2Map(
      rows: DataFrame,
      vcol: String,
      chunkSpan: Double
  ): DataFrame = {
    val dec = "decimal(38,0)"
    val h = rows.groupBy(col(vcol))
      .agg(count(lit(1)).cast(dec).as("__c"))
    ChunkedScan(h, Nil, floor(col(vcol) / chunkSpan), Seq(col(vcol)),
        ChunkedScan.RowsBefore, ChunkedScan.Sum("__p", col("__c"), lit(0L).cast(dec)))
      .select(col(vcol),
        (col("__p") * 2 + col("__c") + 1).cast(dec).as("__r2"))
  }

  /** Exact Spearman rank correlation between two numeric columns, with
    * the standard average-rank tie treatment, as EXACT integer
    * sufficient statistics: one row (n, s_x, s_y, s_xy, s_xx, s_yy)
    * over the doubled average ranks r2 ∈ {2·avgrank}. The caller gets
    *
    *   ρ = (n·s_xy − s_x·s_y) / (√(n·s_xx − s_x²) · √(n·s_yy − s_y²))
    *
    * — Pearson on ranks; s_x = s_y = n(n+1) is also an output so the
    * oracle cross-checks the rank maps. Floats appear nowhere: at
    * 10^12 rows the rank cross-products need ~10^37, hence
    * decimal(38,0) end-to-end (the oracle replays in HUGEINT).
    *
    * Scale shape: two distinct-value histograms (partial-agg shuffles),
    * each ranked by the two-phase chunk-carry prefix (no global sort),
    * then two value-keyed equi-joins hang the rank maps back on the
    * rows — rank maps are distinct-value-sized, so AQE broadcasts them
    * when small — and ONE global partial agg emits the single row.
    * NULL x or y rows are excluded (rank semantics for null are
    * undefined); ±Infinity and NaN order by Spark/DuckDB double
    * collation and are caller's risk — filter them upstream.
    */
  def spearmanExact(
      df: DataFrame,
      x: Column,
      y: Column,
      chunkSpan: Double = 4096.0
  ): DataFrame = {
    require(chunkSpan > 0, "chunkSpan must be positive")
    val dec = "decimal(38,0)"
    val rows = df.filter(x.isNotNull && y.isNotNull)
      .select(x.as("__x"), y.as("__y"))
    val rx = rank2Map(rows.select(col("__x")), "__x", chunkSpan)
      .withColumnRenamed("__r2", "__rx2")
    val ry = rank2Map(rows.select(col("__y").as("__yv")), "__yv", chunkSpan)
      .withColumnRenamed("__r2", "__ry2")
    rows.join(rx, Seq("__x"))
      .join(ry, col("__y") === col("__yv"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("__rx2")).cast(dec).as("s_x"),
        sum(col("__ry2")).cast(dec).as("s_y"),
        sum(col("__rx2") * col("__ry2")).cast(dec).as("s_xy"),
        sum(col("__rx2") * col("__rx2")).cast(dec).as("s_xx"),
        sum(col("__ry2") * col("__ry2")).cast(dec).as("s_yy"))
  }

  /** Equal-frequency cut points as a TRAINED artifact: the nBins−1
    * exact discrete quantiles (the [[exactGroupedQuantiles]] rank
    * contract — the value at rank ceil(q·n/10⁴) in (value, tie) order)
    * of a REFERENCE frame, as (cut_idx, cut_value) rows. Learning cuts
    * on a reference split and applying them everywhere
    * ([[applyCuts]]) is the leakage-free form of quantile binning —
    * cutting each evaluation frame on its OWN quantiles leaks that
    * frame's distribution into a training-time feature and makes bins
    * incomparable across frames. Two-phase underneath, so the
    * reference frame never single-task sorts.
    */
  def quantileCuts(
      df: DataFrame,
      value: Column,
      tieCol: String,
      nBins: Int
  ): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val qs = (1 until nBins).map(i => i * 10000 / nBins)
    require(qs.distinct.size == qs.size,
      s"nBins=$nBins collapses adjacent cuts at basis-point resolution")
    val one = exactGroupedQuantiles(
      df.select(value.as("__qv"), col(tieCol)).withColumn("__g", lit(1L)),
      "__g", col("__qv"), tieCol, qs)
    one.select(explode(array(qs.zipWithIndex.map { case (q, i) =>
        struct(lit(i + 1).as("cut_idx"), col(s"q$q").as("cut_value"))
      }: _*)).as("c"))
      .select(col("c.cut_idx"), col("c.cut_value"))
  }

  /** EXACT Gini coefficient of a non-negative mass column — "does 1% of
    * the documents carry half the training tokens?", the corpus-
    * concentration gauge behind mixture and dedup decisions, as the
    * exact rational `gini_num / gini_den` from the closed form over
    * ranked values (1-based rank i in (value, tie) order):
    * `G = (2·Σ i·xᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ)` — tie order between
    * equal values cannot change Σ i·xᵢ, so the rank tiebreak only needs
    * to be deterministic, not semantic. Values must be non-negative
    * (caller contract; Gini is undefined below zero).
    *
    * Scale shape: ranks come from [[Curation.globalRank]]'s two-phase
    * chunk-carry (no single-task global sort), then ONE aggregation.
    * Sums ride decimal(38,0): Σ i·xᵢ at 10¹² rows of 10⁵-token docs is
    * ~10²⁹ — far past long. Output: (n, total, gini_num, gini_den).
    */
  def giniStats(
      df: DataFrame,
      value: Column,
      tieCol: String,
      chunkSpan: Long = 4096L
  ): DataFrame = {
    val dec = "decimal(38,0)"
    val ranked = Curation.globalRank(
      df.select(value.as("__gv"), col(tieCol)), "__gv", tieCol,
      nPhases = 1, chunkSpan = chunkSpan)
    ranked
      .agg(
        count(lit(1)).as("n"),
        sum(col("__gv")).cast(dec).as("total"),
        sum((col("global_rank") + 1L).cast(dec) * col("__gv").cast(dec))
          .cast(dec).as("__t"))
      .select(col("n"), col("total"),
        (lit(2L).cast(dec) * col("__t") -
          (col("n") + 1L).cast(dec) * col("total")).cast(dec)
          .as("gini_num"),
        (col("n").cast(dec) * col("total")).cast(dec).as("gini_den"))
  }

  /** Lorenz-curve buckets — the table BEHIND [[giniStats]]'s single
    * number: rows ranked by mass split into `nBuckets` equal-count
    * buckets (the [[Curation.globalRank]] phase index — exact integer
    * boundaries, not ntile approximations), each with its document
    * count, mass, and the cumulative pair (cum_docs, cum_mass) whose
    * ratio against the broadcast totals is the Lorenz point "the bottom
    * k/nBuckets of documents hold cum_mass/total of the tokens". All
    * exact; division left downstream.
    *
    * Scale shape: the two-phase rank, one bucket-keyed partial agg,
    * then cumsum windows over nBuckets rows (deliberately tiny, like
    * the chunk-carry frames).
    */
  def lorenzCurve(
      df: DataFrame,
      value: Column,
      tieCol: String,
      nBuckets: Int = 10,
      chunkSpan: Long = 4096L
  ): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    val dec = "decimal(38,0)"
    val ranked = Curation.globalRank(
      df.select(value.as("__gv"), col(tieCol)), "__gv", tieCol,
      nPhases = nBuckets, chunkSpan = chunkSpan)
    val per = ranked.groupBy(col("phase").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__gv")).cast(dec).as("mass"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per
      .withColumn("cum_docs", sum(col("n_docs")).over(w))
      .withColumn("cum_mass", sum(col("mass")).over(w).cast(dec))
      .crossJoin(broadcast(per.agg(
        sum(col("n_docs")).as("total_docs"),
        sum(col("mass")).cast(dec).as("total_mass"))))
  }

  /** Apply learned cut points: bin = how many cuts the value is ≥ (so
    * a value equal to a cut opens the next bin — left-closed bins),
    * NULL in, NULL out. `cuts` is the aggregate-sized artifact
    * ([[quantileCuts]] emits nBins−1 rows; the caller collects them —
    * the ivfCentroids driver-sizing contract) and compiles to one
    * codegen'd when-sum, zero joins at apply time.
    */
  def applyCuts(value: Column, cuts: Seq[Long]): Column = {
    require(cuts.nonEmpty, "need at least one cut")
    require(cuts == cuts.sorted, "cuts must be ascending")
    val b = cuts.foldLeft(lit(0L)) { (acc, c) =>
      acc + when(value >= c, 1L).otherwise(0L)
    }
    when(value.isNull, lit(null).cast("long")).otherwise(b)
  }
}
