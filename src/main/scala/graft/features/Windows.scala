package graft.features

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Alias, IsNotNull}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Windowed feature operators over per-entity event-time order.
  *
  * All operators share ONE window partitioning (entity key) and ordering
  * (ts, then a stable tiebreaker), so Catalyst plans them into a single
  * shuffle + sort even when several features stack — the dominant cost at
  * 10^12 turns is that one exchange, not the window functions.
  *
  * Zero-leakage: every feature frame ends at `currentRow` (never a
  * following row), so no feature reads ts greater than its anchor.
  */
object Windows {

  /** Per-conversation event-time window; `turn_idx` breaks ts ties
    * deterministically (BASELINE.md "stable (conv_id, turn_idx) order").
    */
  def turnWindow: WindowSpec =
    Window.partitionBy(col("conv_id")).orderBy(col("ts"), col("turn_idx"))

  def keyed(key: Seq[String], order: Seq[Column]): WindowSpec =
    Window.partitionBy(key.map(col): _*).orderBy(order: _*)

  /** lag/lead of `srcCol` by k rows (SURVEY.md §2.4). `lead` looks forward:
    * a label/target generator, not a feature — kept separate so leakage
    * audits can whitelist it explicitly.
    */
  def withLag(df: DataFrame, w: WindowSpec, srcCol: String, k: Int = 1,
      as: String = ""): DataFrame = {
    val name = if (as.isEmpty) s"${srcCol}_lag$k" else as
    df.withColumn(name, lag(col(srcCol), k).over(w))
  }

  def withLead(df: DataFrame, w: WindowSpec, srcCol: String, k: Int = 1,
      as: String = ""): DataFrame = {
    val name = if (as.isEmpty) s"${srcCol}_lead$k" else as
    df.withColumn(name, lead(col(srcCol), k).over(w))
  }

  /** Backfill / LOCF: last non-null observation carried forward. */
  def locf(df: DataFrame, w: WindowSpec, srcCol: String, as: String = "")
      : DataFrame = {
    val name = if (as.isEmpty) s"${srcCol}_locf" else as
    df.withColumn(
      name,
      last(col(srcCol), ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    )
  }

  /** LOCF with EXPIRY — the feature-store staleness contract: the last
    * observation carries forward only while it is at most `ttlSeconds`
    * old at the anchor's event time; older carries read NULL ("the
    * feature expired"), which is what a point-in-time consumer should
    * see instead of a value from arbitrarily deep in the past. The
    * carry rides ONE struct-valued last() over the same frame as
    * [[locf]] — the observation's own timestamp travels with its value,
    * so expiry is decided per anchor row with no extra join or window.
    * A row whose own `srcCol` is non-null is its own observation
    * (age 0, never expired). An observation with a NULL timestamp has
    * no timeline position and is IGNORED outright — it neither serves
    * nor shadows an earlier DATED observation (plain [[locf]] is the
    * operator for undated carries); this also keeps the oracle's
    * two-last_value replay exactly equivalent to the struct carry.
    */
  def locfTtl(
      df: DataFrame,
      w: WindowSpec,
      srcCol: String,
      tsCol: String,
      ttlSeconds: Long,
      as: String = ""
  ): DataFrame = {
    require(ttlSeconds >= 0, s"ttlSeconds must be >= 0, got $ttlSeconds")
    val name = if (as.isEmpty) s"${srcCol}_ttl" else as
    val carried = last(
      when(col(srcCol).isNotNull && col(tsCol).isNotNull,
        struct(col(tsCol).as("ts"), col(srcCol).as("v"))),
      ignoreNulls = true
    ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    df.withColumn("__carry", carried)
      .withColumn(name,
        when(col("__carry").isNotNull &&
          col(tsCol).cast("long") - col("__carry.ts").cast("long")
            <= ttlSeconds,
          col("__carry.v")))
      .drop("__carry")
  }

  /** Running aggregate up to and including the current row. */
  def runningSum(df: DataFrame, w: WindowSpec, expr: Column, as: String)
      : DataFrame =
    df.withColumn(
      as,
      sum(expr).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    )

  /** Running count of the rows where `pred` holds. `isNotNull(e)` counts `e`
    * itself, so no flag column is computed below the window.
    */
  def runningCount(df: DataFrame, w: WindowSpec, pred: Column, as: String)
      : DataFrame =
    GraftBridge.logicalPlan(df.select(pred)) match {
      case Project(Seq(Alias(IsNotNull(e), _)), _) => df.withColumn(as,
        count(GraftBridge.column(e))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      case _ => runningSum(df, w, when(pred, 1L).otherwise(0L), as)
    }

  /** Time-range rolling window: aggregate over the trailing `seconds`
    * (inclusive of the current row). Ordering is ts-as-epoch-seconds so the
    * frame is a true event-time range, not a row count.
    */
  def rollingByTime(
      df: DataFrame,
      key: Seq[String],
      tsCol: String,
      seconds: Long,
      aggs: Seq[(Column, String)]
  ): DataFrame = {
    val w = Window
      .partitionBy(key.map(col): _*)
      .orderBy(col(tsCol).cast("long"))
      .rangeBetween(-seconds, 0)
    aggs.foldLeft(df) { case (acc, (agg, name)) =>
      acc.withColumn(name, agg.over(w))
    }
  }

  /** Exponentially-decayed trailing sum with EXACT integer weights — the
    * "recent activity matters more" feature (EWMA family) kept on the
    * hard-oracle path: over the trailing `horizon` rows, the row at
    * distance d (0 = current) contributes `value · 2^(horizon−1−d)`, so
    * the current turn weighs 2× the previous, 4× the one before, etc.
    * Because the weights are powers of two applied to integer values,
    * the result is bit-exact under any execution order — no float decay
    * constant whose last ulp differs across engines (a 0<α<1 EWMA is
    * this divided by 2^(horizon−1) with α = 1/2, off the exact path).
    *
    * Scale shape: `horizon` lag frames over the SAME WindowSpec collapse
    * into one Exchange + Sort feeding a single Window operator — adding
    * a term costs a frame, never a shuffle; partitions are per-entity
    * (conversation-bounded), never corpus-sized. Rows missing a lag
    * (the first `horizon−1` of each partition) contribute 0 for the
    * absent terms, matching the oracle's range self-join.
    *
    * Overflow contract: caller guarantees max|value| · 2^horizon < 2^63
    * (e.g. text lengths < 2^40 at horizon 8). horizon ≤ 32 keeps any
    * plausible per-turn metric safe.
    */
  def decayedSum(
      df: DataFrame,
      w: WindowSpec,
      value: Column,
      horizon: Int,
      as: String
  ): DataFrame = {
    require(horizon >= 1 && horizon <= 32,
      "horizon must be in [1, 32] — weights are 2^(horizon-1-d) longs")
    val terms = (0 until horizon).map { d =>
      val v = if (d == 0) value else lag(value, d).over(w)
      coalesce(v.cast("long"), lit(0L)) * lit(1L << (horizon - 1 - d))
    }
    df.withColumn(as, terms.reduce(_ + _))
  }

  /** Half-life-decayed aggregate AT AN ANCHOR timestamp: one row per
    * group holding Σ value·w(age) where age = anchor − ts and the
    * weight halves every `halfLifeSec` in WHOLE steps —
    * w = 2^20 >> min(age div halfLife, 40) — so all arithmetic is
    * integer and the replay is bit-exact (a float 2^(−age/h) would not
    * cross engines deterministically). This is the recency-weighted
    * profile feature ("how active was this conversation, counting
    * yesterday half as much") evaluated point-in-time: rows with
    * ts > anchor are EXCLUDED — the backward-as-of ≤ convention, zero
    * temporal leakage — and ages beyond 40 half-lives weigh exactly 0.
    *
    * Unlike [[decayedSum]] (a per-row trailing LAG window), this is a
    * group-level aggregate: ONE partial-agg shuffle, no sort, no
    * window — the scan-fused weight projection combines map-side, so a
    * mega-group costs the same as any groupBy key. The decayed sum
    * accumulates in decimal(38,0): value·2^20 per row never overflows
    * long, and the group sum never overflows decimal below 10^18 rows.
    */
  def decayedAtAnchor(
      df: DataFrame,
      groupCols: Seq[String],
      tsCol: String,
      anchor: Column,
      value: Column,
      halfLifeSec: Long,
      as: String = "decayed"
  ): DataFrame = {
    require(halfLifeSec > 0, "halfLifeSec must be positive")
    val age = anchor.cast("long") - col(tsCol).cast("long")
    val steps = least(call_function("div", age, lit(halfLifeSec)), lit(40L))
    val w = call_function("shiftright", lit(1048576L), steps.cast("int"))
    df.filter(age >= 0)
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_past"),
        sum((value.cast("long") * w).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as(as))
  }

  /** Multi-horizon trailing features in ONE exchange: the same agg at
    * several lookbacks (e.g. 1 h / 6 h / 24 h trailing event counts —
    * the bread-and-butter multi-scale activity features). All horizons
    * share one `partitionBy(key) orderBy(ts)` sort, so Catalyst plans a
    * SINGLE Exchange + Sort feeding h Window frames — adding a horizon
    * costs a frame, never a shuffle. Column name per horizon:
    * `<prefix>_<seconds>s`.
    *
    * Frames are `rangeBetween(-h, 0)` on epoch seconds: trailing
    * INCLUSIVE of the current row — point-in-time safe (never reads
    * past the row's own ts).
    */
  def rollingMulti(
      df: DataFrame,
      key: Seq[String],
      tsCol: String,
      horizonsSec: Seq[Long],
      agg: Column,
      prefix: String
  ): DataFrame = {
    require(horizonsSec.nonEmpty, "need at least one horizon")
    require(horizonsSec.forall(_ > 0), "horizons must be positive seconds")
    require(horizonsSec.distinct.size == horizonsSec.size,
      "duplicate horizons produce duplicate column names")
    horizonsSec.foldLeft(df) { case (acc, h) =>
      val w = Window
        .partitionBy(key.map(col): _*)
        .orderBy(col(tsCol).cast("long"))
        .rangeBetween(-h, 0)
      acc.withColumn(s"${prefix}_${h}s", agg.over(w))
    }
  }

  /** Trailing EXACT discrete quantile over the `k` STRICTLY-PRECEDING
    * rows — the robust sibling of a trailing mean (a median shrugs off
    * the one million-byte turn that wrecks an average), leakage-safe by
    * frame construction (`rowsBetween(-k, -1)`: the current row never
    * sees itself or anything later). Quantile rule is the module
    * standard discrete rank ceil(qBp·n/10⁴) (no interpolation, stays in
    * the value domain, exact under the oracle); rows with fewer than one
    * preceding value yield NULL. `expr` must be non-null (wrap in
    * coalesce) — collect_list silently drops nulls, which would
    * otherwise skew n.
    *
    * Scale shape: the frame is k-BOUNDED, so the per-row sort buffer is
    * O(k) regardless of key size — safe even for a never-idle mega
    * conversation (contrast with unbounded-frame collect patterns).
    */
  def rollingQuantileDisc(
      df: DataFrame,
      w: WindowSpec,
      expr: Column,
      k: Int,
      qBp: Int,
      as: String
  ): DataFrame = {
    require(k > 0, "k (trailing row count) must be positive")
    require(qBp >= 1 && qBp <= 10000, "qBp is basis points in 1..10000")
    val arr = sort_array(collect_list(expr).over(w.rowsBetween(-k, -1)))
    val n = size(arr)
    val rank = call_function("div",
      lit(qBp.toLong) * n.cast("long") + 9999L, lit(10000L)).cast("int")
    df.withColumn(as, when(n > 0, element_at(arr, rank)))
  }
}
