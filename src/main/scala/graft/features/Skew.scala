package graft.features

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Explicit skew handling (north rule: "partitioning / shuffle / skew
  * handled explicitly"; SURVEY.md §7.4 item 9).
  *
  * AQE's skew-join splitting (enabled in GraftSession) covers joins; this
  * covers skewed AGGREGATIONS: a mega-key (one conversation with 10^8
  * turns) funnels into a single reducer under plain groupBy. The salted
  * two-phase form spreads each key over `salts` partial aggregates and
  * recombines — turning one hot reducer into `salts` balanced ones.
  *
  * Applicable whenever the aggregate is algebraic (reassociatable):
  * sum/count/min/max and anything built from them.
  */
object Skew {

  import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

  /** True when `dt` contains a MapType at any nesting level. */
  private[features] def containsMap(dt: DataType): Boolean = dt match {
    case _: MapType    => true
    case s: StructType => s.fields.exists(f => containsMap(f.dataType))
    case a: ArrayType  => containsMap(a.elementType)
    case _             => false
  }

  /** `df` with `__salt` in [0, salts): a hash of the input partition id
    * and the hashable row content. Not monotonically_increasing_id(),
    * whose ids shift when a stage is recomputed under another
    * partitioning; not content alone, which puts a mega-key of identical
    * rows (mass-duplicated boilerplate) on one salt. Deterministic for a
    * fixed input layout: a retried task re-reads its partition. Columns
    * holding a MapType at any depth are left out (hash() rejects them).
    */
  private def salted(df: DataFrame, salts: Int): DataFrame = {
    val hashable =
      df.schema.fields.toSeq.filterNot(f => containsMap(f.dataType)).map(f => col(f.name))
    df.withColumn("__salt", pmod(hash(spark_partition_id() +: hashable: _*), lit(salts)))
  }

  /** `cols` packed into one struct column. An operator clustered on the
    * columns themselves accepts an input hash-partitioned on the key
    * alone and plans no exchange, which leaves a hot key in one task;
    * clustered on the struct it shuffles on the salt or chunk too.
    */
  private[features] def packed(cols: Seq[String]): Column =
    struct(cols.map(col): _*)

  /** Two-phase salted aggregation. `partials` aggregate within each
    * (key, salt) group; `merges` recombine the partial columns (by name)
    * per key — e.g. partial `count(*) as n_part` merges as
    * `sum(col("n_part")) as n`.
    */
  def saltedAgg(
      df: DataFrame,
      keys: Seq[String],
      salts: Int,
      partials: Seq[(Column, String)],
      merges: Seq[(Column, String)]
  ): DataFrame = {
    require(partials.nonEmpty && merges.nonEmpty)
    val phase1 = salted(df, salts)
      .groupBy(packed(keys :+ "__salt").as("__ks"))
      .agg(partials.head._1.as(partials.head._2),
        partials.tail.map { case (c, n) => c.as(n) }: _*)
    phase1
      .groupBy(keys.map(k => col("__ks").getField(k).as(k)): _*)
      .agg(merges.head._1.as(merges.head._2),
        merges.tail.map { case (c, n) => c.as(n) }: _*)
  }

  /** Convenience: salted count + sum per key (the common turn-volume /
    * token-volume rollup shape).
    */
  def saltedCountSum(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      salts: Int = 16
  ): DataFrame =
    saltedAgg(
      df, keys, salts,
      partials = Seq(count(lit(1)) -> "__n", sum(col(valueCol)) -> "__s"),
      merges = Seq(sum(col("__n")) -> "n", sum(col("__s")) -> "s")
    )

  /** The keys of `df` whose row count exceeds `threshold` — the "hot"
    * set a skew-aware plan special-cases. One partial-agg shuffle over
    * the key columns only (never payload); output is as many rows as
    * there are hot keys, which is small by definition (a key is hot
    * BECAUSE few keys hold most rows).
    */
  def hotKeys(df: DataFrame, keys: Seq[String], threshold: Long): DataFrame = {
    require(threshold > 0, "threshold must be positive")
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("hot_n"))
      .filter(col("hot_n") > threshold)
  }

  /** Scale-safe per-key top-k: the k best rows of every key under
    * `order`, WITHOUT ever sorting a whole key in one task. The naive
    * `row_number().over(partitionBy(key))` serializes a mega-key (a
    * stopword's postings, a dominant language) into a single sort — the
    * same failure mode saltedAgg exists for. Here each key is spread
    * over `salts` sub-groups (the salt of [[saltedAgg]]), the top-k of
    * each sub-group survives phase 1, and phase 2 re-ranks the ≤ salts·k
    * survivors per key — a bounded partition no matter how hot the key.
    *
    * Correctness: any row in a key's global top-k is necessarily in its
    * sub-group's top-k (row_number is monotone under a fixed order), so
    * phase 1 never drops a winner; the routes agree exactly when
    * `order` is a TOTAL order within each key (callers must supply a
    * tiebreaker — with ties the surviving representatives are
    * ambiguous under ANY distributed evaluation, salted or not).
    *
    * Output: the input columns plus `rnk` (1-based long). One shuffle
    * per phase; phase 2 moves ≤ salts·k rows per key.
    */
  def topKPerKey(
      df: DataFrame,
      keys: Seq[String],
      order: Seq[Column],
      k: Int,
      salts: Int = 16
  ): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    require(order.nonEmpty,
      "need a total order (with tiebreaker) within each key")
    require(k > 0 && salts > 0, "k and salts must be positive")
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(packed(keys :+ "__salt"))
      .orderBy(order: _*)
    val phase1 = salted(df, salts)
      .withColumn("__r1", row_number().over(w1))
      .filter(col("__r1") <= k)
      .drop("__salt", "__r1")
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(order: _*)
    phase1
      .withColumn("rnk", row_number().over(w2).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Skew-aware inner equi-join (north rule: "broadcast of skewed
    * conversations"): rows whose key is HOT join against a BROADCAST of
    * the right side's hot slice — the mega-conversation never funnels
    * into one sort-merge partition — while cold keys take the normal
    * shuffle join. Output ≡ `left.join(right, keys)` exactly; only the
    * route differs.
    *
    * This is the case AQE's skew splitting does NOT cover: AQE splits an
    * oversized left partition but still SHUFFLES it (and only
    * post-shuffle); routing hot keys through a broadcast removes the hot
    * rows from the exchange entirely, which matters when one
    * conversation is tens of GB. The broadcast is `right ⋉ hotKeys` —
    * size it by the right side's per-key payload (a per-conv dim row),
    * NOT by the left's row count; `threshold` controls that trade.
    *
    * Scale shape: one key-only count shuffle (hot detection) + one
    * broadcast of (hot keys ⋉ right) + one shuffle join of the cold
    * remainder. The hot-key frame is broadcast into both split filters,
    * so the left scans twice but never shuffles its hot rows.
    */
  def skewJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      hotThreshold: Long
  ): DataFrame = {
    require(keys.nonEmpty, "need at least one join key")
    val hot = broadcast(hotKeys(left, keys, hotThreshold).drop("hot_n"))
    val leftHot = left.join(hot, keys, "left_semi")
    val leftCold = left.join(hot, keys, "left_anti")
    val rightHot = right.join(hot, keys, "left_semi")
    val hotJoined = leftHot.join(broadcast(rightHot), keys)
    val coldJoined = leftCold.join(right, keys)
    hotJoined.unionByName(coldJoined)
  }
}
