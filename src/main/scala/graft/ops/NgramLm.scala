package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** N-gram language-model TRAINING statistics at corpus scale — the
  * counts an interpolated Kneser–Ney bigram model is fit from. The
  * surprisal family ([[TextStats]] q_lm_surprisal) SCORES documents
  * against a bigram table; this op produces the table itself, with the
  * continuation counts plain MLE counts lack:
  *
  *   - `c`            raw corpus count of the bigram (w1, w2)
  *   - `left_types`   N1+(•, w2): distinct left contexts of w2 — KN's
  *                    continuation numerator (how "promiscuous" w2 is,
  *                    not how frequent: "Francisco" is frequent but has
  *                    one context)
  *   - `right_types`  N1+(w1, •): distinct continuations of w1 — the
  *                    discount-mass normalizer λ(w1)'s type count
  *   - `d_total`      total distinct bigrams: the continuation
  *                    denominator Σ_w N1+(•, w)
  *
  * All exact integers; the discount/interpolation arithmetic (the only
  * floats) stays downstream, the same contract as q_lm_surprisal and
  * q_bm25.
  */
object NgramLm {

  /** One row per distinct bigram with `c >= minCount`, carrying the four
    * KN sufficient statistics. Continuation counts are computed over ALL
    * bigrams before the `minCount` output filter — thresholding the
    * output must not change the model's counts.
    *
    * Scale shape: the corpus collapses to the distinct-bigram table B in
    * ONE scan + partial-agg-friendly groupBy (B is vocab-pair-bounded —
    * orders of magnitude smaller than the corpus). `left_types` /
    * `right_types` are count windows OVER B: each partition is one
    * word's distinct-neighbor set, bounded by vocabulary size, never by
    * corpus size (the skew ceiling is "how many distinct words follow
    * 'the'" — fixed-width rows, fine in one task; a
    * [[graft.features.ChunkedScan]] applies if a vocabulary ever
    * outgrows that).
    * `d_total` rides a broadcast one-row crossJoin (the [[Retrieval]]
    * bm25Stats pattern) — its branch recomputes B's lineage, so the op
    * is two corpus scans total, both scan-bound.
    */
  /** The distinct-bigram count table (w1, w2, c) both stats families
    * derive from: one scan + partial-agg-friendly groupBy, vocab-pair
    * bounded output.
    */
  private def bigramCounts(df: DataFrame, textCol: String): DataFrame = {
    val ws = Dedup.words(col(textCol))
    val m = size(ws) - 1
    // adjacent pairs as structs: ws only at top level (each slice
    // evaluates the split once per row); the lambda touches lambda vars
    // only — no O(n^2) re-split (see Dedup.shingles' note)
    val pairs = when(size(ws) < 2, array().cast("array<struct<w1:string,w2:string>>"))
      .otherwise(zip_with(slice(ws, lit(1), m), slice(ws, lit(2), m),
        (a, b) => struct(a.as("w1"), b.as("w2"))))
    df
      .select(explode(pairs).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      // empty "words" are single-space-split artifacts (doubled spaces),
      // not vocabulary — excluded on both engines (the q_lm_surprisal
      // convention)
      .filter(col("w1") =!= "" && col("w2") =!= "")
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
  }

  def knBigramStats(
      df: DataFrame,
      textCol: String,
      minCount: Long = 1L
  ): DataFrame = {
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    val b = bigramCounts(df, textCol)
    val wL = org.apache.spark.sql.expressions.Window.partitionBy(col("w2"))
    val wR = org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))
    val total = b.agg(count(lit(1)).as("d_total"))
    b
      .withColumn("left_types", count(lit(1)).over(wL))
      .withColumn("right_types", count(lit(1)).over(wR))
      .crossJoin(broadcast(total))
      .filter(col("c") >= minCount)
      .select(col("w1"), col("w2"), col("c"), col("left_types"),
        col("right_types"), col("d_total"))
  }

  /** Good–Turing frequency-of-frequencies: for each observed bigram
    * count value `c`, how many distinct bigrams occur exactly `c` times
    * (`n_c`), plus the total bigram TOKEN mass `big_n = Σ c·n_c`. These
    * are the GT smoother's whole input — c* = (c+1)·N_{c+1}/N_c and the
    * unseen-mass estimate N_1/N ride downstream as the only floats (the
    * [[knBigramStats]] contract). The table is also the honest histogram
    * behind "how heavy is this corpus's tail": n_1/Σn_c is the
    * hapax-legomena rate, a crawl-quality gauge in its own right.
    *
    * Scale shape: the corpus collapses to the vocab-pair-bounded bigram
    * table (one partial-agg shuffle), then to at most |distinct count
    * values| rows (≤ a few thousand even at 100 TB — counts are
    * Zipf-concentrated) in a second tiny agg; the total rides a
    * broadcast one-row crossJoin.
    */
  def goodTuringCounts(df: DataFrame, textCol: String): DataFrame = {
    val freq = bigramCounts(df, textCol)
      .groupBy(col("c"))
      .agg(count(lit(1)).as("n_c"))
    val total = freq.agg(
      coalesce(sum(col("c") * col("n_c")), lit(0L)).as("big_n"))
    freq.crossJoin(broadcast(total))
      .select(col("c"), col("n_c"), col("big_n"))
  }
}
