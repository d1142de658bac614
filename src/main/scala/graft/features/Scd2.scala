package graft.features

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SCD-2 dimension-history build: turn a change-event feed
  * `(key, ts, attributes…)` into validity intervals
  * `[valid_from = ts, valid_to = next change's ts)` per key — the table
  * shape every point-in-time feature store serves dimension attributes
  * from, and exactly what [[AsOf]] consumes as its right side (backward
  * as-of against the change feed ≡ interval lookup against this
  * history, without the interval table ever being materialized twice).
  *
  * `valid_to` is `lead(ts)` over `(key, ts, tie)` order, but a naive
  * per-key window serializes a mega-key (one conversation with 10⁹
  * turns, one entity carrying half the feed) into a single task. Here
  * the lead is a [[ChunkedScan]] in negated time: the last `ts` among
  * the rows strictly before the current one in descending `(ts, tie)`
  * order (the time negation of [[AsOfNative.joinForward]]), over
  * time-span chunks. Tasks are bounded by the chunk span, never by the
  * hottest key's row count; a null key is a key.
  */
object Scd2 {

  /** Append `valid_to` (timestamp of the key's next change, null = still
    * current) and `is_current` to a change feed. Ordering within a key is
    * `(tsCol, tieCol)`; same-instant changes get zero-length intervals in
    * tie order — deterministic, and the final same-instant change wins
    * any `[ts, ts)`-excluded lookup, matching as-of semantics. A null
    * `tsCol` is a corrupt change event and FAILS LOUD rather than
    * landing in an arbitrary chunk. `tieCol` is integral (bitwise NOT
    * reverses its order).
    *
    * `chunkSpanSec` bounds a task to one key's changes within the span —
    * size it so `hottest key × span` fits a task (86400 = a day per
    * task; a key would need ~10⁸ same-day changes to hurt).
    */
  def validIntervals(
      changes: DataFrame,
      keyCol: String,
      tsCol: String,
      tieCol: String,
      chunkSpanSec: Long = 86400L
  ): DataFrame = {
    require(chunkSpanSec > 0, "chunkSpanSec must be positive")
    val reserved = Seq("valid_to", "is_current")
    require(!reserved.exists(changes.columns.contains),
      s"validIntervals reserves the column names ${reserved.mkString(", ")}")
    val ts = col(tsCol)
    val guardedSec = when(ts.isNotNull, unix_timestamp(ts))
      .otherwise(raise_error(lit(
        s"validIntervals: null $tsCol — a change event must carry its timestamp")))
    ChunkedScan(changes, Seq(keyCol), -floor(guardedSec / chunkSpanSec),
        Seq(AsOfNative.negatedMicros(changes, tsCol), bitwise_not(col(tieCol))),
        ChunkedScan.RowsBefore, ChunkedScan.Last("valid_to", ts))
      .withColumn("is_current", col("valid_to").isNull)
  }
}
