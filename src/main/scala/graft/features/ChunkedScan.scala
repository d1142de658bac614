package graft.features

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mega-key-safe running scan (SURVEY.md §7.4 item 9): a running
  * aggregate per key in `order`, without ever sorting a whole key in one
  * task. `window(...).over(partitionBy(key))` funnels each key into one
  * task, so one hot key (a 10^8-turn conversation, the web stratum of a
  * training mix, a language holding most of a corpus) serializes the
  * stage; salting alone breaks the frame (a salt cannot see the rows of
  * the other salts).
  *
  * Two phases, over a `chunk` column that is monotone in `order` (a
  * time or value range: rows of an earlier chunk come strictly earlier
  * in `order`):
  *   1. the window runs WITHIN each (keys, chunk), clustered on the
  *      packed column ([[Skew.packed]]), so a hot key spreads over as
  *      many tasks as it has chunks even when the input is already
  *      partitioned on the key;
  *   2. one row per (keys, chunk) aggregates the chunk; an exclusive
  *      window over those rows per key gives each chunk its carry-in,
  *      which joins back on the packed column and combines with the
  *      within-chunk value (`+` for [[Sum]], `coalesce(within, carry)`
  *      for [[Last]]).
  * No task sorts more than one chunk of real rows; the carry window
  * sorts one row per chunk. The join on the packed column matches a
  * null key or a null chunk like any other value, so a null key is a
  * group, as it is under `partitionBy`.
  *
  * Output: `df`'s columns in order, then each carry's `as` column (a
  * carry named like an input column replaces it).
  */
object ChunkedScan {

  /** The rows of its key that the scan at a row reads, in `order`. */
  sealed trait Frame
  /** Rows up to and including the current row. */
  case object UpToCurrent extends Frame
  /** Rows strictly before the current row. */
  case object RowsBefore extends Frame
  /** Rows whose order value is strictly smaller — ties are excluded both
    * ways. `order` must then be one integral column (Spark's range frame).
    */
  case object RangeBefore extends Frame

  /** A running aggregate of `value`, output as `as`. */
  sealed trait Carry { def as: String; def value: Column }
  /** Running sum; `zero` is the sum over no rows, typed as the sum. */
  final case class Sum(as: String, value: Column, zero: Column) extends Carry
  /** The last non-null value (null while none was seen). */
  final case class Last(as: String, value: Column) extends Carry

  private val Kc = "__cs_kc"
  private val Chunk = "__cs_chunk"

  def apply(
      df: DataFrame,
      keys: Seq[String],
      chunk: Column,
      order: Seq[Column],
      frame: Frame,
      carries: Carry*
  ): DataFrame = {
    require(order.nonEmpty, "ChunkedScan needs an order")
    require(carries.nonEmpty, "ChunkedScan needs at least one carry")
    val within = carries.indices.map(i => s"__cs_in$i")
    val chunkAgg = carries.indices.map(i => s"__cs_agg$i")
    val carryIn = carries.indices.map(i => s"__cs_carry$i")
    val reserved = Seq(Kc, Chunk) ++ within ++ chunkAgg ++ carryIn
    require(!reserved.exists(df.columns.contains) && !keys.contains(Chunk),
      s"ChunkedScan reserves the column names ${reserved.mkString(", ")}")

    val keyed = df.withColumn(Chunk, chunk)
      .withColumn(Kc, Skew.packed(keys :+ Chunk))
      .drop(Chunk)

    // phase 1: the window within each (keys, chunk)
    val byChunk = Window.partitionBy(col(Kc)).orderBy(order: _*)
    val w1 = frame match {
      case UpToCurrent => byChunk.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      case RowsBefore => byChunk.rowsBetween(Window.unboundedPreceding, -1)
      case RangeBefore => byChunk.rangeBetween(Window.unboundedPreceding, -1)
    }
    val scanned = carries.zip(within).foldLeft(keyed) {
      case (d, (Sum(_, v, zero), in)) => d.withColumn(in, coalesce(sum(v).over(w1), zero))
      case (d, (Last(_, v), in)) => d.withColumn(in, last(v, ignoreNulls = true).over(w1))
    }

    // phase 2: one row per chunk, the exclusive carry over the chunks of
    // each key, joined back on the packed column
    val aggs = carries.zip(chunkAgg).map {
      case (Sum(_, v, _), a) => sum(v).as(a)
      case (Last(_, v), a) => max_by(v, when(v.isNotNull, struct(order: _*))).as(a)
    }
    val wc = Window.partitionBy(keys.map(col(Kc).getField): _*)
      .orderBy(col(Kc).getField(Chunk))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carried = carries.zip(chunkAgg).map {
      case (Sum(_, _, zero), a) => coalesce(sum(col(a)).over(wc), zero)
      case (Last(_, _), a) => last(col(a), ignoreNulls = true).over(wc)
    }
    val carry = keyed.groupBy(col(Kc)).agg(aggs.head, aggs.tail: _*)
      .select(col(Kc) +: carried.zip(carryIn).map { case (c, n) => c.as(n) }: _*)

    val joined = scanned.join(carry, Seq(Kc))
    carries.zip(within.zip(carryIn)).foldLeft(joined) {
      case (d, (Sum(as, _, _), (in, c))) => d.withColumn(as, col(in) + col(c))
      case (d, (Last(as, _), (in, c))) => d.withColumn(as, coalesce(col(in), col(c)))
    }.drop(reserved: _*)
  }
}
