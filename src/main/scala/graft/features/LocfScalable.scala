package graft.features

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mega-key-safe LOCF (SURVEY.md §7.4 item 9 — "the one genuinely novel
  * algorithmic piece"): plain `last(..., ignoreNulls).over(conv window)`
  * funnels each conversation into ONE task, so a single 10^8-turn
  * conversation serializes the stage. Naive salting breaks the window
  * frame (a salt bucket can't see earlier buckets' values).
  *
  * Two-phase fix:
  *   1. partition by (key, time-chunk) — a mega key spreads over many
  *      chunks/tasks — and LOCF *within* each chunk;
  *   2. per (key, chunk) take the chunk's last observation, LOCF those
  *      tiny per-chunk rows across chunks (shifted by one → each chunk's
  *      carry-in), and patch rows whose within-chunk LOCF was null.
  *
  * Phase 2's window runs over #chunks rows per key (tiny), so no task ever
  * sees more than one chunk of real data. Exact equality with the
  * single-window LOCF is tested in LocfScalableSpec.
  */
object LocfScalable {

  def apply(
      df: DataFrame,
      key: Seq[String],
      tsCol: String,
      tieCol: String,
      srcCol: String,
      chunkSeconds: Long,
      as: String = ""
  ): DataFrame = {
    val out = if (as.isEmpty) s"${srcCol}_locf" else as
    val keyChunk = key :+ "__chunk"
    val df1 = df.withColumn("__chunk", floor(col(tsCol).cast("long") / chunkSeconds))
      .withColumn("__kc", Skew.packed(keyChunk))

    // phase 1: LOCF within (key, chunk)
    val w1 = Window
      .partitionBy(col("__kc"))
      .orderBy(col(tsCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val partial = df1.withColumn("__partial",
      last(col(srcCol), ignoreNulls = true).over(w1))

    // phase 2: per-chunk last observation, then carry-in per chunk =
    // LOCF over the chunk sequence, shifted one chunk back (none for or
    // from a row whose key or chunk is null)
    val complete = df1.filter(keyChunk.map(col(_).isNotNull).reduce(_ && _))
    val chunkLast = complete
      .filter(col(srcCol).isNotNull)
      .groupBy(col("__kc"))
      .agg(max_by(col(srcCol), struct(col(tsCol), col(tieCol)))
        .as("__chunk_last"))
    val allChunks = complete.select(col("__kc")).distinct()
    val wc = Window
      .partitionBy(key.map(col("__kc").getField): _*)
      .orderBy(col("__kc").getField("__chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = allChunks
      .join(chunkLast, Seq("__kc"), "left")
      .withColumn("__carry_in",
        last(col("__chunk_last"), ignoreNulls = true).over(wc))
      .select(col("__kc"), col("__carry_in"))

    partial
      .join(carry, Seq("__kc"), "left")
      .withColumn(out, coalesce(col("__partial"), col("__carry_in")))
      .drop("__chunk", "__kc", "__partial", "__carry_in")
  }
}
