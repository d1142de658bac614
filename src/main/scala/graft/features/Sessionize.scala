package graft.features

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization: a new session starts when the time since the
  * previous event (per key) exceeds `gapSeconds` (SURVEY.md §2.4).
  *
  * One shuffle on the key; boundary flags + running sum assign dense
  * session ordinals. Purely backward-looking (lag + cumulative sum), so it
  * cannot leak future timestamps into a session id.
  */
object Sessionize {

  /** Adds `session_seq` (0-based per key) and `session_id`
    * (`<key>#<seq>`).
    */
  def apply(
      df: DataFrame,
      key: Seq[String],
      tsCol: String,
      gapSeconds: Long,
      tieBreak: Seq[String] = Nil
  ): DataFrame = {
    val order = (Seq(tsCol) ++ tieBreak).map(col)
    val w = Window.partitionBy(key.map(col): _*).orderBy(order: _*)
    val prevTs = col("__prev_ts")
    val boundary = when(
      prevTs.isNull ||
        col(tsCol).cast("long") - prevTs.cast("long") > gapSeconds,
      1L
    ).otherwise(0L)
    df.withColumn("__prev_ts", lag(col(tsCol), 1).over(w))
      .withColumn("__boundary", boundary)
      .withColumn(
        "session_seq",
        sum(col("__boundary"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1L
      )
      .drop("__prev_ts", "__boundary")
      .withColumn(
        "session_id",
        concat_ws("#", key.map(col) :+ col("session_seq").cast("string"): _*)
      )
  }

  /** Gap sessionization PLUS a maximum-duration cap: each gap session
    * is sliced into fixed `maxSeconds` windows measured from the
    * session's first event (`slice_seq = floor((ts − session_start) /
    * maxSeconds)`) — the bound batch jobs and billing/limit semantics
    * need ("no session longer than N") that pure gap logic cannot give
    * when events trickle steadily. Fixed-width slicing from the session
    * start is the closed-form, engine-replayable contract; the
    * alternative "restart the clock at each split" rule is inherently
    * sequential (each boundary depends on the previous one) and is
    * deliberately NOT what this computes.
    *
    * One extra window over (key, session_seq) for the session-start
    * min — gap sessions are bounded by construction (a gap ends them),
    * so the per-partition cardinality caveat of session-keyed windows
    * is the same one [[summary]] already carries.
    */
  def capped(
      df: DataFrame,
      key: Seq[String],
      tsCol: String,
      gapSeconds: Long,
      maxSeconds: Long,
      tieBreak: Seq[String] = Nil
  ): DataFrame = {
    require(maxSeconds > 0, s"maxSeconds must be positive, got $maxSeconds")
    val s = apply(df, key, tsCol, gapSeconds, tieBreak)
    val ws = Window.partitionBy((key :+ "session_seq").map(col): _*)
    s.withColumn("slice_seq",
        floor((col(tsCol).cast("long") -
          min(col(tsCol).cast("long")).over(ws)) / maxSeconds).cast("long"))
      .withColumn("capped_session_id",
        concat_ws("#", col("session_id"), col("slice_seq").cast("string")))
  }

  /** Per-session summary features (length, duration, tool usage). */
  def summary(
      sessionized: DataFrame,
      key: Seq[String],
      tsCol: String
  ): DataFrame =
    sessionized
      .groupBy((key :+ "session_id").map(col): _*)
      .agg(
        count(lit(1)).as("n_turns"),
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        (max(col(tsCol)).cast("long") - min(col(tsCol)).cast("long"))
          .as("duration_sec")
      )
}
