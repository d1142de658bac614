package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Table loading + the deterministic transcript view.
  *
  * The engine's primary input is a transcript table
  * (conv_id, turn_idx, role, text, tool, ts). The driver's scale tables
  * don't ship one, so we derive it deterministically (pure projection +
  * one window on `conv_id`) from `events` — the same derivation is
  * expressible in ANSI SQL, which is what lets every transcript query
  * have a DuckDB oracle. In production this view is replaced by the real
  * Iceberg transcript table; nothing downstream changes.
  */
object Tables {

  /** Reads a table, normalizing TIMESTAMP_NTZ columns to TIMESTAMP — the
    * driver's parquet stores naive timestamps; under the fixed UTC session
    * zone the conversion is wall-clock identity, and instant-typed ts is
    * castable to epoch seconds (window range frames, session gaps).
    */
  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    df.schema.fields.foldLeft(df) { (acc, f) =>
      if (f.dataType == org.apache.spark.sql.types.TimestampNTZType)
        acc.withColumn(f.name, col(f.name).cast("timestamp"))
      else acc
    }
  }

  /** SQL-equivalent derivation documented in SparkEntry.oracleSql's
    * `turns` CTE — keep the two in lockstep.
    * The numbering window is partitioned on `conv_id`, a column of its
    * input: `'c' || user_id` is one to one (null to null), so the CTE's
    * `PARTITION BY user_id` numbers the same rows, and a filter on
    * `conv_id` (a resume's buckets) goes below the window to the scan.
    */
  def transcript(spark: SparkSession, dir: String): DataFrame = {
    val events = read(spark, dir, "events")
      .withColumn("conv_id", concat(lit("c"), col("user_id").cast("string")))
    val w = Window.partitionBy(col("conv_id")).orderBy(col("ts"), col("event_id"))
    events.select(
      col("conv_id"),
      (row_number().over(w) - 1).cast("int").as("turn_idx"),
      when(col("event_type").isin("click", "view"), "user")
        .when(col("event_type") === "purchase", "assistant")
        .when(col("event_type") === "signup", "system")
        .otherwise("tool")
        .as("role"),
      when(col("value") < 20.0, lit(null).cast("string"))
        .otherwise(concat(lit("  "), col("event_type"), lit(" "),
          col("props"), lit(" ")))
        .as("text"),
      when(col("event_type") === "error",
        concat(lit("tool_"), (col("event_id") % 3).cast("string")))
        .otherwise(lit(null).cast("string"))
        .as("tool"),
      col("ts")
    )
  }

  /** The `turns` CTE for DuckDB oracles — MUST mirror transcript(). */
  val turnsCte: String =
    """WITH turns AS (
      |  SELECT 'c' || CAST(user_id AS VARCHAR) AS conv_id,
      |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,
      |         CASE WHEN event_type IN ('click','view') THEN 'user'
      |              WHEN event_type = 'purchase' THEN 'assistant'
      |              WHEN event_type = 'signup' THEN 'system'
      |              ELSE 'tool' END AS role,
      |         CASE WHEN value < 20.0 THEN NULL
      |              ELSE '  ' || event_type || ' ' || props || ' ' END AS text,
      |         CASE WHEN event_type = 'error' THEN 'tool_' || CAST(event_id % 3 AS VARCHAR)
      |              ELSE NULL END AS tool,
      |         ts
      |  FROM events
      |)""".stripMargin
}
