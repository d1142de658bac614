package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Spark 4 hides the Column ↔ Expression conversions behind
  * `private[sql]`; this bridge re-exports them for graft's custom
  * expressions (same technique as other Spark extension libraries).
  */
object GraftBridge {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Materializes every output row of the plan (unlike count(), which lets
    * Catalyst prune projection-only plans down to a metadata count) — the
    * honest benchmark action.
    */
  def forceEvaluate(df: Dataset[_]): Long =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.toRdd.count()

  def logicalPlan(df: Dataset[_]): catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  def ofRows(df: Dataset[_],
      plan: catalyst.plans.logical.LogicalPlan): DataFrame = {
    val spark = df.asInstanceOf[classic.Dataset[_]].sparkSession
    classic.Dataset.ofRows(spark, plan)
  }

  /** A fresh directory under java.io.tmpdir that Spark deletes at JVM
    * exit, if [[deleteTempDir]] has not deleted it before.
    */
  def tempDir(prefix: String): java.io.File =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix)

  def deleteTempDir(dir: java.io.File): Unit = {
    org.apache.spark.util.Utils.deleteRecursively(dir)
    org.apache.spark.util.ShutdownHookManager.removeShutdownDeleteDir(dir)
  }

  /** Blocks until every event posted so far has reached the listeners
    * (query-execution listeners run on the listener bus, after the action).
    */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** `s` with every field nullable, nested ones included, as a file
    * source reads it.
    */
  def asNullable(s: types.StructType): types.StructType = s.asNullable

  def optimizedPlan(df: Dataset[_]): catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.optimizedPlan

  def executedPlan(df: Dataset[_]): execution.SparkPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.executedPlan

  /** Pre-AQE physical plan — where EnsureRequirements has already placed
    * (or elided) the exchanges, before adaptive re-planning wraps stages.
    */
  def sparkPlan(df: Dataset[_]): execution.SparkPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.sparkPlan
}
