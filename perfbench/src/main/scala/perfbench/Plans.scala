package perfbench

import scala.collection.mutable

import org.apache.spark.BenchBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, UnaryExecNode, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, AQEShuffleReadExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.plans.AsOfJoinExec

/** Reads SQL metrics back from the executed plans of the last actions. */
final class Plans(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  private val seen = mutable.ArrayBuffer[QueryExecution]()

  spark.listenerManager.register(new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      seen.synchronized(seen += qe)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  /** Runs `body` and returns the plans of the actions it ran. */
  def capture(body: => Unit): Seq[SparkPlan] = {
    BenchBridge.drainListeners(spark.sparkContext)
    seen.synchronized(seen.clear())
    body
    BenchBridge.drainListeners(spark.sparkContext)
    seen.synchronized(seen.map(_.executedPlan).toList)
  }

  /** (numMatchedRows, numOutputRows) summed over every as-of exec. */
  def asOfCounts(plans: Seq[SparkPlan]): (Long, Long) = {
    val execs = plans.flatMap(p => collect(p) { case a: AsOfJoinExec => a })
    (execs.map(_.metrics("numMatchedRows").value).sum,
      execs.map(_.metrics("numOutputRows").value).sum)
  }

  /** Rows that entered the window stage: the row count of the first
    * counted operator below the lowest `WindowExec` (its shuffle, its
    * filter or its scan).
    */
  def rowsIntoWindows(plans: Seq[SparkPlan]): Long = {
    def rows(p: SparkPlan): Option[Long] = p match {
      case s: ShuffleQueryStageExec => rows(s.plan)
      case e: ShuffleExchangeExec => e.metrics.get("shuffleRecordsWritten").map(_.value)
      case a: AQEShuffleReadExec => rows(a.child)
      case w: WholeStageCodegenExec => rows(w.child)
      case i: InputAdapter => rows(i.child)
      case p if p.metrics.contains("numOutputRows") => Some(p.metrics("numOutputRows").value)
      case u: UnaryExecNode => rows(u.child)
      case _ => None
    }
    val windows = plans.flatMap(p => collect(p) { case w: WindowExec => w })
    val lowest = windows.filter(w => collect(w.child) { case x: WindowExec => x }.isEmpty)
    lowest.flatMap(w => rows(w.child)).sum
  }
}
