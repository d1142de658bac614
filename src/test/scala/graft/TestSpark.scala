package graft

import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.functions._

/** One shared local session for the whole test JVM (Test / fork := true). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)

  /** A scale-table directory holding `events.parquet`, the input of
    * `Tables.transcript`: `20 * nUsers` events spread over `nUsers`
    * users, in four files.
    */
  def eventsDir(nUsers: Int): String = {
    val dir = GraftBridge.tempDir("graft_events").toString
    val id = col("id")
    spark.range(0L, 20L * nUsers, 1L, 4)
      .select(
        id.as("event_id"),
        timestamp_seconds(lit(1700000000L) + pmod(id * 7919L, lit(86400L))).as("ts"),
        pmod(id * id, lit(nUsers.toLong)).as("user_id"),
        element_at(array(Seq("click", "view", "purchase", "signup", "error").map(lit): _*),
          (pmod(id, lit(5L)) + 1).cast("int")).as("event_type"),
        pmod(id * 37L, lit(100L)).cast("double").as("value"),
        concat(lit("{\"k\":"), pmod(id, lit(7L)).cast("string"), lit("}")).as("props"))
      .write.parquet(s"$dir/events.parquet")
    dir
  }
}
