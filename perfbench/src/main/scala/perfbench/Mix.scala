package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `SparkEntry` operator queries over fixed tables, run and dumped the way
  * `Verify` does, so that `scripts/compare.py` can check them.
  */
object Mix {
  /** Operator queries that loop, launching Spark jobs round by round. */
  val Queries = Seq("q_tree_order", "q_pagerank", "q_cluster_split", "q_label_spread")

  /** Writes one query's result the way `Verify` dumps it. */
  def run(spark: SparkSession, name: String, dataDir: String, out: String): Unit =
    SparkEntry.queries(name)(spark, dataDir)
      .coalesce(1).write.mode("overwrite").parquet(s"$out/$name")

  /** The mix's oracle SQL, in the `oracle_sql.json` shape `Verify` writes. */
  def writeOracle(out: String, queries: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      Json(queries.map(q => q -> SparkEntry.oracleSql(q)).toMap))
  }
}
