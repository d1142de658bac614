package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory: one place for the configs that matter at
  * scale (AQE, shuffle partition sizing, UTC) so the tests, Bench and the
  * backfill job run the same engine configuration.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.hadoop.fs.file.impl", classOf[io.NioLocalFileSystem].getName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 << 20).toString)
      // tmpfs shuffle dirs: on a single box the shared disk is an
      // artificial bottleneck that a real N-node cluster doesn't have
      // (each node brings its own local SSDs); /dev/shm models that.
      // Spark creates a missing dir when its block manager starts.
      .config("spark.local.dir", "/dev/shm/graft-spark")

  def local(cores: Int): SparkSession = {
    val s = builder(s"local[$cores]", math.max(cores, 4)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
