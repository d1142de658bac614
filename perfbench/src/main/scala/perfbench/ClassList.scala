package perfbench

import graft.io.Checkpoint

/** Runs each workload's backfill and resume once on a tiny input, so that
  * `run.py` can record the classes a run loads in a class-data-sharing
  * archive that the runs start from: the JVM and Spark then start, and
  * the first jobs run, seconds sooner.
  *
  * Usage: perfbench.ClassList <dir>
  */
object ClassList {
  def main(argv: Array[String]): Unit = {
    val dir = argv(0)
    val spark = Main.session(dir)
    for (w <- Seq("backfill_longtail", "backfill_megaconv")) {
      val in = Backfill.stage(spark, w, 1L, 40L, s"$dir/$w/input")
      val out = s"$dir/$w/out"
      Backfill.write(spark, in, out, "classes")
      Checkpoint.invalidate(out, Backfill.Invalidated)
      Backfill.write(spark, in, out, "classes_resume")
    }
    spark.stop()
  }
}
