package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract smoke: entry() yields rows; every queries() entry runs
  * at sf0.001; every oracleSql key has a matching query.
  */
class EntrySmokeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("entry() produces feature rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all queries execute at sf0.001") {
    // every query also leaves the shared session as it found it: same
    // conf and planner state, no new temp view, and no streaming replay's
    // scratch dir
    val dir = "/root/testdata/sf0.001"
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def tempViews: Set[String] = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    def replayDirs: Set[String] = Option(tmp.list()).toSet.flatten
      .filter(_.startsWith(graft.streaming.Replay.ScratchPrefix))
    SparkEntry.queries.foreach { case (name, fn) =>
      val (conf, views, dirs) = (spark.conf.getAll, tempViews, replayDirs)
      val (strategies, rules) = (spark.experimental.extraStrategies,
        spark.experimental.extraOptimizations)
      val n = fn(spark, dir).count()
      assert(n >= 0, name)
      assert(spark.conf.getAll == conf, s"$name changed the session conf")
      assert(spark.experimental.extraStrategies == strategies &&
        spark.experimental.extraOptimizations == rules,
        s"$name changed the session's planner strategies or optimizer rules")
      assert((tempViews -- views).isEmpty, s"$name left a temp view")
      if (name.startsWith("q_stream_"))
        assert((replayDirs -- dirs).isEmpty, s"$name left replay scratch")
      info(s"$name: $n rows")
    }
  }

  test("oracleSql keys all map to queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("no two plan-inspectable queries are the same computation") {
    // canonicalized optimized plans must be pairwise distinct — two green
    // oracle rows for one computation would inflate the query count.
    // Queries with side effects (temp dirs, sinks, streaming replays)
    // embed fresh paths per call and are inherently distinct; comparing
    // the pure ones is the meaningful check and keeps this test cheap.
    val dir = "/root/testdata/sf0.001"
    val sideEffecting = Set("q_ingest_split", "q_checkpoint_resume",
      "q_write_shards", "q_write_jsonl", "q_compact_exec",
      "q_stream_sessionize", "q_stream_sessionize_files",
      "q_stream_locf", "q_stream_window", "q_stream_dedup", "q_stream_resume",
      "q_stream_sess_resume", "q_stream_enrich", "q_stream_join",
      "q_stream_dedup_wm", "q_stream_asof", "q_stream_asof_fwd",
      "q_stream_encode", "q_stream_hll", "q_stream_cms", "q_stream_cdc",
      "q_stream_anomaly", "q_stream_neardup")
    // key = canonical plan + OUTPUT COLUMN NAMES: canonicalization
    // erases names, which falsely collides driver-materialized
    // selection queries (mmrSelect, coverageSelect, bpeLearnMerges…) —
    // their returned plan is just a LocalRelation of the loop's result,
    // so same-shaped outputs looked identical even though the actual
    // computations (upstream of the driver loop) are entirely different
    val plans = SparkEntry.queries.view
      .filterKeys(!sideEffecting.contains(_)).toMap
      .map { case (name, fn) =>
        val qe = fn(spark, dir).queryExecution
        name -> (qe.optimizedPlan.canonicalized.toString + "\n" +
          qe.analyzed.schema.fieldNames.mkString(","))
      }
    val dupes = plans.toSeq
      .groupBy(_._2)
      .values.filter(_.size > 1)
      .map(_.map(_._1).sorted.mkString(" == "))
    assert(dupes.isEmpty, s"duplicate query bodies: ${dupes.mkString("; ")}")
  }
}
