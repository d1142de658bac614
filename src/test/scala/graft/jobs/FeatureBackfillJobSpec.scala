package graft.jobs

import org.apache.spark.sql.GraftBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.io.Checkpoint

/** End-to-end: the production entrypoint writes a complete, resumable,
  * metric-carrying feature dataset.
  */
class FeatureBackfillJobSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("backfill job writes all buckets with manifest + correct rows") {
    val out = GraftBridge.tempDir("graft_backfill").toString
    val features = graft.Pipeline.features(spark, "/root/testdata/sf0.001")
    val expected = features.count()
    val promoted = Checkpoint.write(features, "conv_id", out, 8,
      "/root/testdata/sf0.001", "spec_run")
    assert(promoted == (0 until 8).toSet)
    val (rows, skew) = Checkpoint.metrics(out)
    assert(rows.values.sum == expected)
    assert(skew >= 1.0)
    assert(Checkpoint.read(spark, out).count() == expected)
    // idempotent: second run promotes nothing, output unchanged
    val again = Checkpoint.write(features, "conv_id", out, 8,
      "/root/testdata/sf0.001", "spec_run2")
    assert(again.isEmpty)
    assert(Checkpoint.read(spark, out).count() == expected)
  }
}
