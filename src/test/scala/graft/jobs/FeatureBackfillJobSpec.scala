package graft.jobs

import org.apache.spark.sql.GraftBridge
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.TestSpark
import graft.io.Checkpoint

/** End-to-end: the production entrypoint writes a complete, resumable,
  * metric-carrying feature dataset.
  */
class FeatureBackfillJobSpec extends AnyFunSuite with TimeLimits {
  lazy val spark = TestSpark.spark
  // interrupts a run blocked on an observation that no action fills
  implicit val signaler: Signaler = ThreadSignaler

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

  test("job run() over a fully committed output finishes and writes nothing") {
    val out = GraftBridge.tempDir("graft_backfill_job").toString
    def field(record: String, name: String): Long =
      s""""$name":(\\d+)""".r.findFirstMatchIn(record).get.group(1).toLong
    failAfter(5.minutes) {
      val first = FeatureBackfillJob.run(spark,
        Array("/root/testdata/sf0.001", out, "8", "job_run1"))
      assert(field(first, "buckets_promoted") == 8)
      assert(field(first, "observed_rows") == field(first, "rows"))
      val again = FeatureBackfillJob.run(spark,
        Array("/root/testdata/sf0.001", out, "8", "job_run2"))
      assert(field(again, "buckets_promoted") == 0)
      assert(field(again, "observed_rows") == 0)
      assert(field(again, "rows") == field(first, "rows"))
    }
  }
}
