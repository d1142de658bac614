package graft.io

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.RowNumber
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, QueryExecution, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.{Pipeline, TestSpark}
import graft.metrics.Lineage
import graft.plans.FeatureScanExec
import graft.schema.TranscriptGen

/** Checkpoint/resume: a partial run + resume must equal a clean run
  * (north-rule resumability), and manifests must carry per-partition
  * lineage + row counts.
  */
class CheckpointSpec extends AnyFunSuite with AdaptiveSparkPlanHelper with TimeLimits {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  // interrupts a test blocked on an observation that no action fills
  implicit val signaler: Signaler = ThreadSignaler

  private def tmp(): String =
    GraftBridge.tempDir("graft_ckpt").toString

  test("clean write commits all buckets with manifest metrics") {
    val df = TranscriptGen.generateDF(spark, 50)
    val out = tmp()
    val promoted = Checkpoint.write(df, "conv_id", out, nBuckets = 8,
      input = "synthetic:50", runId = "run1")
    assert(promoted == (0 until 8).toSet)
    val (rows, skew) = Checkpoint.metrics(out)
    assert(rows.keySet == (0 until 8).toSet)
    assert(rows.values.sum == df.count())
    assert(skew >= 1.0)
    assert(Checkpoint.read(spark, out).count() == df.count())
  }

  test("invalidate recomputes exactly the chosen buckets (repair path)") {
    val df = TranscriptGen.generateDF(spark, 50)
    val out = tmp()
    Checkpoint.write(df, "conv_id", out, 8, "synthetic:50", "i1")
    val before = Checkpoint.read(spark, out)
      .orderBy("conv_id", "turn_idx").collect()
    Checkpoint.invalidate(out, Set(2, 5))
    assert(Checkpoint.committedBuckets(out) == Set(0, 1, 3, 4, 6, 7))
    val promoted = Checkpoint.write(df, "conv_id", out, 8, "synthetic:50", "i2")
    assert(promoted == Set(2, 5), s"recomputed $promoted, expected {2,5}")
    val after = Checkpoint.read(spark, out)
      .orderBy("conv_id", "turn_idx").collect()
    assert(after.toSeq == before.toSeq)
  }

  test("double-run: a second writer over a fully-committed dir is a no-op " +
    "and never clobbers the first run's commits") {
    val df = TranscriptGen.generateDF(spark, 40)
    val out = tmp()
    val first = Checkpoint.write(df, "conv_id", out, 8, "synthetic:40", "a1")
    assert(first == (0 until 8).toSet)
    val before = Checkpoint.read(spark, out)
      .orderBy("conv_id", "turn_idx").collect()
    // second run (different runId) racing the same out dir after the first
    // completed: must promote nothing and leave the first run's manifest
    // lineage (run_id) and data bit-identical
    val second = Checkpoint.write(df, "conv_id", out, 8, "synthetic:40", "b2")
    assert(second.isEmpty, s"second run promoted $second")
    val manifests = (0 until 8).map { b =>
      Files.readString(
        java.nio.file.Paths.get(out, "_manifest", s"bucket-$b.json"))
    }
    assert(manifests.forall(_.contains("\"run_id\":\"a1\"")),
      "second run must not rewrite the first run's manifest entries")
    val after = Checkpoint.read(spark, out)
      .orderBy("conv_id", "turn_idx").collect()
    assert(after.toSeq == before.toSeq)
    // interim-commit guard: a bucket committed between the resume scan and
    // promotion (simulated by invalidating then hand-committing bucket 3
    // with foreign lineage before the rewrite) is skipped, not clobbered
    Checkpoint.invalidate(out, Set(3))
    val foreign = """{"bucket":3,"rows":0,"input":"other","run_id":"zz"}"""
    Files.writeString(
      java.nio.file.Paths.get(out, "_manifest", "bucket-3.json"), foreign)
    val third = Checkpoint.write(df, "conv_id", out, 8, "synthetic:40", "c3")
    assert(third.isEmpty)
    assert(Files.readString(
      java.nio.file.Paths.get(out, "_manifest", "bucket-3.json")) == foreign)
  }

  test("resume after partial run equals clean run") {
    val df = TranscriptGen.generateDF(spark, 50)
    val clean = tmp()
    Checkpoint.write(df, "conv_id", clean, 8, "synthetic:50", "c1")

    // partial: full write, then simulate a run killed mid-commit by
    // removing the manifest entries and data of half the buckets
    val partial = tmp()
    Checkpoint.write(df, "conv_id", partial, 8, "synthetic:50", "p1")
    (4 until 8).foreach { b =>
      Files.deleteIfExists(
        java.nio.file.Paths.get(partial, "_manifest", s"bucket-$b.json"))
      val dir = java.nio.file.Paths.get(partial, s"bucket=$b")
      if (Files.exists(dir))
        Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.delete(p))
    }
    val committedBefore = Checkpoint.committedBuckets(partial)
    assert(committedBefore == (0 until 4).toSet)

    // resume with the FULL input: only missing buckets are written
    val promoted = Checkpoint.write(df, "conv_id", partial, 8,
      "synthetic:50", "p2")
    assert((committedBefore ++ promoted) == (0 until 8).toSet)

    val a = Checkpoint.read(spark, clean).orderBy("conv_id", "turn_idx")
      .collect().toSeq
    val b = Checkpoint.read(spark, partial).orderBy("conv_id", "turn_idx")
      .collect().toSeq
    assert(a == b, "resume output differs from clean run")
  }

  test("commit phase launches O(1) jobs regardless of bucket count") {
    val df = TranscriptGen.generateDF(spark, 60)
    val out = tmp()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Checkpoint.write(df, "conv_id", out, nBuckets = 32,
        input = "synthetic:60", runId = "jobs1")
      Thread.sleep(1000) // let the listener bus drain
    } finally spark.sparkContext.removeSparkListener(listener)
    // the staged write, whose observation carries the row counts (+ a
    // possible schema probe) — NOT one count job per bucket
    assert(jobs.get() <= 5,
      s"expected O(1) jobs for 32 buckets, saw ${jobs.get()}")
    val (rows, _) = Checkpoint.metrics(out)
    assert(rows.values.sum == df.count())
  }

  test("observation lineage metrics ride along the action") {
    val df = TranscriptGen.generateDF(spark, 10)
    val (observed, obs) = Lineage.observed(df, "ts")
    val n = observed.count()
    val m = obs.get
    assert(m("rows") == n)
    assert(m("null_ts") == 0L)
  }

  /** `FeatureBackfillJob`'s body over `turns`: returns the observation. */
  private def backfill(turns: DataFrame, out: String, runId: String,
      nBuckets: Int = 8): Map[String, Any] =
    backfillFeatures(Pipeline.featuresFromTurns(turns), out, runId, nBuckets)

  private def backfillFeatures(flagship: DataFrame, out: String, runId: String,
      nBuckets: Int): Map[String, Any] = {
    val (features, obs) = Lineage.observed(flagship, "ts")
    Checkpoint.write(features, "conv_id", out, nBuckets, "spec", runId)
    obs.get
  }

  private def sorted(out: String) =
    Checkpoint.read(spark, out).orderBy("conv_id", "turn_idx").collect().toSeq

  /** Executed plans of the actions `body` runs. */
  private def captured(body: => Unit): Seq[SparkPlan] = {
    val seen = mutable.ArrayBuffer[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        seen.synchronized(seen += qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    GraftBridge.drainListeners(spark)
    spark.listenerManager.register(listener)
    try { body; GraftBridge.drainListeners(spark) }
    finally spark.listenerManager.unregister(listener)
    seen.synchronized(seen.toList)
  }

  /** Rows out of the first operator at or below `p` that counts them (a
    * shuffle's records written, else `numOutputRows`).
    */
  private def rowsOut(p: SparkPlan): Option[Long] = p match {
    case s: QueryStageExec => rowsOut(s.plan)
    case e: ShuffleExchangeExec => e.metrics.get("shuffleRecordsWritten").map(_.value)
    case c if c.metrics.contains("numOutputRows") => Some(c.metrics("numOutputRows").value)
    case u: UnaryExecNode => rowsOut(u.child)
    case _ => None
  }

  test("resume: the observation counts exactly the promoted buckets' rows") {
    val turns = TranscriptGen.generateDF(spark, 60)
    val out = tmp()
    val full = backfill(turns, out, "o1")
    assert(full("rows") == turns.count())
    Checkpoint.invalidate(out, Set(2, 5))
    val resumed = backfill(turns, out, "o2")
    val (rows, _) = Checkpoint.metrics(out)
    assert(resumed("rows") == rows(2) + rows(5))
    assert(rows.values.sum == turns.count())
  }

  test("a plain observe followed by a filter still counts every row") {
    val df = TranscriptGen.generateDF(spark, 30)
    // the resume rule is registered on the session by any resume
    val out = tmp()
    Checkpoint.write(df, "conv_id", out, 8, "spec", "f1")
    Checkpoint.invalidate(out, Set(1))
    Checkpoint.write(df, "conv_id", out, 8, "spec", "f2")
    val (observed, obs) = Lineage.observed(df, "ts")
    // the same bucket test a resume makes, written by the user
    val kept = observed.filter(pmod(hash(col("conv_id")), lit(8)).isin(1))
    kept.write.format("noop").mode("overwrite").save()
    assert(obs.get("rows") == df.count())
    assert(kept.count() < df.count())
  }

  test("resume over plain parquet windows and joins only the invalidated " +
    "buckets' rows") {
    val dir = tmp()
    TranscriptGen.generateDF(spark, 60).write.mode("overwrite").parquet(dir)
    val turns = spark.read.parquet(dir)
    val out = tmp()
    backfill(turns, out, "w1")
    val inv = Set(0, 3, 6)
    Checkpoint.invalidate(out, inv)
    val plans = captured(backfill(turns, out, "w2"))
    // a table without buckets has no bucket set to narrow
    val scans = plans.flatMap(collect(_) { case s: FileSourceScanExec => s })
    assert(scans.nonEmpty && scans.forall(_.optionalBucketSet.isEmpty))
    val (rows, _) = Checkpoint.metrics(out)
    val invRows = inv.toSeq.map(rows).sum
    // the one pass computes the windows and the as-of over exactly the
    // invalidated buckets' rows
    val fused = plans.flatMap(collect(_) { case f: FeatureScanExec => f })
    assert(fused.size == 1, plans)
    assert(rowsOut(fused.head.child) == Some(invRows))
  }

  test("resume over Pipeline.features numbers and windows only the " +
    "invalidated buckets' rows") {
    val dir = TestSpark.eventsDir(80)
    def run(out: String, runId: String) =
      backfillFeatures(Pipeline.features(spark, dir), out, runId, nBuckets = 32)
    val clean = tmp()
    run(clean, "e0")
    val out = tmp()
    run(out, "e1")
    val inv = (0 until 32 by 4).toSet
    Checkpoint.invalidate(out, inv)
    val plans = captured(run(out, "e2"))
    val (rows, _) = Checkpoint.metrics(out)
    val invRows = inv.toSeq.map(rows).sum
    assert(invRows > 0 && invRows < rows.values.sum)
    // the only window below the one pass is the derivation's turn
    // numbering; both see exactly the invalidated buckets' rows
    val fused = plans.flatMap(collect(_) { case f: FeatureScanExec => f })
    assert(fused.size == 1, plans)
    val rowNumber = collect(fused.head) { case w: WindowExec => w }
    assert(rowNumber.size == 1, plans)
    val numbering = rowNumber.head
    assert(numbering.windowExpression.exists(_.find(_.isInstanceOf[RowNumber]).nonEmpty))
    assert(rowsOut(numbering.child) == Some(invRows))
    assert(rowsOut(fused.head.child) == Some(invRows))
    assert(sorted(out) == sorted(clean))
  }

  /** The file scans of the plans that run the flagship's one pass. */
  private def flagshipScans(plans: Seq[SparkPlan]): Seq[FileSourceScanExec] =
    plans.filter(p => collect(p) { case f: FeatureScanExec => f }.nonEmpty)
      .flatMap(collect(_) { case s: FileSourceScanExec => s })

  private def bucketSet(s: FileSourceScanExec): Option[Set[Int]] =
    s.optionalBucketSet.map(_.iterator.toSet)

  test("resume over Bucketed.read plans zero shuffles") {
    val table = "t_ckpt_resume"
    Bucketed.writeTranscript(TranscriptGen.generateDF(spark, 60), table, tmp(), nBuckets = 8)
    val clean = tmp()
    backfill(Bucketed.read(spark, table), clean, "b0")
    val out = tmp()
    val full = captured(backfill(Bucketed.read(spark, table), out, "b1"))
    Checkpoint.invalidate(out, Set(1, 6))
    val plans = captured(backfill(Bucketed.read(spark, table), out, "b2"))
      .filter(p => collect(p) { case f: FeatureScanExec => f }.nonEmpty)
    assert(plans.nonEmpty)
    val exchanges = plans.flatMap(collect(_) { case e: ShuffleExchangeExec => e })
    assert(exchanges.isEmpty, s"resume shuffles:\n${plans.mkString("\n")}")
    assert(sorted(out) == sorted(clean))
    // 8 table buckets, 8 checkpoint buckets: gcd 8, so checkpoint bucket c
    // is table bucket c, read by the flagship's one scan
    assert(flagshipScans(plans).map(bucketSet) == Seq(Some(Set(1, 6))))
    // a full write prunes nothing
    assert(flagshipScans(full).map(bucketSet) == Seq(None))
  }

  test("resume of checkpoint buckets {0, 4, …, 28} of 32 over 8 table " +
    "buckets reads table buckets 0 and 4") {
    val table = "t_ckpt_resume_32"
    Bucketed.writeTranscript(TranscriptGen.generateDF(spark, 80), table, tmp(), nBuckets = 8)
    val clean = tmp()
    backfill(Bucketed.read(spark, table), clean, "g0", nBuckets = 32)
    val out = tmp()
    backfill(Bucketed.read(spark, table), out, "g1", nBuckets = 32)
    Checkpoint.invalidate(out, (0 until 32 by 4).toSet)
    val plans = captured(backfill(Bucketed.read(spark, table), out, "g2", nBuckets = 32))
    val scans = flagshipScans(plans)
    // gcd(8, 32) = 8, and every invalidated bucket is ≡ 0 or 4 (mod 8)
    assert(scans.map(bucketSet) == Seq(Some(Set(0, 4))))
    assert(scans.map(_.metadata.get("SelectedBucketsCount")) == Seq(Some("2 out of 8")))
    assert(plans.flatMap(collect(_) { case e: ShuffleExchangeExec => e }).isEmpty)
    assert(sorted(out) == sorted(clean))
    assert(Checkpoint.metrics(out)._1 == Checkpoint.metrics(clean)._1)
  }

  test("a write over a fully committed output reads nothing and fills its " +
    "input's observation with zero counts") {
    val dir = tmp()
    TranscriptGen.generateDF(spark, 30).write.mode("overwrite").parquet(dir)
    val out = tmp()
    backfill(spark.read.parquet(dir), out, "z1")
    val before = sorted(out)
    failAfter(2.minutes) {
      val plans = captured {
        assert(backfill(spark.read.parquet(dir), out, "z2") ==
          Map("rows" -> 0L, "null_ts" -> 0L, "min_ts" -> null, "max_ts" -> null))
      }
      assert(plans.nonEmpty)
      assert(plans.flatMap(collect(_) { case s: FileSourceScanExec => s }).isEmpty)
      assert(plans.flatMap(collect(_) { case s: LocalTableScanExec => s }).nonEmpty)
    }
    assert(sorted(out) == before)
  }

  test("FeatureScanExec's row and match counts equal a recount of the output") {
    val dir = tmp()
    TranscriptGen.generateDF(spark, 60).write.mode("overwrite").parquet(dir)
    val out = tmp()
    val plans = captured(backfill(spark.read.parquet(dir), out, "m1"))
    val fused = plans.flatMap(collect(_) { case f: FeatureScanExec => f })
    assert(fused.size == 1, plans)
    val written = Checkpoint.read(spark, out)
    val matched = written.filter(col("last_tool").isNotNull).count()
    assert(matched > 0)
    assert(fused.head.metrics("numOutputRows").value == written.count())
    assert(fused.head.metrics("numMatchedRows").value == matched)
  }

  test("read of an output whose committed buckets hold no rows: no rows, " +
    "the writer's schema") {
    val df = TranscriptGen.generateDF(spark, 20).filter(col("turn_idx") < 0)
    val out = tmp()
    assert(Checkpoint.write(df, "conv_id", out, 8, "spec", "n1") == (0 until 8).toSet)
    assert(Checkpoint.metrics(out)._1.values.sum == 0L)
    val back = Checkpoint.read(spark, out)
    assert(back.collect().isEmpty)
    assert(back.schema == GraftBridge.asNullable(df.schema))
    // the schema a read of rows gives
    val full = tmp()
    Checkpoint.write(TranscriptGen.generateDF(spark, 20), "conv_id", full, 8, "spec", "n2")
    assert(back.schema == Checkpoint.read(spark, full).schema)
  }

  test("partition histogram reports skew") {
    val df = TranscriptGen.generateDF(spark, 30).repartition(4)
    val (hist, skew) = Lineage.partitionHistogram(df)
    assert(hist.values.sum == df.count())
    assert(skew >= 1.0)
  }

  test("bucketManifest: totals conserve, buckets in range, null-ts and " +
    "distinct-key counts exact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      ("c1", Some("2026-01-01 10:00:00")), ("c1", None),
      ("c2", Some("2026-01-01 11:00:00")), ("c3", Some("2026-01-01 12:00:00"))
    ).toDF("conv_id", "ts_s").withColumn("ts", col("ts_s").cast("timestamp"))
    val m = Lineage.bucketManifest(df, "conv_id", "ts", nBuckets = 4).cache()
    assert(m.agg(sum("n_rows")).head.getLong(0) == 4L)
    assert(m.agg(sum("n_null_ts")).head.getLong(0) == 1L)
    assert(m.agg(sum("n_keys")).head.getLong(0) == 3L) // keys hash to distinct buckets or sum still 3
    assert(m.filter(col("bucket") < 0 || col("bucket") >= 4).count() == 0L)
    m.unpersist()
  }
}
