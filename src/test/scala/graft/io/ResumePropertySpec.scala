package graft.io

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Observation}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Pipeline, TestSpark}
import graft.features.AsOfNative
import graft.metrics.Lineage
import graft.plans.AsOfJoinPlan

/** Seeded differential property for the resume pushdown: over random
  * transcripts, plain or bucketed, and random sets of committed buckets, a
  * resume must write what a clean write writes, and the predicates
  * `AsOfFilterPushdown` copies into the as-of join's right input must
  * change no match:
  *
  *   clean write ≡ write, drop the uncommitted buckets, resume
  *   join.filter(keyPred ∧ tsPred) ≡ (join, materialized).filter(...)
  *
  * and a predicate on `ts` never reaches the right input.
  */
class ResumePropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Buckets = 8

  /** Random turns of few conversations, a few rows or none a quarter of
    * the time.
    */
  private def randomTurns(seed: Int): DataFrame = {
    val rnd = new Random(seed)
    val nConvs = 1 + rnd.nextInt(12)
    val n = rnd.nextInt(4) match {
      case 0 => rnd.nextInt(5) // a few rows, or none
      case _ => 5 + rnd.nextInt(120)
    }
    turns(rnd, nConvs, n)
  }

  /** `n` turns over `nConvs` conversations: colliding timestamps, sparse
    * tools, empty and over-long texts (rejected by the gate).
    */
  private def turns(rnd: Random, nConvs: Int, n: Int): DataFrame =
    (0 until n).map { i =>
      val text = rnd.nextInt(8) match {
        case 0 => ""
        case 1 => "x" * 4001
        case _ => s"Turn $i "
      }
      val tool = if (rnd.nextInt(3) == 0) s"t${rnd.nextInt(3)}" else null
      (s"c${rnd.nextInt(nConvs)}", i, "user", text, tool,
        new Timestamp(1700000000000L + rnd.nextInt(40) * 600000L))
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")

  private def backfill(turns: DataFrame, out: String, runId: String,
      nBuckets: Int = Buckets): Observation = {
    val (features, obs) = Lineage.observed(Pipeline.featuresFromTurns(turns), "ts")
    Checkpoint.write(features, "conv_id", out, nBuckets, "spec", runId)
    obs
  }

  private def rows(out: String) =
    Checkpoint.read(spark, out).orderBy("conv_id", "turn_idx").collect().toSeq

  /** Clean write, then a write of which the `committed` buckets are kept
    * and a resume: the resume writes what the clean write wrote, and its
    * observation counts the rows it writes.
    */
  private def assertResumeIsClean(turns: DataFrame, dir: String, nBuckets: Int,
      committed: Set[Int], clue: String): Unit = {
    val clean = s"$dir/clean"
    backfill(turns, clean, "clean", nBuckets)
    val out = s"$dir/resumed"
    backfill(turns, out, "first", nBuckets)
    Checkpoint.invalidate(out, (0 until nBuckets).toSet -- committed)
    val obs = backfill(turns, out, "resume", nBuckets)
    assert(rows(out) == rows(clean), s"$clue committed=$committed")
    val manifest = Checkpoint.metrics(out)._1
    assert(manifest == Checkpoint.metrics(clean)._1, clue)
    val written = manifest.collect { case (b, r) if !committed(b) => r }.sum
    assert(obs.get("rows") == written, s"$clue committed=$committed")
  }

  test("resume ≡ clean write: random transcripts × random committed buckets") {
    for (seed <- 1 to 6) {
      val dir = GraftBridge.tempDir("graft_resume_prop").toString
      randomTurns(seed).write.mode("overwrite").parquet(dir)
      val rnd = new Random(1000 + seed)
      val committed = (0 until Buckets).filter(_ => rnd.nextBoolean()).toSet
      assertResumeIsClean(spark.read.parquet(dir), dir, Buckets, committed, s"seed=$seed")
    }
  }

  test("resume over Bucketed.read ≡ clean write: N table buckets × n " +
    "checkpoint buckets, coprime, dividing and equal") {
    // (N, n): coprime; N divides n; n divides N; N = n
    val layouts = Seq((3, 8), (5, 4), (7, 6), (4, 8), (2, 16), (8, 4), (16, 8),
      (6, 3), (8, 8), (4, 4))
    for (((nTable, n), i) <- layouts.zipWithIndex) {
      val seed = 100 + i
      val rnd = new Random(seed)
      val dir = GraftBridge.tempDir("graft_resume_bucketed").toString
      val table = s"t_resume_prop_$i"
      // enough conversations to fill most table buckets, and up to a
      // quarter of the checkpoint buckets, at least one, left to resume, so
      // that a table bucket missed by the scan loses rows
      Bucketed.writeTranscript(turns(rnd, 20 + rnd.nextInt(40), 60 + rnd.nextInt(200)),
        table, s"$dir/table", nTable)
      val committed = rnd.shuffle((0 until n).toList)
        .drop(1 + rnd.nextInt(math.max(1, n / 4))).toSet
      assertResumeIsClean(Bucketed.read(spark, table), dir, n, committed,
        s"seed=$seed N=$nTable n=$n")
    }
  }

  private case class Anchor(k: String, g: Int, x: Double, idx: Int, ts: Long)
  private case class Obs(k: String, g: Int, x: Double, ts: Long, v: Int)

  private def randomJoinInput(seed: Int): (DataFrame, DataFrame) = {
    val rnd = new Random(seed)
    val nKeys = 1 + rnd.nextInt(5)
    val anchors = (0 until rnd.nextInt(40)).map(i =>
      Anchor(s"k${rnd.nextInt(nKeys)}", rnd.nextInt(2), rnd.nextInt(2) * 0.5,
        i, rnd.nextInt(12).toLong))
    val right = (0 until rnd.nextInt(30))
      .map(_ => Obs(s"k${rnd.nextInt(nKeys + 1)}", rnd.nextInt(2),
        rnd.nextInt(2) * 0.5, rnd.nextInt(12).toLong, rnd.nextInt(1000)))
      .distinctBy(o => (o.k, o.g, o.x, o.ts)) // the unique-(keys, ts) contract
    def ts(s: Long) = new Timestamp(s * 1000L)
    (anchors.map(a => (a.k, a.g, a.x, a.idx, ts(a.ts)))
      .toDF("conv_id", "grp", "x", "turn_idx", "ts"),
      right.map(o => (o.k, o.g, o.x, ts(o.ts), o.v))
        .toDF("conv_id", "grp", "x", "ts", "obs"))
  }

  private def sorted(df: DataFrame) =
    df.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq

  /** Filters in the right input of every as-of join in `df`'s plan. */
  private def rightFilters(df: DataFrame): Seq[Filter] =
    GraftBridge.optimizedPlan(df).collect { case j: AsOfJoinPlan => j.right }
      .flatMap(_.collect { case f: Filter => f })

  test("key-only filter over AsOfNative.joinBackward ≡ the join filtered " +
    "afterwards; a ts predicate never reaches the right input") {
    for (seed <- 1 to 12) {
      val rnd = new Random(seed)
      // non-local inputs: Spark folds a Filter over a LocalRelation into it
      val (anchors, right) = randomJoinInput(seed) match {
        case (a, r) => (a.localCheckpoint(), r.localCheckpoint())
      }
      val keys = if (seed % 2 == 0) Seq("conv_id", "grp") else Seq("conv_id")
      val keyPred: Column = seed % 3 match {
        case 0 => col("conv_id").isin("k0", "k2")
        case 1 => Checkpoint.RemainingBuckets(col("conv_id"), 3, Seq(rnd.nextInt(3)))
        case _ => pmod(hash(col("conv_id")), lit(2)) === 0
      }
      val tsPred = col("ts") >= new Timestamp(rnd.nextInt(12) * 1000L)
      val joined = AsOfNative.joinBackward(anchors, right, keys)
      val materialized = joined.localCheckpoint()
      for (pred <- Seq(keyPred, keyPred && tsPred)) {
        val pushed = joined.filter(pred)
        assert(sorted(pushed) == sorted(materialized.filter(pred)),
          s"seed=$seed keys=$keys pred=$pred")
        val filters = rightFilters(pushed)
        assert(filters.nonEmpty, s"seed=$seed: $pred not copied to the right")
        assert(!filters.exists(_.references.exists(_.name == "ts")),
          s"seed=$seed: a ts predicate reached the right input")
      }
      // keys compared by ordering, not identity of value (0.0 = -0.0):
      // a predicate on such a key stays on the left
      val onDouble = AsOfNative.joinBackward(anchors, right, Seq("conv_id", "x"))
        .filter(col("x") > 0.0)
      assert(rightFilters(onDouble).isEmpty, s"seed=$seed")
    }
  }
}
