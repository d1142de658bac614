package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.compile.WaryGate
import graft.features.{Sessionize, Windows}
import graft.io.{Bucketed, Checkpoint}
import graft.metrics.Lineage
import graft.schema.TranscriptGen

/** The north-rule backfill as `FeatureBackfillJob` runs it: features over
  * the staged transcript, `Lineage.observed`, then `Checkpoint.write`.
  */
object Backfill {
  val Buckets = 32
  val InvalidatedBuckets = 8
  val LayoutBuckets = 8
  private val Table = "perfbench_turns"

  /** The staged input and how the backfill reads it. */
  final case class Input(path: String, read: SparkSession => DataFrame)

  /** Generates the workload's transcript from `seed` with `TranscriptGen`
    * and stages it under `dir`; the pipeline sees only the staged table.
    *
    *  - `backfill_longtail`: `nConvs` conversations of the Zipf long tail,
    *    as plain parquet;
    *  - `backfill_megaconv`: `nConvs / 2` conversations of the long tail
    *    plus one conversation holding as many turns again (half of all
    *    turns), written with `Bucketed.writeTranscript` and read through
    *    the catalog.
    */
  def stage(spark: SparkSession, workload: String, seed: Long, nConvs: Long,
      dir: String): Input =
    workload match {
      case "backfill_longtail" =>
        TranscriptGen.generate(spark, nConvs, seed, partitions = 8).toDF()
          .write.mode("overwrite").parquet(dir)
        Input(dir, s => s.read.parquet(dir))
      case "backfill_megaconv" =>
        val tailConvs = nConvs / 2
        val longTail = TranscriptGen.generate(spark, tailConvs, seed, partitions = 8).toDF()
        // TranscriptGen gives a conversation whose number is a multiple of
        // 97 exactly maxLen turns; pick one past the long tail's ids.
        val convNo = (tailConvs / 97 + 1) * 97
        val megaTurns = (0L until tailConvs).map(c => TranscriptGen.turnsFor(seed, c, 4096).size).sum
        import spark.implicits._
        val mega = spark.range(0L, 1L, 1L, 1).as[Long]
          .flatMap(_ => TranscriptGen.turnsFor(seed, convNo, megaTurns)).toDF()
        Bucketed.writeTranscript(longTail.union(mega), Table, dir, LayoutBuckets)
        Input(dir, s => Bucketed.read(s, Table))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** `FeatureBackfillJob`'s body: one write of the buckets missing from
    * `out`, with the lineage observation riding along.
    */
  def write(spark: SparkSession, in: Input, out: String, runId: String): Map[String, Any] = {
    val (features, obs) =
      Lineage.observed(Pipeline.featuresFromTurns(in.read(spark)), "ts")
    Checkpoint.write(features, "conv_id", out, Buckets, in.path, runId)
    obs.get
  }

  /** The buckets a resume recomputes: every fourth one. Fixed, so that the
    * 4096-turn conversations (their ids do not depend on the seed) fall in
    * the same buckets on every seed and a resume does the same work.
    */
  val Invalidated: Set[Int] = (0 until Buckets by Buckets / InvalidatedBuckets).toSet

  /** Hard-link copy of a committed output, so that a resume can work on
    * the copy while the clean output stays for the checks.
    */
  def linkCopy(from: String, to: String): Unit = {
    val src = Paths.get(from)
    scala.util.Using.resource(Files.walk(src)) { paths =>
      paths.iterator.asScala.foreach { p =>
        val dst = Paths.get(to).resolve(src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(dst)
        else Files.createLink(dst, p)
      }
    }
  }

  def manifestRows(out: String, buckets: Set[Int]): Long =
    Checkpoint.metrics(out)._1.collect { case (b, r) if buckets(b) => r }.sum

  def parquetFiles(out: String): Long =
    scala.util.Using.resource(Files.walk(Paths.get(out))) {
      _.iterator.asScala.count(_.getFileName.toString.endsWith(".parquet")).toLong
    }

  // ---------------------------------------------------------- traced prefixes
  // Cumulative prefixes of Pipeline.featuresFromTurns, kept in step with it:
  // scan → +gate → +windows → +as-of (the pipeline itself).

  def gated(turns: DataFrame): DataFrame =
    WaryGate(turns, Pipeline.turnSpec)
      .withColumn("n_errors", size(col("errors")))
      .drop("errors")

  def windowed(turns: DataFrame): DataFrame = {
    val w = Windows.turnWindow
    Sessionize(
      Windows.runningCount(
        Windows.locf(
          Windows.withLag(gated(turns), w, "text", 1, as = "prev_text"),
          w, "tool", as = "tool_state"),
        w, col("tool").isNotNull, as = "n_tool_calls"),
      Seq("conv_id"), "ts", gapSeconds = 1800L, tieBreak = Seq("turn_idx"))
  }

  /** Full evaluation of `df` without output (Spark's `noop` sink). */
  def evaluate(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Turns the gate rejects (`n_errors > 0`), counted on the gate prefix. */
  def evaluateGate(turns: DataFrame): Long = {
    val obs = Observation()
    evaluate(gated(turns).observe(obs,
      sum(when(col("n_errors") > 0, 1L).otherwise(0L)).as("rejected")))
    obs.get("rejected").asInstanceOf[Long]
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p)) {
        _.sorted(java.util.Comparator.reverseOrder()).iterator.asScala
          .foreach(Files.delete)
      }
}
