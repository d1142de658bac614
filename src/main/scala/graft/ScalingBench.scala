package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.schema.TranscriptGen

/** Two-parallelism scaling evidence (BASELINE.md): the same feature
  * pipeline + input at local[N] and local[4N]; reports throughput at both
  * and efficiency = (T_N / T_4N) / 4. Stands in for N → 4N executors in
  * the sandbox (no real cluster available), as directed by the driver.
  *
  * Variance band: each session runs `reps` timed pipeline evaluations;
  * rep i at N cores is paired with rep i at 4N cores, giving `reps`
  * efficiency samples reported as {lo, mean, hi} — a single sub-0.8 raw
  * reading is bracketed by data instead of narrative. The bare-scan
  * ceiling is sampled the same way (on one shared-memory box even a
  * zero-logic parquet scan scales sublinearly; a real N→4N cluster adds
  * memory bandwidth with every node, so the ceiling does not exist there
  * — normalized efficiency divides it out).
  *
  * Output: one JSON line on stdout AND docs/scaling_latest.json, which
  * graft.Bench embeds in its own output so the per-round BENCH JSON
  * carries the band.
  *
  * The input is a ~10^7-turn deterministic synthetic transcript table
  * (FIXTURES.md scale tier) staged once as parquet under the directory
  * named by the one argument (`runMain graft.ScalingBench <stagingDir>`;
  * a later run reuses a completed staging) — large enough that the
  * measured region is dominated by distributed work, not session fixed
  * costs.
  */
object ScalingBench {

  private def stage(stagedDir: String, nConvs: Long): Long = {
    val spark = GraftSession.local(32)
    try {
      if (!Files.exists(Paths.get(s"$stagedDir/_SUCCESS"))) {
        TranscriptGen
          .generateDF(spark, nConvs)
          .write.mode("overwrite").parquet(stagedDir)
      }
      spark.read.parquet(stagedDir).count()
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  /** Per-rep (pipeline, bare-scan, curation-pack) seconds at `cores`.
    * The pack job is the curation family's scaling witness: role as the
    * stratum makes every stratum a MEGA-stratum (4 strata over the whole
    * corpus) — precisely the shape the chunked scan exists for; a
    * single-window pack would serialize each into one task and the N→4N
    * ratio would collapse.
    */
  private def run(stagedDir: String,
      cores: Int, reps: Int): (Seq[Double], Seq[Double], Seq[Double]) = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = GraftSession
      .builder(s"local[$cores]", shufflePartitions = cores * 2)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.GraftBridge.forceEvaluate
    import org.apache.spark.sql.functions.{coalesce, col, lit, octet_length, unix_millis}
    def timed(f: => Any): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def pipeline(): Long =
      forceEvaluate(Pipeline.featuresFromTurns(spark.read.parquet(stagedDir)))
    def scan(): Long = forceEvaluate(spark.read.parquet(stagedDir))
    // ~1300 chunks per stratum over the generator's ~1-day ts span
    // (millis order, 64 Ki-ms chunks): enough chunk-parallelism that a
    // dominant stratum spreads across every core at both N and 4N
    def pack(): Long = forceEvaluate(
      graft.ops.Curation.packShards(
        spark.read.parquet(stagedDir)
          .select(col("role"),
            unix_millis(col("ts")).as("ord"),
            coalesce(octet_length(col("text")).cast("long"), lit(0L))
              .as("len")),
        strataCol = "role", orderCol = "ord", tokens = col("len"),
        budgetTokens = 1000000L, chunkSpan = 65536L))
    try {
      pipeline() // warm-up: codegen + parquet footers
      val p = (1 to reps).map(_ => timed(pipeline()))
      val s = (1 to reps).map(_ => timed(scan()))
      pack() // warm-up the pack plan too
      val c = (1 to reps).map(_ => timed(pack()))
      (p, s, c)
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  private def fmtSeq(xs: Seq[Double]): String =
    xs.map(x => f"$x%.2f").mkString("[", ",", "]")

  private def band(xs: Seq[Double]): String =
    s"""{"lo":${f"${xs.min}%.3f"},"mean":${f"${xs.sum / xs.size}%.3f"},"hi":${f"${xs.max}%.3f"}}"""

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: graft.ScalingBench <stagingDir>")
    val stagedDir = args(0)
    val nConvs = sys.env.getOrElse("SPARK_GRAFT_CONVS", "400000").toLong
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // default pairs: 1→4 (below the box's bandwidth ceiling — the clean
    // N→4N signal) and 2→8 (ceiling-adjacent; normalized value matters)
    val pairs = sys.env.getOrElse("SPARK_GRAFT_PAIRS", "1:4,2:8")
      .split(",").toSeq.map { p =>
        val Array(lo, hi) = p.split(":"); (lo.trim.toInt, hi.trim.toInt)
      }

    val n = stage(stagedDir, nConvs)
    val pairJsons = pairs.map { case (lo, hi) =>
      val (pLo, sLo, cLo) = run(stagedDir, lo, reps)
      val (pHi, sHi, cHi) = run(stagedDir, hi, reps)
      val ratio = hi.toDouble / lo
      val eff = pLo.zip(pHi).map { case (a, b) => (a / b) / ratio }
      val scanEff = sLo.zip(sHi).map { case (a, b) => (a / b) / ratio }
      val norm = eff.zip(scanEff).map { case (e, s) => e / s }
      val curEff = cLo.zip(cHi).map { case (a, b) => (a / b) / ratio }
      s"""{"cores_lo":$lo,"cores_hi":$hi,"sec_lo":${fmtSeq(pLo)},"sec_hi":${fmtSeq(pHi)},""" +
        s""""turns_per_sec_lo":${f"${n / (pLo.sum / reps)}%.1f"},"turns_per_sec_hi":${f"${n / (pHi.sum / reps)}%.1f"},""" +
        s""""efficiency":${band(eff)},"scan_sec_lo":${fmtSeq(sLo)},"scan_sec_hi":${fmtSeq(sHi)},""" +
        s""""hardware_scan_efficiency":${band(scanEff)},"normalized_efficiency":${band(norm)},""" +
        s""""curation_sec_lo":${fmtSeq(cLo)},"curation_sec_hi":${fmtSeq(cHi)},""" +
        s""""curation_efficiency":${band(curEff)}}"""
    }
    val json =
      s"""{"metric":"scaling","rows":$n,"reps":$reps,"pairs":${pairJsons.mkString("[", ",", "]")}}"""
    println(json)
    Files.createDirectories(Paths.get("docs"))
    Files.writeString(Paths.get("docs/scaling_latest.json"), json)
  }
}
