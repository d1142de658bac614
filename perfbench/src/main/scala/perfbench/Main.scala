package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.BenchBridge
import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.io.Checkpoint

/** One benchmark run in one JVM: stage the workload's input, warm up, then
  * measure whole rounds of the backfill (full write, then resume). A traced
  * run times the cumulative prefixes of the pipeline in each round instead,
  * and one pass of the operator mix after the rounds. Every output is left
  * on disk for the independent checks; the timings go to
  * `<run-dir>/jvm_result.json`.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1 --run-dir D
  *
  * The operator mix reads its tables from `<run-dir>/mix-data`.
  */
object Main {
  val Cores = 4
  /** Long-tail conversations staged per run: about 255k turns. */
  val LongTailConvs = 4000L
  /** Unmeasured full backfills before the measured rounds; the first is
    * followed by a resume.
    */
  val WarmBackfills = 1
  /** Measured rounds per run, however short `--seconds` is; their medians
    * are reported.
    */
  val MinRounds = 3

  /** Largest live heap over the measured operations: the heap occupancy
    * right after a full GC forced at the end of each. A GC that happens to
    * fall inside a backfill is chance, and a young one leaves
    * old-generation garbage behind.
    */
  object LiveHeap {
    private var peakBytes = 0L

    /** Forces a full GC after a measured operation, outside its timing. */
    def afterOperation(): Unit = {
      System.gc()
      peakBytes = math.max(peakBytes,
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    }

    def peakMb: Double = peakBytes / 1048576.0
  }

  def session(runDir: String): SparkSession = {
    val spark = GraftSession.builder(s"local[$Cores]", Cores)
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val runDir = a("run-dir")
    val out = s"$runDir/out"
    val mixData = s"$runDir/mix-data"
    // the operator mix runs in traced runs only (per-layer `ops` metrics)
    val mix = if (trace) Mix.Queries else Nil

    val spark = session(runDir)
    val sc = spark.sparkContext
    val listener = new Layers.Listener
    val plans = if (trace) Some(new Plans(spark)) else None
    if (trace) sc.addSparkListener(listener)

    val rec = mutable.LinkedHashMap[String, Any]("buckets" -> Backfill.Buckets)
    val phases = mutable.LinkedHashMap[String, Double]()
    phases("session_s") = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    var input: Backfill.Input = null
    phases("stage_s") = Clock.seconds {
      input = Backfill.stage(spark, workload, seed, LongTailConvs, s"$runDir/input")
    }
    rec("input_path") = input.path
    val inv = Backfill.Invalidated
    if (mix.nonEmpty) Mix.writeOracle(s"$out/mix_warm", mix)

    // Unmeasured warm-up. One resume; it runs the full backfill's code
    // plus a filter.
    phases("warm_backfill_s") = Clock.seconds {
      for (w <- 0 until WarmBackfills) {
        Backfill.write(spark, input, s"$out/warm$w", s"warm$w")
        if (w == 0) {
          Checkpoint.invalidate(s"$out/warm$w", inv)
          Backfill.write(spark, input, s"$out/warm$w", s"warm${w}_resume")
        }
      }
    }
    phases("warm_mix_s") = Clock.seconds {
      mix.foreach(q => Mix.run(spark, q, mixData, s"$out/mix_warm"))
    }
    rec("setup_phases") = phases
    Backfill.deleteTree(Paths.get(out))
    rec("setup_end_ms") = System.currentTimeMillis()

    listener.reset()
    val gc0 = Clock.gcSeconds

    // Whole rounds, at least MinRounds and more until `seconds` have
    // passed: a full backfill into an empty output and a resume of the
    // invalidated buckets; traced, the pipeline's prefixes too.
    val rounds = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
    val layerRounds = mutable.ArrayBuffer[Map[String, Double]]()
    val t0 = System.nanoTime()
    while (rounds.size < MinRounds || (System.nanoTime() - t0) / 1e9 < seconds) {
      val r = rounds.size
      val full = s"$out/full_$r"
      val resumed = s"$out/resumed_$r"
      val round = mutable.LinkedHashMap[String, Any]("full" -> full, "resumed" -> resumed)
      try {
        if (trace) {
          val row = tracedRound(spark, input, full, resumed, inv, plans.get, listener, r)
          layerRounds += row
          round("full_s") = row("io.sink.prefix_s")
          round("resume_s") = row("io.resume.s")
        } else {
          val f = Clock.withCosts(Backfill.write(spark, input, full, s"full$r"))
          LiveHeap.afterOperation()
          Backfill.linkCopy(full, resumed)
          val res = Clock.withCosts {
            Checkpoint.invalidate(resumed, inv)
            Backfill.write(spark, input, resumed, s"resume$r")
          }
          LiveHeap.afterOperation()
          round ++= f.map { case (k, v) => s"full_$k" -> v } ++
            res.map { case (k, v) => s"resume_$k" -> v }
        }
      } catch {
        case e: Exception => round("error") = s"${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      rounds += round
    }
    if (mix.nonEmpty) {
      val dir = s"$out/mix"
      Mix.writeOracle(dir, mix)
      val qs = mutable.LinkedHashMap[String, Any]()
      val errors = mutable.LinkedHashMap[String, String]()
      mix.foreach { q =>
        try qs(q) = Layers.timed(sc, s"ops.$q")(Mix.run(spark, q, mixData, dir))
        catch { case e: Exception => errors(q) = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      }
      rec("mix") = Map("dir" -> dir, "data" -> mixData, "queries" -> mix,
        "query_s" -> qs, "errors" -> errors)
    }
    rec("rounds") = rounds

    rec("live_heap_mb") = LiveHeap.peakMb
    rec("gc_s") = Clock.gcSeconds - gc0

    if (trace) rec("layers") = layerMetrics(sc, listener, layerRounds.toSeq, mix)
    Files.writeString(Paths.get(runDir, "jvm_result.json"), Json(rec))
    spark.stop()
  }

  /** One traced round: a full backfill with the layer listener detached,
    * for the tracing overhead; the cumulative prefixes of the backfill,
    * each under its own layer, up to the full backfill as the sink prefix;
    * then the resume. Returns the round's timings and counts.
    */
  private def tracedRound(spark: SparkSession, in: Backfill.Input, full: String,
      resumed: String, inv: Set[Int], plans: Plans, l: Layers.Listener,
      r: Int): Map[String, Double] = {
    val sc = spark.sparkContext
    val m = mutable.LinkedHashMap[String, Double]()
    val untracedOut = s"$full.untraced"
    BenchBridge.drainListeners(sc)
    sc.removeSparkListener(l)
    m("trace.untraced_full_s") = Clock.seconds(Backfill.write(spark, in, untracedOut, s"untraced$r"))
    sc.addSparkListener(l)
    Backfill.deleteTree(Paths.get(untracedOut))

    m("io.scan.prefix_s") = Layers.timed(sc, "io.scan")(Backfill.evaluate(in.read(spark)))
    var rejected = 0L
    m("compile.gate.prefix_s") = Layers.timed(sc, "compile.gate") {
      rejected = Backfill.evaluateGate(in.read(spark))
    }
    m("compile.gate.rejected") = rejected.toDouble
    m("features.windows.prefix_s") = Layers.timed(sc, "features.windows") {
      Backfill.evaluate(Backfill.windowed(in.read(spark)))
    }
    var asof = Seq.empty[org.apache.spark.sql.execution.SparkPlan]
    m("plans.asof.prefix_s") = Layers.timed(sc, "plans.asof") {
      asof = plans.capture(Backfill.evaluate(graft.Pipeline.featuresFromTurns(in.read(spark))))
    }
    val (matched, outRows) = plans.asOfCounts(asof)
    m("plans.asof.matched_rows") = matched.toDouble
    m("plans.asof.output_rows") = outRows.toDouble
    m("io.sink.prefix_s") = Layers.timed(sc, "io.sink")(Backfill.write(spark, in, full, s"full$r"))
    m("io.sink.files") = Backfill.parquetFiles(full).toDouble

    Backfill.linkCopy(full, resumed)
    val invTurns = Backfill.manifestRows(full, inv)
    var resume = Seq.empty[org.apache.spark.sql.execution.SparkPlan]
    m("io.resume.s") = Layers.timed(sc, "io.resume") {
      resume = plans.capture {
        Checkpoint.invalidate(resumed, inv)
        Backfill.write(spark, in, resumed, s"resume$r")
      }
    }
    m("io.resume.recompute_ratio") =
      if (invTurns > 0) plans.rowsIntoWindows(resume).toDouble / invTurns else 0.0
    m.toMap
  }

  /** Per-layer metrics: self time is the median over rounds of a prefix's
    * time minus the previous prefix's; task counters are differenced the
    * same way and averaged over rounds; skew is the critical-path stage of
    * the layer's own prefix.
    */
  private def layerMetrics(sc: org.apache.spark.SparkContext, l: Layers.Listener,
      rounds: Seq[Map[String, Double]], mix: Seq[String]): Map[String, Double] = {
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val n = rounds.size.toDouble
    val m = mutable.LinkedHashMap[String, Double]()
    val prefixes = Seq("io.scan", "compile.gate", "features.windows", "plans.asof", "io.sink")
    val totals = prefixes.map(p => p -> l.get(sc, p)).toMap
    prefixes.zipWithIndex.foreach { case (p, i) =>
      val self = rounds.map(r => r(s"$p.prefix_s") - (if (i == 0) 0.0 else r(s"${prefixes(i - 1)}.prefix_s")))
      m(s"$p.s") = med(self)
      val t = totals(p)
      val prev = if (i == 0) new LayerTotals else totals(prefixes(i - 1))
      m(s"$p.cpu_s") = (t.cpuS - prev.cpuS) / n
      m(s"$p.gc_s") = (t.gcS - prev.gcS) / n
      m(s"$p.shuffle_write_mb") = (t.shuffleWriteMb - prev.shuffleWriteMb) / n
      m(s"$p.spill_mb") = (t.spillMb - prev.spillMb) / n
      val (mx, skew) = t.taskMaxAndSkew
      m(s"$p.task_max_s") = mx
      m(s"$p.task_skew") = skew
    }
    m("io.scan.read_mb") = totals("io.scan").readMb / n
    m("compile.gate.rejected") = med(rounds.map(_("compile.gate.rejected")))
    val matched = med(rounds.map(_("plans.asof.matched_rows")))
    val outRows = med(rounds.map(_("plans.asof.output_rows")))
    m("plans.asof.matched_rows") = matched
    m("plans.asof.output_rows") = outRows
    m("plans.asof.match_rate") = if (outRows > 0) matched / outRows else 0.0
    m("io.sink.write_mb") = totals("io.sink").writeMb / n
    m("io.sink.files") = med(rounds.map(_("io.sink.files")))
    m("io.sink.jobs") = totals("io.sink").jobs / n
    val resume = l.get(sc, "io.resume")
    m("io.resume.s") = med(rounds.map(_("io.resume.s")))
    m("io.resume.shuffle_records") = resume.shuffleRecords / n
    m("io.resume.recompute_ratio") = med(rounds.map(_("io.resume.recompute_ratio")))
    val traced = med(rounds.map(_("io.sink.prefix_s")))
    val untraced = med(rounds.map(_("trace.untraced_full_s")))
    m("trace.layer_sum_s") = prefixes.map(p => m(s"$p.s")).sum
    m("trace.untraced_full_s") = untraced
    m("trace.overhead") = if (untraced > 0) traced / untraced - 1.0 else 0.0
    mix.foreach { q =>
      val t = l.get(sc, s"ops.$q")
      m(s"ops.$q.jobs") = t.jobs.toDouble
    }
    val all = l.layers.values
    m("spark.jobs") = all.map(_.jobs).sum.toDouble
    m("spark.tasks") = all.map(_.tasks).sum.toDouble
    m.toMap
  }
}
