package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._

import graft.TestSpark

class CurationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("sample gate is deterministic and samples nest across rates") {
    val ids = (0L until 2000L).toDF("id")
    val g1 = ids.select(Curation.sampleGateBp(col("id")).as("g"))
      .as[Long].collect()
    val g2 = ids.select(Curation.sampleGateBp(col("id")).as("g"))
      .as[Long].collect()
    assert(g1.toSeq == g2.toSeq)
    assert(g1.forall(g => g >= 0 && g < 10000))
    // nesting: the 10% sample is a subset of the 30% sample
    val in10 = ids.filter(Curation.sampleGateBp(col("id")) < 1000)
      .as[Long].collect().toSet
    val in30 = ids.filter(Curation.sampleGateBp(col("id")) < 3000)
      .as[Long].collect().toSet
    assert(in10.subsetOf(in30))
    // rate is roughly honored (fmix64 is uniform; 2000 ids, 10% ± wide)
    assert(in10.size > 100 && in10.size < 320, s"got ${in10.size}")
    // matches the scalar implementation bit-for-bit
    assert(g1(42) == graft.exprs.SampleHashImpl.gateBp(42L))
  }

  test("stratified sampling: per-stratum rates, default for unmapped strata") {
    val df = (0L until 300L).map(i =>
      (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "zh" else "xx"))
      .toDF("doc_id", "lang")
    val kept = Curation.sampleStratified(
      df, "doc_id", "lang", Map("en" -> 10000, "zh" -> 0), defaultBp = 10000)
      .select("doc_id", "lang").as[(Long, String)].collect()
    // en: keep-all, zh: drop-all, xx: default keep-all
    assert(kept.count(_._2 == "en") == 100)
    assert(kept.count(_._2 == "zh") == 0)
    assert(kept.count(_._2 == "xx") == 100)
    assertThrows[IllegalArgumentException] {
      Curation.sampleStratified(df, "doc_id", "lang", Map("en" -> 10001))
    }
  }

  test("exact grouped quantiles: discrete rank selection, hand-checked") {
    // group A: values 10,20,30,40 (n=4): p50 -> rank ceil(2)=2 -> 20;
    //   p90 -> ceil(3.6)=4 -> 40; p25 -> ceil(1)=1 -> 10
    // group B: single value (n=1): every quantile is that value
    val df = Seq(
      ("A", 1L, 30L), ("A", 2L, 10L), ("A", 3L, 40L), ("A", 4L, 20L),
      ("B", 5L, 7L))
      .toDF("g", "id", "v")
    val got = Stats.exactGroupedQuantiles(
      df, "g", col("v"), "id", Seq(2500, 5000, 9000))
      .orderBy("g")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("A", 4L, 10L, 20L, 40L), ("B", 1L, 7L, 7L, 7L)),
      got.mkString(","))
    // ties are stable under the tiebreaker: duplicate values never make
    // the pick ambiguous
    val ties = Seq(("C", 1L, 5L), ("C", 2L, 5L), ("C", 3L, 5L), ("C", 4L, 9L))
      .toDF("g", "id", "v")
    val p75 = Stats.exactGroupedQuantiles(ties, "g", col("v"), "id", Seq(7500))
      .select("q7500").as[Long].head()
    assert(p75 == 5L) // rank ceil(3) = 3 -> third 5
  }

  test("repetition signals: top-bigram and dup-trigram fractions, " +
    "hand-checked incl. sub-n documents") {
    val df = Seq(
      // "a b a b a b": bigrams a b, b a, a b, b a, a b -> top "a b" 3/5
      //   trigrams: aba, bab, aba, bab -> every instance duplicated: 4/4
      (1L, "a b a b a b"),
      // all-distinct words: top bigram 1/3, no duplicate trigrams 0/2
      (2L, "w x y z"),
      // one word: no bigrams, no trigrams -> all zeros
      (3L, "solo"))
      .toDF("doc_id", "text")
    val got = TextStats.repetitionStats(df, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 5L, 3L, 6000L, 4L, 4L, 10000L),
      (2L, 3L, 1L, 3333L, 2L, 0L, 0L),
      (3L, 0L, 0L, 0L, 0L, 0L, 0L)), got.mkString(","))
  }

  test("decontamination: overlap vs probe, short probes, hot-shingle cap") {
    val corpus = Seq(
      (1L, "a b c d e f"), // shingles: "a b c","b c d","c d e","d e f"
      (2L, "x y z a b c w")) // shares "a b c"
      .toDF("doc_id", "text")
    val probes = Seq(
      (100L, "a b c d"), // shingles: "a b c","b c d"
      (200L, "q r")) // < k words: no shingles, can never match
      .toDF("probe_id", "text")
    val got = Decontam.ngramOverlap(corpus, probes, "doc_id", "probe_id",
      "text", k = 3, minContamBp = 5000, maxShingleDf = 1000)
      .select("doc_id", "probe_id", "n_shared", "n_probe", "contam_bp")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 100L, 2L, 2L, 10000L),
      (2L, 100L, 1L, 2L, 5000L)), got.mkString(","))
    // df cap: "a b c" occurs in 2 corpus docs; cap at 1 removes it from
    // matching (doc 1 keeps "b c d" -> 5000; doc 2 drops below the gate)
    // and the audit reports exactly that shingle
    val capped = Decontam.ngramOverlap(corpus, probes, "doc_id", "probe_id",
      "text", k = 3, minContamBp = 5000, maxShingleDf = 1)
      .select("doc_id", "probe_id", "contam_bp")
      .as[(Long, Long, Long)].collect().toSet
    assert(capped == Set((1L, 100L, 5000L)), capped.mkString(","))
    val dropped = Decontam.droppedHotShingles(corpus, "doc_id", "text",
      k = 3, maxShingleDf = 1)
      .as[(String, Long)].collect().toSet
    assert(dropped == Set(("a b c", 2L)), dropped.mkString(","))
  }

  test("contamSpans: maximal runs, min-run screening, hot-cap run split") {
    // probe phrase "t1 t2 t3 t4 t5" -> shingles t1t2t3, t2t3t4, t3t4t5
    val corpus = Seq(
      (1L, "aa bb cc t1 t2 t3 t4 t5 dd ee"), // one 3-shingle run at pos 3
      (2L, "t1 t2 t3 zz yy xx t3 t4 t5"), // two SEPARATED 1-shingle runs
      (3L, "no overlap at all here"))
      .toDF("doc_id", "text")
    val probes = Seq((100L, "t1 t2 t3 t4 t5")).toDF("probe_id", "text")
    val runs = Decontam.contamSpans(corpus, probes, "doc_id", "text",
      k = 3, minRunShingles = 1, maxShingleDf = 1000)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(runs == Set(
      (1L, 3L, 3L, 5L), // adjacent matches merge into ONE maximal run
      (2L, 0L, 1L, 3L), (2L, 6L, 1L, 3L)), runs.mkString(","))
    // min-run screening drops doc 2's scattered single-shingle hits
    val screened = Decontam.contamSpans(corpus, probes, "doc_id", "text",
      k = 3, minRunShingles = 2, maxShingleDf = 1000)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(screened == Set((1L, 3L, 3L, 5L)), screened.mkString(","))
    // df cap at 1: t1t2t3 (docs 1,2) and t3t4t5 (docs 1,2) drop from
    // matching; doc 1's run SPLITS down to the surviving middle shingle
    val capped = Decontam.contamSpans(corpus, probes, "doc_id", "text",
      k = 3, minRunShingles = 1, maxShingleDf = 1)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(capped == Set((1L, 4L, 1L, 3L)), capped.mkString(","))
  }

  test("memorizationScore: per-probe found fraction, fully-novel probes " +
    "report 0 instead of vanishing, duplicate corpus shingles count once") {
    val corpus = Seq(
      (1L, "t1 t2 t3 t4"), // shingles t1t2t3, t2t3t4
      (2L, "t1 t2 t3 t1 t2 t3")) // repeats t1t2t3 (must not double-count)
      .toDF("doc_id", "text")
    val probes = Seq(
      (10L, "t1 t2 t3 xx yy"), // 3 shingles, 1 found -> 3333 bp
      (11L, "t2 t3 t4"), // 1 shingle, found -> 10000 bp
      (12L, "aa bb cc dd")) // 2 shingles, none found -> 0 bp, row PRESENT
      .toDF("probe_id", "text")
    val got = Decontam.memorizationScore(corpus, probes, "probe_id", "text",
      k = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (10L, 3L, 1L, 3333L),
      (11L, 1L, 1L, 10000L),
      (12L, 2L, 0L, 0L)), got.mkString(","))
  }

  test("writeShards lays out exactly one parquet file per shard directory " +
    "and the readback preserves assignments") {
    val df = Seq(
      (0L, "A", 900L), (1L, "A", 900L), (2L, "A", 900L),
      (10L, "B", 2500L), (11L, "B", 100L))
      .toDF("doc_id", "lang", "tok")
    val tmp = GraftBridge.tempDir("graft_writeshards").toString
    Curation.writeShards(df, "lang", "doc_id", col("tok"), 1000L, tmp)
    // layout: one file per (lang, shard_seq) dir
    val shardDirs = new java.io.File(tmp).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("lang="))
      .flatMap(_.listFiles.filter(_.getName.startsWith("shard_seq=")))
    assert(shardDirs.length == 4, shardDirs.map(_.getPath).mkString(","))
    shardDirs.foreach { d =>
      val parts = d.listFiles.filter(_.getName.endsWith(".parquet"))
      assert(parts.length == 1, s"${d.getPath}: ${parts.length} files")
    }
    // readback equals the in-plan packing
    val back = spark.read.parquet(tmp)
      .select(col("doc_id"), col("shard_seq").cast("long"))
      .as[(Long, Long)].collect().toMap
    val want = Curation.packShards(df, "lang", "doc_id", col("tok"), 1000L)
      .select("doc_id", "shard_seq").as[(Long, Long)].collect().toMap
    assert(back == want, s"back=$back want=$want")
  }

  test("two-phase shard packing equals single-window packing, with a " +
    "dominant stratum spread across many chunk tasks") {
    // a real training mixture: one mega stratum (web ≈ 97%) that a
    // per-stratum window would serialize into one task
    val df = (0L until 2050L).map { i =>
      val stratum = if (i % 40 == 7) "books" else "web"
      (i, stratum, (i * 37 + 11) % 700)
    }.toDF("doc_id", "lang", "tok")
    val twoPhase = Curation.packShards(
      df, "lang", "doc_id", col("tok"), 1000L, chunkSpan = 64L)
      .select("doc_id", "n_tokens", "shard_seq")
      .as[(Long, Long, Long)].collect()
      .map { case (id, n, s) => id -> (n, s) }.toMap
    val single = Curation.packShardsSingleWindow(
      df, "lang", "doc_id", col("tok"), 1000L)
      .select("doc_id", "n_tokens", "shard_seq")
      .as[(Long, Long, Long)].collect()
      .map { case (id, n, s) => id -> (n, s) }.toMap
    assert(twoPhase == single)
    assert(twoPhase.size == 2050)
    // the mega stratum genuinely spans many chunks — i.e. many tasks in
    // phase 1, not one window partition
    val chunksInWeb = df.filter(col("lang") === "web")
      .select(floor(col("doc_id") / 64L).as("c"))
      .distinct().count()
    assert(chunksInWeb >= 8, s"web stratum only spans $chunksInWeb chunks")
    // and no single window partition in the plan covers a whole stratum:
    // every Window operator partitions by the packed (lang, chunk) column
    // or runs over the per-chunk totals only
    val plan = Curation.packShards(
      df, "lang", "doc_id", col("tok"), 1000L, chunkSpan = 64L)
      .queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    // phase 1 partitions by the packed (stratum, chunk) struct itself; the
    // only stratum-alone window is phase 2's carry (partitioned by the
    // struct's stratum field), which must run over the per-chunk TOTALS
    // (an Aggregate grouped on the packed column), never full rows
    def isPacked(e: org.apache.spark.sql.catalyst.expressions.Expression) = e match {
      case a: org.apache.spark.sql.catalyst.expressions.Attribute => a.name == "__cs_kc"
      case _ => false
    }
    assert(windows.exists(w => w.partitionSpec.size == 1 && isPacked(w.partitionSpec.head)))
    windows.filterNot(w => w.partitionSpec.size == 1 && isPacked(w.partitionSpec.head))
      .foreach { w =>
        val overChunkTotals = w.child.collectFirst {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
              if a.groupingExpressions.exists(isPacked) => a
        }.isDefined
        assert(overChunkTotals,
          "a stratum-alone window over full rows would serialize a mega " +
            "stratum")
      }
  }

  test("two-phase packing holds when the order column is a HASH (full " +
    "int64 range, negative values, sparse chunks)") {
    // the q_corpus_dedup_pack geometry: order by the fmix64 shuffle key
    // with chunkSpan sized for the int64 range — chunk ids go negative
    // and sparse; the only requirement is a monotone chunk map
    val df = (0L until 900L).map { i =>
      (i, if (i % 5 == 0) "books" else "web", (i * 13 + 3) % 400)
    }.toDF("doc_id", "lang", "tok")
      .withColumn("sk", Curation.shuffleKey(col("doc_id")))
    val twoPhase = Curation.packShards(
      df, "lang", "sk", col("tok"), 1000L, chunkSpan = 1L << 48)
      .select("doc_id", "shard_seq").as[(Long, Long)].collect().toMap
    val single = Curation.packShardsSingleWindow(
      df, "lang", "sk", col("tok"), 1000L)
      .select("doc_id", "shard_seq").as[(Long, Long)].collect().toMap
    assert(twoPhase == single)
    // hash order really exercises the negative-chunk path
    val negChunks = df
      .select(floor(col("sk").cast("long") / (1L << 48)).as("c"))
      .filter(col("c") < 0).distinct().count()
    assert(negChunks > 0, "expected negative chunk ids under a hash order")
  }

  test("shard packing fails loud on negative token counts") {
    val df = Seq((0L, "A", 10L), (1L, "A", -5L)).toDF("doc_id", "lang", "tok")
    val e = intercept[Exception] {
      Curation.packShards(df, "lang", "doc_id", col("tok"), 1000L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++
        messages(x.getCause))
    assert(messages(e).exists(_.contains("negative token count")),
      messages(e).mkString(" | "))
  }

  test("two-phase grouped quantiles equal single-window rank selection, " +
    "with a mega group spread across many chunk tasks") {
    // one dominant group (5000 rows, heavy value duplication) + a small one
    val rows = (0L until 5000L).map(i => ("web", i, (i * 31) % 1000)) ++
      (0L until 37L).map(i => ("books", 100000L + i, i * 7))
    val df = rows.toDF("g", "id", "v")
    val qs = Seq(100, 2500, 5000, 7500, 9900, 10000)
    val got = Stats.exactGroupedQuantiles(
      df, "g", col("v"), "id", qs, chunkSpan = 97L)
      .orderBy("g").collect().map(_.toSeq).toSeq
    val want = Stats.exactGroupedQuantilesSingleWindow(
      df, "g", col("v"), "id", qs)
      .orderBy("g").collect().map(_.toSeq).toSeq
    assert(got == want, s"got=$got want=$want")
    // the mega group's distinct values span many chunks
    val chunks = df.filter(col("g") === "web")
      .select(floor(col("v") / 97L).as("c")).distinct().count()
    assert(chunks >= 8, s"mega group only spans $chunks chunks")
    // duplicate quantile levels are rejected up front (they would emit
    // two identically-named output columns)
    assertThrows[IllegalArgumentException] {
      Stats.exactGroupedQuantiles(df, "g", col("v"), "id", Seq(5000, 5000))
    }
  }

  test("shard packing: boundaries, straddling docs, oversized docs") {
    // stratum A: tokens 900, 900, 900 with budget 1000 ->
    //   doc 0 starts at 0 (shard 0), doc 1 at 900 (shard 0, straddles),
    //   doc 2 at 1800 (shard 1)
    // stratum B: an oversized doc (2500) then a small one ->
    //   doc 10 at 0 (shard 0), doc 11 at 2500 (shard 2 — shard 1 is empty,
    //   swallowed by the oversized doc)
    val df = Seq(
      (0L, "A", 900L), (1L, "A", 900L), (2L, "A", 900L),
      (10L, "B", 2500L), (11L, "B", 100L))
      .toDF("doc_id", "lang", "tok")
    val got = Curation.packShards(df, "lang", "doc_id", col("tok"), 1000L)
      .select("doc_id", "shard_seq").as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 1L, 10L -> 0L, 11L -> 2L),
      got.toSeq.sortBy(_._1).mkString(","))
  }

  test("interleaveSchedule equals a stateful stride scheduler " +
    "(differential, ragged strata)") {
    val weights = Map("a" -> 5000, "b" -> 2500, "c" -> 1000)
    val caps = Map("a" -> 40L, "b" -> 25L, "c" -> 8L)
    val shards = for {
      (st, n) <- Seq(("a", 40), ("b", 25), ("c", 8)); j <- 0 until n
    } yield (st, j.toLong)
    val got = Curation
      .interleaveSchedule(shards.toDF("stratum", "shard"),
        "stratum", "shard", weights)
      .orderBy("global_pos")
      .select("stratum", "shard").as[(String, Long)].collect().toSeq
    // reference: a stateful stride scheduler — repeatedly emit the
    // non-exhausted stratum with the smallest (next key, name)
    val next = scala.collection.mutable.Map("a" -> 0L, "b" -> 0L, "c" -> 0L)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    while (next.exists { case (st, j) => j < caps(st) }) {
      val (st, j) = next.filter { case (st, j) => j < caps(st) }
        .map { case (st, j) =>
          (((j + 1) * 100000000L / weights(st), st), (st, j)) }
        .minBy(_._1)._2
      buf += ((st, j)); next(st) = j + 1
    }
    assert(got == buf.toSeq)
    // smoothness: in the all-strata-live prefix, stratum counts track
    // weights within one emission
    val live = got.take(32) // c exhausts at global key 8e5*... well past 32
    val counts = live.groupBy(_._1).view.mapValues(_.size).toMap
    val tot = weights.values.sum.toDouble
    weights.foreach { case (st, w) =>
      val expect = 32 * w / tot
      assert(math.abs(counts.getOrElse(st, 0) - expect) <= 2.0, s"$st: $counts")
    }
  }

  test("interleaveSchedule: zero-weight strata are excluded and shard " +
    "order is preserved within every stratum") {
    val shards = Seq(("a", 0L), ("a", 1L), ("a", 2L), ("z", 0L), ("z", 1L))
      .toDF("stratum", "shard")
    val out = Curation.interleaveSchedule(shards, "stratum", "shard",
      Map("a" -> 3000), defaultBp = 0)
      .orderBy("global_pos").select("stratum", "shard")
      .as[(String, Long)].collect().toSeq
    assert(out == Seq(("a", 0L), ("a", 1L), ("a", 2L)))
  }

  test("globalRank: byte-equal to the single global window; dense ranks; " +
    "equal-size phases; mega-value chunks spread") {
    // scores collide heavily (mod 97) so the tiebreak path is exercised
    val df = (0L until 500L).map(i => (i, (i * 2654435761L) % 97))
      .toDF("id", "score")
    val got = Curation.globalRank(df, "score", "id",
      nPhases = 4, chunkSpan = 16)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score"), col("id"))
    val ref = df
      .withColumn("global_rank", row_number().over(w).cast("long") - 1L)
      .withColumn("phase",
        call_function("div", col("global_rank") * 4, lit(500L)).cast("long"))
    assert(got.select("id", "score", "global_rank", "phase")
      .except(ref).isEmpty)
    assert(ref.except(got.select("id", "score", "global_rank", "phase"))
      .isEmpty)
    // dense 0..n-1 and equal phase sizes
    val ranks = got.select("global_rank").as[Long].collect().sorted
    assert(ranks.toSeq == (0L until 500L))
    val phases = got.groupBy("phase").count()
      .as[(Long, Long)].collect().toMap
    assert(phases == Map(0L -> 125L, 1L -> 125L, 2L -> 125L, 3L -> 125L))
    // the windows phase 1 runs are chunk-partitioned (> 1 chunk here)
    assert(got.select(floor(col("score") / 16)).distinct().count() > 1)
  }

  test("batchByLength: searchsorted buckets, short final batch pads to " +
    "its own max, conservation") {
    // edges (10, 100): lengths 5,7 -> bucket 0; 10,50,99 -> 1; 100 -> 2
    val df = Seq((1L, 10L), (2L, 5L), (3L, 99L), (4L, 100L), (5L, 50L),
      (6L, 7L)).toDF("id", "len")
    val got = Curation.batchByLength(df, "id", col("len"),
        batchSize = 2, bucketEdges = Seq(10L, 100L))
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (0L, 0L, 2L, 5L, 7L, 12L, 2L),     // ids 2,6: pad 2*7-12
      (1L, 0L, 2L, 10L, 99L, 109L, 89L), // ids 1,3 (id order), pad 2*99-109
      (1L, 1L, 1L, 50L, 50L, 50L, 0L),   // id 5: short tail, pads to self
      (2L, 0L, 1L, 100L, 100L, 100L, 0L)))
    // every row lands in exactly one batch
    assert(got.toSeq.map(_._3).sum == df.count())
    assertThrows[IllegalArgumentException] {
      Curation.batchByLength(df, "id", col("len"), 2, Seq(100L, 10L))
    }
  }

  test("packOffsets: offsets reset at shard boundaries, end = start + n, " +
    "straddling doc keeps its full span in its start shard") {
    // budget 10: tokens 4,7,4 -> exclusive cumsums 0,4,11 -> shards
    // 0,0,1 (third STARTS past the budget); within shard 0 offsets
    // [0,4),[4,11) — doc 2 straddles but its whole span stays in shard
    // 0; shard 1 resets to [0,4)
    val df = Seq(("a", 1L, 4L), ("a", 2L, 7L), ("a", 3L, 4L),
      ("b", 4L, 25L)).toDF("g", "id", "tok")
    val got = Curation.packOffsets(df, "g", "id", col("tok"), 10L)
      .select("g", "id", "shard_seq", "tok_start", "tok_end")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      ("a", 1L, 0L, 0L, 4L), ("a", 2L, 0L, 4L, 11L), ("a", 3L, 1L, 0L, 4L),
      ("b", 4L, 0L, 0L, 25L))) // oversize doc: whole span in one shard
  }

  test("globalRank: negative and fractional order values keep rank order") {
    val df = Seq((1L, -4096.5), (2L, -0.5), (3L, 0.5), (4L, 4096.2),
      (5L, -0.5)).toDF("id", "score")
    val got = Curation.globalRank(df, "score", "id", nPhases = 2,
        chunkSpan = 4096L)
      .select("id", "global_rank").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 5L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  test("neymanPlan: allocation ∝ n·σ, exact moments, caps and zeroes") {
    // stratum a: constant metric (σ=0) → weight 0, alloc 0
    // stratum b: n=4, values 0/0/10/10 → varnum = 4·200 − 400 = 400, w=20
    // stratum c: n=2, values 0/30    → varnum = 2·900 − 900 = 900, w=30
    val df = Seq(
      ("a", 5L), ("a", 5L), ("a", 5L),
      ("b", 0L), ("b", 0L), ("b", 10L), ("b", 10L),
      ("c", 0L), ("c", 30L)).zipWithIndex
      .map { case ((s, v), i) => (i.toLong, s, v) }
      .toDF("id", "stratum", "v")
    val plan = Curation.neymanPlan(df, "stratum", col("v"), budget = 5)
      .select("stratum", "n_avail", "w_nsigma", "alloc", "rate_bp")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // total weight 50: b gets floor(5·20/50)=2 of 4 (5000bp),
    // c gets floor(5·30/50)=3 capped at n=2 (10000bp), a gets 0
    assert(plan("a") == ((3L, 0L, 0L, 0L)))
    assert(plan("b") == ((4L, 20L, 2L, 5000L)))
    assert(plan("c") == ((2L, 30L, 2L, 10000L)))
    // the plan feeds sampleByPlan unchanged: rate 10000 keeps all of c
    val kept = Curation.sampleByPlan(df, "id", "stratum",
        Curation.neymanPlan(df, "stratum", col("v"), budget = 5))
      .groupBy("stratum").count().as[(String, Long)].collect().toMap
    assert(kept("c") == 2L && !kept.contains("a"))
  }

  test("groupedTopK ≡ single-window top-k on random data (incl. a " +
    "mega-group), deterministic under repartitioning, salted plan") {
    val rnd = new scala.util.Random(11)
    // group "big" dominates: 400 of 460 rows; scores collide heavily so
    // the uniqueCol tiebreak is load-bearing
    val rows = (0 until 400).map(i => ("big", i.toLong, rnd.nextInt(40).toLong)) ++
      (400 until 460).map(i => (s"s${i % 3}", i.toLong, rnd.nextInt(40).toLong))
    val df = rows.toDF("grp", "id", "score")
    val got = Stats.groupedTopK(df.repartition(13), Seq("grp"),
        Seq(col("score").desc), "id", k = 5, fanout = 8)
      .select("grp", "id", "rank").as[(String, Long, Int)].collect().toSet
    // naive single-window oracle
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("score").desc, col("id").asc)
    val naive = df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("grp", "id", "rank").as[(String, Long, Int)].collect().toSet
    assert(got == naive)
    // both windows are present and the first partitions by the salt too
    val plan = Stats.groupedTopK(df, Seq("grp"), Seq(col("score").desc),
      "id", 5, 8).queryExecution.executedPlan.toString
    assert(plan.contains("__salt"))
  }

  test("interleaveSchedule fails loud on a negative shard number") {
    val ex = intercept[Exception] {
      Seq(("a", -1L)).toDF("stratum", "shard")
        .transform(df => Curation.interleaveSchedule(df, "stratum", "shard",
          Map("a" -> 1000)))
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(ex).exists(m => m != null && m.contains("out of [0,")))
  }

  test("packSplit: every full shard tiles to exactly the budget, pieces " +
      "tile each document, piece 0 agrees with packShards, zero-token " +
      "docs keep one empty piece, mega-doc spans many shards") {
    val rnd = new scala.util.Random(5)
    val rows = (0 until 200).map { i =>
      val toks =
        if (i == 60) 200L // mega doc: spans ≥ 5 shards at B = 37
        else if (i % 17 == 0) 0L
        else rnd.nextInt(50).toLong
      (s"s${i % 2}", i.toLong, toks)
    }
    val B = 37L
    val got = Curation.packSplit(
        rows.toDF("lang", "id", "toks").repartition(9),
        "lang", "id", col("toks"), B, chunkSpan = 16L)
      .select("lang", "id", "n_tokens", "shard_seq", "piece_seq",
        "tok_start", "tok_end", "doc_tok_start", "doc_tok_end")
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    // pieces of one doc tile [0, n) contiguously, in piece_seq order
    rows.foreach { case (lang, id, n) =>
      val ps = got.filter(r => r._1 == lang && r._2 == id).sortBy(_._5)
      assert(ps.map(_._5) == (0L until ps.size.toLong), s"piece_seq gap at $id")
      assert(ps.head._8 == 0L && ps.last._9 == n)
      ps.sliding(2).foreach {
        case Seq(a, b) => assert(a._9 == b._8, s"doc $id pieces not contiguous")
        case _ =>
      }
      // within-shard spans are in [0, B] and match the doc-relative width
      ps.foreach(p => assert(p._6 >= 0 && p._7 <= B && p._7 - p._6 == p._9 - p._8))
      if (n == 0) assert(ps.size == 1 && ps.head._6 == ps.head._7)
    }
    // every shard except each stratum's last is covered by exactly B tokens
    got.groupBy(_._1).foreach { case (lang, rs) =>
      val last = rs.map(_._4).max
      rs.groupBy(_._4).foreach { case (shard, ps) =>
        val covered = ps.map(p => p._7 - p._6).sum
        if (shard < last) assert(covered == B, s"$lang shard $shard covers $covered")
        else assert(covered <= B)
      }
    }
    // the mega doc really spans multiple shards
    assert(got.count(r => r._2 == 60L) >= 6)
    // piece 0 lands where packShards puts the whole document
    val whole = Curation.packShards(
        rows.toDF("lang", "id", "toks"), "lang", "id", col("toks"), B,
        chunkSpan = 16L)
      .select("lang", "id", "shard_seq").as[(String, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    got.filter(_._5 == 0L).foreach(r =>
      assert(whole((r._1, r._2)) == r._4, s"doc ${r._2} start shard disagrees"))
  }

  test("dsirScores ≡ naive integer replay; target-like docs selected; " +
      "empty doc emits (0, 0, false); order/partitioning invariant") {
    import org.apache.spark.unsafe.types.UTF8String
    val dims = 16
    // two disjoint vocabularies: target speaks A, the rest speaks B
    val aWords = Seq("alpha", "axiom", "amber", "apex")
    val bWords = Seq("basalt", "borax", "burl", "bog")
    val rnd = new scala.util.Random(7)
    def sent(ws: Seq[String], n: Int) =
      Seq.fill(n)(ws(rnd.nextInt(ws.size))).mkString(" ")
    val rows = (0L until 30L).map { i =>
      val text =
        if (i == 29L) "" // token-less document
        else if (i % 3 == 0) sent(aWords, 8) // target-like
        else sent(bWords, 8)
      (i, text)
    }
    val corpus = rows.toDF("doc_id", "text")
    val target = corpus.filter(col("doc_id") % 3 === 0 && col("text") =!= "")
    val got = Curation.dsirScores(corpus, target, "doc_id", "text", dims)
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)

    // naive single-node replay of the documented integer contract
    def buckets(t: String): Seq[Long] =
      t.toLowerCase.split(" ").filter(_.nonEmpty).toSeq
        .map(w => graft.exprs.RollingHashImpl.hash(UTF8String.fromString(w)) % dims)
    def prof(texts: Seq[String]): Map[Long, Long] = {
      val c = texts.flatMap(buckets).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      (0L until dims.toLong).map(b => b -> (c.getOrElse(b, 0L) + 1L)).toMap
    }
    def bitlen(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)
    val tp = prof(rows.filter(r => r._1 % 3 == 0 && r._2.nonEmpty).map(_._2))
    val rp = prof(rows.map(_._2))
    val (tt, rt) = (tp.values.sum, rp.values.sum)
    val w = (0L until dims.toLong).map(b =>
      b -> (bitlen(tp(b)) - bitlen(tt) - bitlen(rp(b)) + bitlen(rt))).toMap
    val naive = rows.map { case (id, t) =>
      val bs = buckets(t)
      val score = bs.map(w).sum
      (id, bs.size.toLong, score, score > 0L)
    }
    assert(got.toSeq == naive)
    assert(got.find(_._1 == 29L).get == ((29L, 0L, 0L, false)))
    // the disjoint vocabularies must actually separate
    assert(naive.filter(r => r._1 % 3 == 0 && r._1 != 29L).forall(_._4))
    assert(naive.filter(r => r._1 % 3 != 0).forall(!_._4))
    // physical layout of the input must not change a single score
    val shuffled = Curation.dsirScores(
        corpus.repartition(7).sortWithinPartitions(col("text")),
        target, "doc_id", "text", dims)
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(shuffled.toSeq == naive)
    // the weight table rides a broadcast join; corpus tokens never
    // shuffle for scoring
    val plan = Curation.dsirScores(corpus, target, "doc_id", "text", dims)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("coverageSelect: greedy max-coverage — marginal gains, erased " +
    "zero-gain docs, early saturation, id tie-break") {
    val docs = Seq(
      (1L, "a b c d"), // richest: picked first, gain 4
      (2L, "a b c"), //   fully covered after pick 1: can never appear
      (3L, "d e f"), //   adds {e, f}: gain 2
      (4L, "g") //        adds {g}: gain 1
    ).toDF("doc_id", "text")
    val got = Curation.coverageSelect(docs, "doc_id", "text", k = 5)
      .as[(Int, Long, Long)].collect().toSeq
    // k=5 but coverage saturates after 3 picks
    assert(got == Seq((1, 1L, 4L), (2, 3L, 2L), (3, 4L, 1L)))

    val tie = Seq((10L, "x y"), (11L, "x y")).toDF("doc_id", "text")
    val gt = Curation.coverageSelect(tie, "doc_id", "text", k = 2)
      .as[(Int, Long, Long)].collect().toSeq
    assert(gt == Seq((1, 10L, 2L))) // 11 adds nothing after the tie pick
  }
}
