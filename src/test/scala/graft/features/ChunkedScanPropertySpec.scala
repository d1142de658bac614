package graft.features

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ops.{Analytics, Curation, Stats}

/** Every operator built on [[ChunkedScan]] equals its single-window
  * formulation on random inputs that hold a null key, a null order value
  * wherever the operator accepts one, and one hot key spread over at
  * least 8 chunks. A null key is a group, as under `partitionBy` and
  * `groupBy`.
  */
class ChunkedScanPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val span = 100L // ord and t chunk span; v spans 10, score 2.5
  private val seeds = Seq(11, 12, 13)
  private val unbounded = Window.unboundedPreceding

  /** One random frame: key `k` ("hot" with 300 rows, three cold keys and
    * a null key), unique `id`, `ord` unique with one null per key, `v`
    * with ties and nulls, weight `w` ≥ 0, label `lbl` with nulls, time
    * `ts` with ties, `score` with ties, `flag` with nulls, text `s`
    * mostly null.
    */
  private def frame(seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val keys = Seq[(String, Int)](("hot", 300), ("a", 1 + rnd.nextInt(15)),
      ("b", 1 + rnd.nextInt(15)), ("c", 1 + rnd.nextInt(15)), (null, 5 + rnd.nextInt(10)))
    val ords = rnd.shuffle((0L until span * 12).toList).iterator
    val ids = rnd.shuffle((0L until keys.map(_._2).sum.toLong).toList).iterator
    def sometimes[A](p: Double)(a: => A): Option[A] = if (rnd.nextDouble() < p) None else Some(a)
    keys.flatMap { case (k, n) =>
      (0 until n).map { i =>
        (k, ids.next(), if (i == 0) None else Some(ords.next()),
          sometimes(0.05)(rnd.nextInt(120).toLong), rnd.nextInt(21).toLong,
          sometimes(0.1)(rnd.nextInt(7).toLong), rnd.nextInt(400).toLong * 3L,
          rnd.nextInt(60) / 2.0, sometimes(0.05)(rnd.nextBoolean()),
          sometimes(0.6)(s"s${rnd.nextInt(9)}"))
      }
    }.toDF("k", "id", "ord", "v", "w", "lbl", "t", "score", "flag", "s")
      .withColumn("ts", timestamp_seconds(col("t")))
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def forAllFrames(check: DataFrame => (DataFrame, DataFrame)): Unit =
    for (seed <- seeds) {
      val df = frame(seed)
      for ((c, w) <- Seq(("ord", span.toDouble), ("v", 10.0), ("t", span.toDouble),
          ("score", 2.5))) {
        val chunks = df.filter(col("k") === "hot")
          .select(floor(col(c) / w)).distinct().count()
        assert(chunks >= 8, s"seed $seed: the hot key spans $chunks chunks of $c")
      }
      val (got, want) = check(df)
      assert(rows(got) == rows(want), s"seed $seed")
    }

  test("LOCF (Last, up to the current row) ≡ last(ignoreNulls) over the key") {
    forAllFrames { df =>
      val got = ChunkedScan(df, Seq("k"), floor(col("ord") / span),
        Seq(col("ord"), col("id")), ChunkedScan.UpToCurrent, ChunkedScan.Last("got", col("s")))
      val w = Window.partitionBy("k").orderBy("ord", "id").rowsBetween(unbounded, Window.currentRow)
      (got.select("id", "got"),
        df.select(col("id"), last(col("s"), ignoreNulls = true).over(w).as("got")))
    }
  }

  test("packShards ≡ packShardsSingleWindow") {
    forAllFrames { df =>
      def pack(p: DataFrame) = p.select("id", "n_tokens", "shard_seq")
      (pack(Curation.packShards(df, "k", "ord", col("w"), 40L, chunkSpan = span)),
        pack(Curation.packShardsSingleWindow(df, "k", "ord", col("w"), 40L)))
    }
  }

  test("packSplit's document starts ≡ the single-window exclusive token sum") {
    forAllFrames { df =>
      // a piece-0 row starts its document: shard·budget + tok_start is
      // the stratum's exclusive running token sum, which fixes every piece
      val got = Curation.packSplit(df, "k", "ord", col("w"), 40L, chunkSpan = span)
        .filter(col("piece_seq") === 0L)
        .select(col("id"), (col("shard_seq") * 40L + col("tok_start")).as("g"))
      (got, Curation.packShardsSingleWindow(df, "k", "ord", col("w"), 1L)
        .select(col("id"), col("shard_seq").as("g")))
    }
  }

  test("globalRank ≡ row_number over the global (ord, id) order") {
    forAllFrames { df =>
      val n = df.count()
      val rank = (row_number().over(Window.orderBy("ord", "id")) - 1).cast("long")
      (Curation.globalRank(df, "ord", "id", nPhases = 3, chunkSpan = span)
        .select("id", "global_rank", "phase"),
        df.select(col("id"), rank.as("global_rank"))
          .withColumn("phase", call_function("div", col("global_rank") * 3, lit(n))))
    }
  }

  private val qs = Seq(1, 2500, 5000, 9000, 10000)

  test("exactGroupedQuantiles ≡ exactGroupedQuantilesSingleWindow") {
    forAllFrames { df =>
      (Stats.exactGroupedQuantiles(df, "k", col("v"), "id", qs, chunkSpan = 10L),
        Stats.exactGroupedQuantilesSingleWindow(df, "k", col("v"), "id", qs))
    }
  }

  test("weightedGroupedQuantiles ≡ its single-window cumulative weights") {
    forAllFrames { df =>
      val dec = "decimal(38,0)"
      val vc = df.groupBy(col("k"), col("v")).agg(sum(col("w").cast(dec)).as("c"))
        .withColumn("cum", sum(col("c")).over(Window.partitionBy("k").orderBy("v")
          .rowsBetween(unbounded, Window.currentRow)))
        .withColumn("wt", sum(col("c")).over(Window.partitionBy("k")))
      val picks = qs.map { q =>
        val qw = lit(q.toLong).cast(dec) * col("wt")
        max(when(col("cum") * 10000L >= qw && (col("cum") - col("c")) * 10000L < qw,
          col("v"))).as(s"q$q")
      }
      (Stats.weightedGroupedQuantiles(df, "k", col("v"), col("w"), qs, chunkSpan = 10L),
        vc.groupBy(col("k")).agg(max(col("wt")).cast(dec).as("w_total"), picks: _*))
    }
  }

  test("quantileNormalize's rank and n ≡ row_number and count over the group") {
    forAllFrames { df =>
      val byKey = Window.partitionBy("k")
      (Stats.quantileNormalize(df, "k", col("v"), "id", refGroup = "hot", chunkSpan = 10L)
        .select("id", "rank", "n"),
        df.select(col("id"),
          row_number().over(byKey.orderBy("v", "id")).cast("long").as("rank"),
          count(lit(1)).over(byKey).as("n")))
    }
  }

  test("spearmanExact (rank2Map) ≡ average ranks from rank() and tie counts") {
    forAllFrames { df =>
      val dec = "decimal(38,0)"
      def r2(c: String) =
        ((rank().over(Window.orderBy(c)) - 1) * 2 +
          count(lit(1)).over(Window.partitionBy(c)) + 1).cast(dec)
      val ranked = df.filter(col("v").isNotNull).select(r2("v").as("x"), r2("w").as("y"))
      (Stats.spearmanExact(df, col("v"), col("w"), chunkSpan = 10.0),
        ranked.agg(count(lit(1)).as("n"),
          sum(col("x")).cast(dec).as("s_x"), sum(col("y")).cast(dec).as("s_y"),
          sum(col("x") * col("y")).cast(dec).as("s_xy"),
          sum(col("x") * col("x")).cast(dec).as("s_xx"),
          sum(col("y") * col("y")).cast(dec).as("s_yy")))
    }
  }

  test("aucExact ≡ the single-window negatives-below count, null segment kept") {
    forAllFrames { df =>
      val dec = "decimal(38,0)"
      val flag = col("flag")
      val h = df.filter(col("score").isNotNull && flag.isNotNull)
        .groupBy(col("k").as("seg"), col("score").as("s"))
        .agg(sum(when(flag, 1L).otherwise(0L)).cast(dec).as("np"),
          sum(when(flag, 0L).otherwise(1L)).cast(dec).as("nn"))
        .withColumn("nb", coalesce(sum(col("nn")).over(Window.partitionBy("seg")
          .orderBy("s").rowsBetween(unbounded, -1)), lit(0L).cast(dec)))
      val want = h.groupBy(col("seg"))
        .agg(sum(col("np")).cast(dec).as("n_pos"), sum(col("nn")).cast(dec).as("n_neg"),
          sum(col("np") * (col("nb") * 2 + col("nn"))).cast(dec).as("auc_num"))
        .withColumn("auc_den", (col("n_pos") * col("n_neg") * 2).cast(dec))
      (Analytics.aucExact(df, col("k"), col("score"), flag, chunkSpan = 2.5), want)
    }
  }

  test("targetEncode ≡ targetEncodeSingleWindow") {
    forAllFrames { df =>
      def enc(e: DataFrame) = e.select("id", "enc_cnt", "enc_sum")
      (enc(Encode.targetEncode(df, Seq("k"), "ts", col("lbl"), chunkSeconds = span)),
        enc(Encode.targetEncodeSingleWindow(df, Seq("k"), "ts", col("lbl"))))
    }
  }

  test("validIntervals ≡ lead(ts) over the key in (ts, id) order") {
    forAllFrames { df =>
      (Scd2.validIntervals(df, "k", "ts", "id", chunkSpanSec = span).select("id", "valid_to"),
        df.select(col("id"),
          lead(col("ts"), 1).over(Window.partitionBy("k").orderBy("ts", "id")).as("valid_to")))
    }
  }
}
