package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._

import graft.TestSpark

class LayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("zorderKey matches the row-at-a-time reference on random dims " +
    "(2 and 3 dims, seeded)") {
    val rnd = new scala.util.Random(20260818L)
    val rows2 = Seq.fill(300)((rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong))
    val got2 = rows2.toDF("a", "b")
      .select(col("a"), col("b"),
        Layout.zorderKey(Seq(col("a"), col("b")), 10).as("z"))
      .as[(Long, Long, Long)].collect()
    got2.foreach { case (a, b, z) =>
      assert(z == Layout.zorderRef(Seq(a, b), 10), s"($a, $b)")
    }
    val rows3 = Seq.fill(200)((rnd.nextInt(128).toLong,
      rnd.nextInt(128).toLong, rnd.nextInt(128).toLong))
    val got3 = rows3.toDF("a", "b", "c")
      .select(col("a"), col("b"), col("c"),
        Layout.zorderKey(Seq(col("a"), col("b"), col("c")), 7).as("z"))
      .as[(Long, Long, Long, Long)].collect()
    got3.foreach { case (a, b, c, z) =>
      assert(z == Layout.zorderRef(Seq(a, b, c), 7), s"($a, $b, $c)")
    }
  }

  test("zorderKey fails loud on an out-of-range dimension") {
    val ex = intercept[Exception] {
      Seq((5L, 1024L)).toDF("a", "b")
        .select(Layout.zorderKey(Seq(col("a"), col("b")), 10))
        .collect()
    }
    assert(ex.getMessage.contains("out of [0, 1024)") ||
      Option(ex.getCause).exists(_.getMessage.contains("out of [0, 1024)")))
  }

  /** 64x64 grid, bits=6, shift=8: each zbucket is exactly one ALIGNED
    * 16x16 tile (the top two interleaved bits of each dim), 16 buckets
    * total.
    */
  private def grid = (for { x <- 0 until 64; y <- 0 until 64 }
    yield (x.toLong * 64 + y, x.toLong, y.toLong)).toDF("id", "x", "y")

  test("prunedScan is lossless vs the plain filter (random rectangles)") {
    val g = grid.cache()
    val rnd = new scala.util.Random(42)
    try {
      (1 to 5).foreach { _ =>
        val (x0, y0) = (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)
        val (x1, y1) = (x0 + rnd.nextInt(20), y0 + rnd.nextInt(20))
        val got = Layout
          .prunedScan(g, Seq("x", "y"), bits = 6, shift = 8,
            ranges = Seq((x0, x1), (y0, y1)))
          .select("id").as[Long].collect().sorted
        val want = g.filter(col("x").between(x0, x1) &&
            col("y").between(y0, y1))
          .select("id").as[Long].collect().sorted
        assert(got.toSeq == want.toSeq, s"rect [$x0,$x1]x[$y0,$y1]")
      }
    } finally g.unpersist()
  }

  test("z-layout manifest prunes a y-only predicate a 1-D x-major " +
    "layout cannot (8/16 buckets vs 16/16)") {
    val g = grid
    // z layout: y in [8, 23] touches y-tiles {0, 1} at every x-tile
    val stats = Layout.zBucketStats(g, Seq("x", "y"), bits = 6, shift = 8)
    assert(stats.count() == 16L) // 16 aligned 16x16 tiles
    val zCand = stats.filter(col("max_y") >= 8L && col("min_y") <= 23L).count()
    assert(zCand == 8L)
    // 1-D x-major layout (key = x*64 + y, same 256-row buckets): every
    // bucket is 4 full x-columns, so min_y = 0 / max_y = 63 everywhere
    // and NOTHING is pruned. (The trade: an x-only predicate favors the
    // 1-D layout 4 vs 8 — z-order balances ALL dims instead of one.)
    val oneD = g.withColumn("bkt", shiftrightunsigned(col("x") * 64 + col("y"), 8))
      .groupBy("bkt").agg(min("y").as("min_y"), max("y").as("max_y"))
    assert(oneD.count() == 16L)
    val oneDCand = oneD.filter(col("max_y") >= 8L && col("min_y") <= 23L).count()
    assert(oneDCand == 16L)
  }

  test("layoutZOrdered: each output partition holds whole zbuckets " +
    "(one file per manifest row on write)") {
    val laid = Layout.layoutZOrdered(grid, Seq("x", "y"), bits = 6, shift = 8)
    val perPart = laid
      .select(col("zbucket"), spark_partition_id().as("pid"))
      .distinct()
      .groupBy("zbucket").agg(countDistinct("pid").as("n"))
      .agg(max("n")).as[Long].head()
    assert(perPart == 1L)
  }

  test("compactionPlan: adjacent files coalesce in layout order, an " +
    "oversize file is never split, single-file groups are no-ops") {
    // bytes 100,100,250,100,100,100 at target 200; exclusive cumsum
    // 0,100,200,450,550,650 -> groups 0,0,1,2,2,3
    val manifest = Seq(
      ("p", 0L, 100L), ("p", 1L, 100L), ("p", 2L, 250L),
      ("p", 3L, 100L), ("p", 4L, 100L), ("p", 5L, 100L))
      .toDF("part", "file_seq", "bytes")
    val plan = Layout.compactionPlan(manifest, "part", "file_seq",
        "bytes", targetBytes = 200L)
      .orderBy("group_seq")
      .as[(String, Long, Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(plan == Seq(
      ("p", 0L, 2L, 200L, 0L, 1L, true),   // two smalls coalesce
      ("p", 1L, 1L, 250L, 2L, 2L, false),  // oversize file stays whole
      ("p", 2L, 2L, 200L, 3L, 4L, true),
      ("p", 3L, 1L, 100L, 5L, 5L, false))) // lone tail is a no-op
    // conservation: every file lands in exactly one group
    assert(plan.map(_._3).sum == manifest.count())
    assert(plan.map(_._4).sum ==
      manifest.agg(sum("bytes")).as[Long].head())
  }

  test("bloomBucketManifest + bloomPrunedEquality: lossless vs the plain " +
      "filter for every probed value, and buckets genuinely skip") {
    val rnd = new scala.util.Random(61)
    // keys clustered per bucket so most buckets lack most values
    val rows = (0 until 2000).map { i =>
      val bucket = i / 200
      (i.toLong, bucket.toLong, (bucket * 1000 + rnd.nextInt(50)).toLong)
    }
    val df = rows.toDF("id", "bucket", "k")
    val manifest = Layout.bloomBucketManifest(df, $"bucket", $"k",
      nWords = 4, nHashes = 3)
    // at most nWords manifest rows per bucket
    val perBucket = manifest.groupBy("bucket").count()
      .as[(Long, Long)].collect()
    assert(perBucket.forall(_._2 <= 4))
    var skippedSomething = false
    for (v <- Seq(3010L, 7042L, 999999L)) {
      val got = Layout.bloomPrunedEquality(df, $"bucket", $"k", v, manifest,
          nWords = 4, nHashes = 3)
        .select($"id").as[Long].collect().toSet
      val plain = rows.filter(_._3 == v).map(_._1).toSet
      assert(got == plain, s"lossless for $v")
      // the matching value lives in one bucket; with 10 buckets the
      // filter must rule out at least one non-matching bucket
      val kept = Layout.bloomPrunedEquality(
          df.select($"bucket").distinct(), $"bucket", lit(v).as("k"), v,
          manifest, nWords = 4, nHashes = 3)
      if (kept.count() < 10) skippedSomething = true
    }
    assert(skippedSomething, "bloom pruning never skipped a bucket")
  }

  test("compactExec: data byte-identical, file count shrinks, exactly " +
      "one data file per (part, group)") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val tmp = GraftBridge.tempDir("graft_compact_spec").toString
    val small = s"$tmp/small"
    val out = s"$tmp/compacted"
    val rnd = new scala.util.Random(59)
    val rows = (1 to 400).map(i =>
      (i.toLong, s"p${i % 3}", rnd.nextInt(1000).toLong))
    val df = rows.toDF("id", "part", "v")
      .withColumn("file_seq", floor(col("id") / 4))
    df.repartition(col("part"), col("file_seq"))
      .write.partitionBy("part", "file_seq").mode("overwrite").parquet(small)
    def dataFiles(dir: String): Seq[java.nio.file.Path] = {
      val s = Files.walk(Paths.get(dir))
      try s.iterator().asScala.toList.filter(
        _.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
    val nBefore = dataFiles(small).size
    val manifest = Layout.fileManifest(spark, small, "part", "file_seq")
    assert(manifest.count() > 0)
    val assigned = Curation.packShards(manifest, "part", "file_seq",
        col("bytes"), budgetTokens = 8192L)
      .select(col("part"), col("file_seq"), col("shard_seq").as("group_seq"))
    Layout.compactExec(spark.read.parquet(small), assigned,
      "part", "file_seq", "id", out)
    val after = dataFiles(out)
    assert(after.size < nBefore,
      s"compaction must shrink the file count ($nBefore -> ${after.size})")
    // exactly one data file per (part, group) directory
    val perDir = after.groupBy(_.getParent.toString).view.mapValues(_.size)
    assert(perDir.values.forall(_ == 1),
      s"multi-file group dirs: ${perDir.filter(_._2 > 1).keys}")
    // data equality (partition cols read back as their dir values)
    val got = spark.read.parquet(out).select($"id", $"part", $"v")
      .as[(Long, String, Long)].collect().toSet
    assert(got == rows.toSet)
  }
}
