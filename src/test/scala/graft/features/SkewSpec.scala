package graft.features

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.schema.TranscriptGen

class SkewSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The columns each hash exchange of `df`'s executed plan partitions
    * on, the fields of a struct column included.
    */
  private def hashedOn(df: DataFrame): Seq[Set[String]] = {
    GraftBridge.forceEvaluate(df)
    collect(GraftBridge.executedPlan(df)) { case e: ShuffleExchangeExec => e.outputPartitioning }
      .collect { case h: HashPartitioning =>
        h.expressions.flatMap(e => e.dataType match {
          case s: StructType => s.fieldNames.toSeq
          case _ => e.references.toSeq.map(_.name)
        }).toSet
      }
  }

  test("over an input partitioned on the key, the hot-key operators still " +
    "shuffle on their salt or chunk") {
    val turns = TranscriptGen.generateDF(spark, 60).repartition($"conv_id")
    val salted = hashedOn(Skew.saltedCountSum(turns, Seq("conv_id"), "turn_idx", salts = 8))
    assert(salted.exists(_("__salt")), salted)
    val topK = hashedOn(Skew.topKPerKey(turns, Seq("conv_id"),
      Seq($"ts".desc, $"turn_idx".asc), k = 3, salts = 8))
    assert(topK.exists(_("__salt")), topK)

    // every ChunkedScan operator: the first exchange under its
    // within-chunk window hashes the packed (key, chunk) column
    import graft.ops.{Analytics, Curation, Stats}
    val id = $"id"
    val base = spark.range(0L, 4000L).select(
      when(id % 5 =!= 0L, lit("hot")).otherwise(concat(lit("c"), (id % 7).cast("string"))).as("k"),
      id, (id * 7919L % 100000L).as("ord"), (id % 13L).as("v"), (id % 50L).as("w"),
      (id % 3L === 0L).as("flag"), timestamp_seconds(id * 37L % 86400L).as("ts"),
      when(id % 4L === 0L, lit("t")).as("s"))
    val byKey = base.repartition(4, $"k")
    val ops: Seq[(String, DataFrame)] = Seq(
      "locf" -> ChunkedScan(byKey, Seq("k"), floor($"ord" / 100L), Seq($"ord", id),
        ChunkedScan.UpToCurrent, ChunkedScan.Last("s_locf", $"s")),
      "packShards" -> Curation.packShards(byKey, "k", "ord", $"w", 500L, 100L),
      "packSplit" -> Curation.packSplit(byKey, "k", "ord", $"w", 500L, 100L),
      "globalRank" -> Curation.globalRank(base.repartition(4, $"ord"), "ord", "id", 3, 100L),
      "exactGroupedQuantiles" ->
        Stats.exactGroupedQuantiles(byKey, "k", $"v", "id", Seq(5000), 4L),
      "weightedGroupedQuantiles" ->
        Stats.weightedGroupedQuantiles(byKey, "k", $"v", $"w", Seq(5000), 4L),
      "quantileNormalize" -> Stats.quantileNormalize(byKey, "k", $"v", "id", "hot", 4L),
      "spearmanExact (rank2Map)" ->
        Stats.spearmanExact(base.repartition(4, $"v"), $"v", $"w", 4.0),
      "aucExact" -> Analytics.aucExact(byKey, $"k", $"v".cast("double"), $"flag", 4.0),
      "targetEncode" -> Encode.targetEncode(byKey, Seq("k"), "ts", $"v", 3600L),
      "validIntervals" -> Scd2.validIntervals(byKey, "k", "ts", "id", 3600L))
    def isPacked(es: Seq[Expression]) = es match {
      case Seq(a: Attribute) => a.name == "__cs_kc"
      case _ => false
    }
    for ((name, df) <- ops) {
      val chunkWindows = collect(GraftBridge.executedPlan(df)) {
        case w: WindowExec if isPacked(w.partitionSpec) => w
      }
      assert(chunkWindows.nonEmpty, s"$name: no window partitioned on __cs_kc")
      for (w <- chunkWindows) {
        val first = collect(w) { case e: ShuffleExchangeExec => e.outputPartitioning }.headOption
        assert(first.exists { case h: HashPartitioning => isPacked(h.expressions); case _ => false },
          s"$name: first exchange under the within-chunk window is $first")
      }
    }
  }

  test("salted two-phase aggregation equals plain groupBy") {
    // one mega-key + long tail
    val rows = (1 to 5000).map(i => ("hot", i.toLong)) ++
      (1 to 500).map(i => (s"k${i % 37}", i.toLong))
    val df = rows.toDF("k", "v")
    val plain = df.groupBy("k")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"))
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    val salted = Skew.saltedCountSum(df, Seq("k"), "v", salts = 8)
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(salted == plain)
  }

  test("salt hash excludes NESTED maps (struct/array-wrapped), not just top-level") {
    // hash() rejects MapType at any nesting depth in Spark 3+ — before the
    // recursive exclusion, a struct<m:map<..>> column failed analysis here
    val df = (1 to 100).map(i => ("hot", i.toLong, Map("a" -> i),
        (i, Map("b" -> i)), Seq(Map("c" -> i))))
      .toDF("k", "v", "m", "sm", "am")
    val out = Skew.saltedCountSum(df, Seq("k"), "v", salts = 4)
      .as[(String, Long, Long)].collect()
    assert(out.toSeq == Seq(("hot", 100L, 5050L)))
  }

  test("salted aggregation spreads the hot key across partials") {
    val df = (1 to 1000).map(i => ("hot", i.toLong)).toDF("k", "v")
    val salted = df.withColumn(
      "__salt", pmod(hash(monotonically_increasing_id()), lit(8)))
    val partialCount = salted.groupBy("k", "__salt").count().count()
    assert(partialCount > 1, "salt must split the hot key")
  }

  test("topKPerKey equals the plain window route on a mega-key fixture") {
    // one key holds 90% of rows; order (v desc, id asc) is total per key
    val rows = (1 to 9000).map(i => ("hot", (i * 37) % 5003, i.toLong)) ++
      (1 to 1000).map(i => (s"k${i % 61}", i % 17, 100000L + i))
    val df = rows.toDF("k", "v", "id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"k").orderBy($"v".desc, $"id".asc)
    val plain = df.withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= 5)
      .as[(String, Int, Long, Long)].collect().sorted.toSeq
    for (salts <- Seq(1, 4, 16)) {
      val got = Skew
        .topKPerKey(df, Seq("k"), Seq($"v".desc, $"id".asc), k = 5, salts)
        .as[(String, Int, Long, Long)].collect().sorted.toSeq
      assert(got == plain, s"salts=$salts diverged from the window route")
    }
    // k larger than any key's row count: every row survives, ranked
    val small = (1 to 7).map(i => ("a", i, i.toLong)).toDF("k", "v", "id")
    val all = Skew
      .topKPerKey(small, Seq("k"), Seq($"v".desc, $"id".asc), k = 50, 4)
      .as[(String, Int, Long, Long)].collect()
    assert(all.length == 7 && all.map(_._4).sorted.toSeq == (1L to 7L))
  }

  test("skewJoin equals the plain join on a mega-key fixture") {
    // one conversation holds 90% of the rows — the exact shape the
    // hot-path broadcast exists for
    val left = ((1 to 900).map(i => ("mega", i)) ++
      (1 to 100).map(i => ("c" + (i % 25), i))).toDF("k", "v")
    val right = (Seq("mega") ++ (0 until 25).map("c" + _))
      .zipWithIndex.map { case (k, i) => (k, i * 10) }.toDF("k", "dim")
    val plain = left.join(right, Seq("k")).collect()
      .map(_.toString).sorted.toSeq
    val skewed = Skew.skewJoin(left, right, Seq("k"), 100L).collect()
      .map(_.toString).sorted.toSeq
    assert(skewed == plain)
  }

  test("skewJoin routes: hot side is a broadcast join, cold side is not") {
    val left = ((1 to 500).map(i => ("mega", i)) ++
      (1 to 50).map(i => ("c" + i, i))).toDF("k", "v")
    val right = (Seq("mega") ++ (1 to 50).map("c" + _))
      .map((_, 1L)).toDF("k", "dim")
    val joined = Skew.skewJoin(left, right, Seq("k"), 100L)
    val plan = joined.queryExecution.optimizedPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    // 2 semi/anti splits + 1 semi on right + hot inner + cold inner
    assert(joins.size >= 5, s"expected the split join tree, got ${joins.size}")
    val broadcastJoins = joins.filter(j =>
      j.hint.rightHint.exists(_.strategy.contains(
        org.apache.spark.sql.catalyst.plans.logical.BROADCAST)) ||
        j.hint.leftHint.exists(_.strategy.contains(
          org.apache.spark.sql.catalyst.plans.logical.BROADCAST)))
    assert(broadcastJoins.nonEmpty, "hot path must carry a broadcast hint")
  }

  test("skewJoin with no hot keys degrades to the plain join result") {
    val left = (1 to 60).map(i => ("c" + (i % 20), i)).toDF("k", "v")
    val right = (0 until 20).map(i => ("c" + i, i)).toDF("k", "dim")
    val plain = left.join(right, Seq("k")).collect().map(_.toString).sorted.toSeq
    val skewed = Skew.skewJoin(left, right, Seq("k"), 1000L).collect()
      .map(_.toString).sorted.toSeq
    assert(skewed == plain)
  }
}
