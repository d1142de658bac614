package graft.plans

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.{DataFrame, GraftBridge, Row}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Pipeline, TestSpark}
import graft.compile.WaryGate
import graft.features.{AsOfNative, Sessionize, Windows}
import graft.schema.TranscriptGen

/** Seeded differential property for the flagship's one-pass operator: over
  * random transcripts, `Pipeline.featuresFromTurns` (gate → [[FeatureScan]])
  * gives the rows and the schema, nullability included, of the composition
  * it replaced, kept here as the oracle: `Windows`/`Sessionize` over
  * `Windows.turnWindow`, then `AsOfNative.joinBackward` of the tool turns
  * with `rightOrderBy = turn_idx`.
  *
  * The transcripts hold what the operator must get right: duplicate `ts`
  * with tool turns later by `turn_idx` inside a ts group, null `ts`,
  * `tool`, `text` and `conv_id`, gaps on either side of the session gap
  * (sub-second parts included, which `cast(ts AS long)` floors), rows out
  * of order across input partitions, and conversations of one row.
  */
class FeatureScanPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("conv_id", StringType),
    StructField("turn_idx", IntegerType, nullable = false),
    StructField("role", StringType, nullable = false),
    StructField("text", StringType),
    StructField("tool", StringType),
    StructField("ts", TimestampType)))

  /** Today's composition, the operator's oracle. */
  private def composition(turns: DataFrame): DataFrame = {
    val gated = WaryGate(turns, Pipeline.turnSpec)
      .withColumn("n_errors", size(col("errors")))
      .drop("errors")
    val w = Windows.turnWindow
    val withWin = Sessionize(
      Windows.runningCount(
        Windows.locf(
          Windows.withLag(gated, w, "text", 1, as = "prev_text"),
          w, "tool", as = "tool_state"),
        w, col("tool").isNotNull, as = "n_tool_calls"),
      Seq("conv_id"), "ts", gapSeconds = 1800L, tieBreak = Seq("turn_idx"))
    val obs = turns
      .filter(col("tool").isNotNull)
      .select(col("conv_id"), col("ts"), col("turn_idx"), col("tool").as("last_tool"))
    AsOfNative.joinBackward(withWin, obs, Seq("conv_id"), rightOrderBy = Seq("turn_idx"))
  }

  /** A random transcript, its rows in random order over 3 partitions. */
  private def randomTurns(seed: Int): DataFrame = {
    val rnd = new Random(seed)
    val nConvs = 1 + rnd.nextInt(6)
    // per conversation, turns whose ts steps by 0 (a ts group), by less
    // than the gap, by the gap ± 1 s, or by more; now and then a null ts
    val rows = (0 until nConvs).flatMap { c =>
      // one conversation at most is the null key: (conv_id, turn_idx) is unique
      val conv = if (c == 0 && rnd.nextInt(3) == 0) null else s"c$c"
      var t = 1700000000000L + rnd.nextInt(1000) * 1000L
      (0 until 1 + rnd.nextInt(if (rnd.nextInt(4) == 0) 2 else 40)).map { i =>
        t += (rnd.nextInt(6) match {
          case 0 | 1 => 0L
          case 2 => rnd.nextInt(600) * 1000L
          case 3 => 1799000L + rnd.nextInt(3) * 1000L
          case 4 => 1800000L + rnd.nextInt(1000) // the gap, plus a fraction
          case _ => 3600000L + rnd.nextInt(5000) * 1000L
        })
        val ts = if (rnd.nextInt(7) == 0) null else new Timestamp(t)
        val text = rnd.nextInt(8) match {
          case 0 => null
          case 1 => ""
          case 2 => "x" * 4001 // rejected by the gate: kept as is
          case _ => s"  Turn $i of ${rnd.nextInt(100)} "
        }
        val tool = if (rnd.nextInt(3) == 0) s"t${rnd.nextInt(3)}" else null
        Row(conv, i, "user", text, tool, ts)
      }
    }
    val shuffled = rnd.shuffle(rows)
    spark.createDataFrame(spark.sparkContext.parallelize(shuffled, 3), schema)
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => (String.valueOf(r.getAs[String]("conv_id")),
      r.getAs[Int]("turn_idx")))

  private def assertSameAsComposition(turns: DataFrame, clue: String): Unit = {
    val got = Pipeline.featuresFromTurns(turns)
    val want = composition(turns)
    assert(got.schema == want.schema, clue)
    val (g, w) = (sorted(got), sorted(want))
    assert(g.size == w.size, clue)
    g.zip(w).foreach { case (a, b) => assert(a == b, s"$clue\n got: $a\nwant: $b") }
  }

  test("featuresFromTurns ≡ windows + Sessionize + self as-of: 16 random " +
    "transcripts") {
    for (seed <- 1 to 16) assertSameAsComposition(randomTurns(seed), s"seed=$seed")
  }

  test("featuresFromTurns ≡ windows + Sessionize + self as-of: TranscriptGen") {
    assertSameAsComposition(TranscriptGen.generateDF(spark, 150).repartition(4),
      "TranscriptGen 150")
  }

  test("ts groups past the buffer's in-memory threshold spill and give the " +
    "same rows") {
    // conversations of long same-ts runs, read by a session whose group
    // buffer spills past 2 rows
    val rnd = new Random(42)
    val rows = (0 until 3).flatMap { c =>
      (0 until 60).map { i =>
        val ts = if (i < 4) null else new Timestamp(1700000000000L + (i / 20) * 1000000L)
        Row(s"c$c", i, "user", s"text $i " * rnd.nextInt(4),
          if (rnd.nextInt(4) == 0) s"t${rnd.nextInt(9)}" else null, ts)
      }
    }
    val spilling = spark.newSession()
    spilling.conf.set("spark.sql.windowExec.buffer.in.memory.threshold", "2")
    spilling.conf.set("spark.sql.windowExec.buffer.spill.threshold", "2")
    def turns(s: org.apache.spark.sql.SparkSession) =
      s.createDataFrame(s.sparkContext.parallelize(rnd.shuffle(rows), 2), schema)
    assert(sorted(Pipeline.featuresFromTurns(turns(spilling))) == sorted(composition(turns(spark))))
  }

  test("a key-only predicate moves below FeatureScan; one on ts stays above") {
    for (seed <- Seq(3, 7)) {
      val features = Pipeline.featuresFromTurns(randomTurns(seed))
      val materialized = features.localCheckpoint()
      val t = new Timestamp(1700000000000L + 500000000L)
      for (pred <- Seq(col("conv_id").isin("c0", "c2") || col("conv_id").isNull,
          col("conv_id") =!= "c1" && col("ts") > t)) {
        val filtered = features.filter(pred)
        assert(sorted(filtered) == sorted(materialized.filter(pred)), s"seed=$seed $pred")
        val scan = GraftBridge.optimizedPlan(filtered).collectFirst { case s: FeatureScan => s }
        val below = scan.get.child.collect { case f: Filter => f.references.map(_.name).toSet }
        assert(below.nonEmpty && below.forall(_ == Set("conv_id")), s"seed=$seed $pred")
      }
    }
  }

  test("a tool turn later by turn_idx in the same ts is every same-ts row's " +
    "last_tool, not its tool_state") {
    val t = new Timestamp(1700000000000L)
    val turns = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("c", 1, "user", "a", null, t),
      Row("c", 2, "user", "b", "search", t),
      Row("c", 3, "user", "c", null, null))), schema)
    val got = Pipeline.featuresFromTurns(turns).orderBy("turn_idx")
      .select("turn_idx", "tool_state", "last_tool").collect().toSeq
    assert(got == Seq(Row(1, null, "search"), Row(2, "search", "search"), Row(3, null, null)))
  }
}
