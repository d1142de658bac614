package graft.features

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.schema.TranscriptGen

/** The mega-key-safe LOCF — a [[ChunkedScan]] of `Last(tool)` over
  * (conv_id, time-chunk) — must equal the single-window LOCF exactly,
  * including across chunk boundaries and for all-null prefixes.
  */
class LocfScalableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions.{col, floor}

  private def locf(df: DataFrame, chunkSeconds: Long, as: String): DataFrame =
    ChunkedScan(df, Seq("conv_id"), floor(col("ts").cast("long") / chunkSeconds),
      Seq(col("ts"), col("turn_idx")), ChunkedScan.UpToCurrent,
      ChunkedScan.Last(as, col("tool")))

  test("two-phase LOCF equals single-window LOCF (incl. mega conversations)") {
    // seed with mega-conversations (every 97th conv hits maxLen)
    val df = TranscriptGen.generate(spark, nConvs = 120, maxLen = 512).toDF()
    val single = Windows
      .locf(df, Windows.turnWindow, "tool", as = "expected")
      .select("conv_id", "turn_idx", "expected")
    val scalable = locf(df, chunkSeconds = 300L, as = "got")
      .select("conv_id", "turn_idx", "got")
    val joined = single.join(scalable, Seq("conv_id", "turn_idx"))
    val mismatches = joined
      .filter(!(joined("expected") <=> joined("got")))
      .count()
    assert(mismatches == 0, s"$mismatches rows differ from single-window LOCF")
    assert(joined.count() == df.count())
  }

  test("chunking actually splits mega keys across multiple groups") {
    import org.apache.spark.sql.functions._
    val df = TranscriptGen.generate(spark, nConvs = 98, maxLen = 512).toDF()
    val chunksPerConv = df
      .withColumn("__chunk", floor(col("ts").cast("long") / 300L))
      .groupBy("conv_id")
      .agg(countDistinct(col("__chunk")).as("n_chunks"))
      .agg(max(col("n_chunks")))
      .collect().head.getLong(0)
    assert(chunksPerConv > 1, "mega conversation should span several chunks")
  }

  test("a null key carries across chunks like any other key; a null ts " +
      "sorts first in its key") {
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val df = Seq[(String, Int, java.sql.Timestamp, String)](
      (null, 0, at(0), "a"), (null, 1, at(600), null),
      ("k", 0, at(0), "b"), ("k", 1, null, null), ("k", 2, at(600), null)
    ).toDF("conv_id", "turn_idx", "ts", "tool")
    val got = locf(df, chunkSeconds = 300L, as = "got")
      .select("conv_id", "turn_idx", "got").as[(String, Int, String)].collect().toSet
    val single = Windows.locf(df, Windows.turnWindow, "tool", as = "got")
      .select("conv_id", "turn_idx", "got").as[(String, Int, String)].collect().toSet
    assert(got == Set((null, 0, "a"), (null, 1, "a"),
      ("k", 0, "b"), ("k", 1, null), ("k", 2, "b")))
    assert(got == single)
  }
}
