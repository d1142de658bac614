package graft.io

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class CsvIngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("conv_id", StringType),
    StructField("turn_idx", IntegerType),
    StructField("role", StringType)))

  test("PERMISSIVE csv: partial parse keeps good fields, raw line quarantined, arity errors flagged") {
    val dir = GraftBridge.tempDir("graft_csv_spec").toPath
    java.nio.file.Files.writeString(dir.resolve("a.csv"),
      "c1,5,user\nc2,x,assistant\nc3,7\nc4,8,tool,extra\n")
    val got = CsvIngest.flagged(
      CsvIngest.readCsv(spark, dir.toString, schema))
      .collect()
      .map(r => r.getString(0) ->
        ((if (r.isNullAt(1)) -1 else r.getInt(1)),
          r.getString(2), Option(r.getString(3)), r.getString(4)))
      .toMap
    assert(got("c1") == ((5, "user", None, "true")))
    assert(got("c2") == ((-1, "assistant", Some("c2,x,assistant"), "false")),
      "bad int: field nulls, siblings parse, raw preserved")
    assert(got("c3")._1 == 7 && got("c3")._4 == "false",
      "missing trailing field is malformed, parsed prefix kept")
    assert(got("c4") == ((8, "tool", Some("c4,8,tool,extra"), "false")),
      "extra field is malformed, declared fields kept")
  }
}
