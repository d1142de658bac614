package graft.io

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._

import graft.TestSpark

class JsonlSinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("jsonl roundtrip recovers id and text exactly, escaping included; " +
    "one file per (stratum, shard) dir") {
    val tmp = GraftBridge.tempDir("graft_jsonl").toString
    val df = Seq(
      (1L, "plain text"),
      (2L, "quote\" and back\\slash"),
      (3L, "new\nline tab\t cr\r"),
      (4L, "unicode é日本 ctrlend")
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
    JsonlSink.writeJsonlShards(df, "doc_id", "text", "lang",
      budgetTokens = 1000L, outDir = tmp)
    val back = JsonlSink.readBack(spark, tmp, "lang")
    // every line is parseable JSON and recovers the original text
    val parsed = back
      .select(from_json(col("line"),
        org.apache.spark.sql.types.StructType.fromDDL("id LONG, text STRING"))
        .as("j"))
      .select(col("j.id"), col("j.text"))
      .as[(Long, String)].collect().toMap
    val want = df.select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(parsed == want)
    // layout: one text file per shard directory
    val shardDirs = new java.io.File(s"$tmp/lang=en").listFiles()
      .filter(_.isDirectory)
    assert(shardDirs.nonEmpty)
    shardDirs.foreach { d =>
      val files = d.listFiles().filter(f => f.isFile &&
        !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      assert(files.length == 1, s"${d.getName}: ${files.length} files")
    }
  }

  test("jsonLine bytes equal JsonEscape.quote composition") {
    val nasty = "a\"b\\c\nd\tef"
    val got = Seq((7L, nasty)).toDF("doc_id", "text")
      .select(JsonlSink.jsonLine("doc_id", "text")).as[String].head()
    assert(got == s"""{"id":7,"text":${graft.exprs.JsonEscape.quote(nasty)}}""")
  }
}
