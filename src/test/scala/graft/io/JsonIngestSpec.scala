package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.GraftBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.Pipeline
import graft.schema.Turn

/** Batch twin of the reference's JSON serving path
  * (examples/axum/src/main.rs:36-62): JSON-lines in, one-pass
  * validity-partitioned parquet out, valid rows transformed, quarantined
  * rows kept byte-original with a JSON error report.
  */
class JsonIngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def writeJsonl(lines: Seq[String]): Path = {
    val dir = GraftBridge.tempDir("graft_jsonl").toPath
    Files.write(
      dir.resolve("turns.jsonl"),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    dir
  }

  test("ingest splits valid/quarantine in one pass; transforms gate") {
    val inDir = writeJsonl(Seq(
      // valid: trimmed + lowercased on the way in
      """{"conv_id":"c1","turn_idx":0,"role":"user","text":"  HELLO World  ","tool":null,"ts":"2026-01-01T00:00:00Z"}""",
      // invalid: empty text -> too_short
      """{"conv_id":"c1","turn_idx":1,"role":"assistant","text":"","tool":"search","ts":"2026-01-01T00:00:05Z"}""",
      // invalid: missing text -> cannot_be_empty
      """{"conv_id":"c2","turn_idx":0,"role":"user","tool":null,"ts":"2026-01-01T00:01:00Z"}""",
      // corrupt JSON line -> PERMISSIVE all-null row -> quarantined too
      """{"conv_id": BROKEN"""
    ))
    val outDir = GraftBridge.tempDir("graft_ingest").toString

    val df = JsonIngest.readJsonl(
      spark, inDir.resolve("turns.jsonl").toString, Turn.schema)
    val res = JsonIngest.ingest(df, Pipeline.turnSpec, outDir)

    assert(res.validRows == 1)
    assert(res.quarantinedRows == 3)

    // single-pass sink: both splits are partition dirs of ONE write
    assert(Files.exists(Path.of(outDir, "__valid=true")))
    assert(Files.exists(Path.of(outDir, "__valid=false")))

    val valid = JsonIngest.valid(spark, outDir).collect()
    assert(valid.length == 1)
    val v = valid.head
    assert(v.getAs[String]("text") == "hello world") // trimmed + lowered
    assert(v.getAs[String]("conv_id") == "c1")

    val quarantined = JsonIngest.quarantine(spark, outDir)
      .collect()
      .map(r => Option(r.getAs[String]("text")) -> r.getAs[String]("report"))
    assert(quarantined.length == 3)
    val byText = quarantined.toMap
    // original (untransformed) value retained; exact reference codes
    assert(byText(Some("")).contains("\"code\":\"too_short\""))
    assert(byText(None).contains("\"code\":\"cannot_be_empty\""))
    // serving-shape report: detail is raw JSON (object / null), never a
    // double-encoded string — same builder as WaryGate.reportJson
    assert(byText(Some("")).contains("\"detail\":{\"min\":"))
    assert(byText(None).contains("\"detail\":null"))
  }

  test("empty input ingests to (0, 0) instead of failing") {
    val inDir = writeJsonl(Seq.empty)
    val outDir = GraftBridge.tempDir("graft_ingest_empty").toString
    val df = JsonIngest.readJsonl(
      spark, inDir.resolve("turns.jsonl").toString, Turn.schema)
    val res = JsonIngest.ingest(df, Pipeline.turnSpec, outDir)
    assert(res.validRows == 0 && res.quarantinedRows == 0)
  }

  test("valid() reader prunes to the __valid=true partition") {
    val inDir = writeJsonl(Seq(
      """{"conv_id":"c1","turn_idx":0,"role":"user","text":"ok","tool":null,"ts":"2026-01-01T00:00:00Z"}""",
      """{"conv_id":"c1","turn_idx":1,"role":"user","text":"","tool":null,"ts":"2026-01-01T00:00:01Z"}"""
    ))
    val outDir = GraftBridge.tempDir("graft_ingest_prune").toString
    val df = JsonIngest.readJsonl(
      spark, inDir.resolve("turns.jsonl").toString, Turn.schema)
    JsonIngest.ingest(df, Pipeline.turnSpec, outDir)

    val plan = JsonIngest.valid(spark, outDir)
      .queryExecution.executedPlan.toString
    // partition filter must reach the scan (no quarantine files read)
    assert(plan.contains("__valid"), s"partition filter missing:\n$plan")
    assert(JsonIngest.valid(spark, outDir).count() == 1)
  }
}
