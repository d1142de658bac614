package graft.streaming

import org.apache.spark.sql.GraftBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.features.Sessionize
import graft.schema.TranscriptGen

/** Structured Streaming smoke: file source → watermarked agg / stateful
  * sessionization → memory sink, driven synchronously.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def stagedTurns(): String = {
    val dir = GraftBridge.tempDir("graft_stream").toString
    TranscriptGen.generateDF(spark, 20).write.mode("overwrite").parquet(dir)
    dir
  }

  test("windowed role counts match batch aggregation") {
    val dir = stagedTurns()
    val schema = graft.schema.Turn.schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = StreamingFeatures.windowedRoleCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("role_counts").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.sql("SELECT sum(n) FROM role_counts")
      .collect().head.getLong(0)
    val batch = spark.read.parquet(dir).count()
    assert(streamed == batch)
  }

  test("wary gate runs unchanged on a stream (stateless projection)") {
    val dir = stagedTurns()
    val schema = graft.schema.Turn.schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val gated = graft.compile.WaryGate(stream, graft.Pipeline.turnSpec)
      .selectExpr("conv_id", "turn_idx", "text",
        "size(errors) = 0 AS is_valid")
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("gated_stream").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.sql(
      "SELECT conv_id, turn_idx, text, is_valid FROM gated_stream")
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (Option(r.getString(2)), r.getBoolean(3))).toMap
    val batch = graft.compile.WaryGate(
      spark.read.parquet(dir), graft.Pipeline.turnSpec)
      .selectExpr("conv_id", "turn_idx", "text",
        "size(errors) = 0 AS is_valid")
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (Option(r.getString(2)), r.getBoolean(3))).toMap
    assert(streamed == batch) // per-turn text byte-equal + same validity
    assert(batch.values.exists(_._2) && batch.values.exists(!_._2))
  }

  test("sessionize flushes the idle tail session via event-time timeout " +
    "and keeps state O(1)") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingFeatures.TurnEvent
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TurnEvent]
    val sessions = StreamingFeatures.sessionize(
      input.toDS(), gapSeconds = 30L, watermark = "0 seconds")
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("tail_sessions").start()
    // ts=0 would be dropped as late (the initial watermark is epoch 0),
    // so the scenario starts at t=100s
    def ts(s: Long) = new Timestamp(s * 1000L)
    // conv A: two turns 10s apart -> ONE session, stays open
    input.addData(TurnEvent("A", 0, "user", ts(100)),
      TurnEvent("A", 1, "assistant", ts(110)))
    q.processAllAvailable()
    // a much later event on another conversation advances the watermark
    // far past A's end + gap -> A's tail must flush on timeout
    input.addData(TurnEvent("B", 0, "user", ts(1000)))
    q.processAllAvailable()
    input.addData(TurnEvent("B", 1, "user", ts(2000)))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql(
      "SELECT conv_id, session_seq, n_turns, session_start, session_end " +
        "FROM tail_sessions WHERE conv_id = 'A'")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3).getTime / 1000L, r.getTimestamp(4).getTime / 1000L))
    // matches batch Sessionize on the same turns: one session of 2 turns
    assert(got.toSeq == Seq(("A", 0L, 2L, 100L, 110L)), got.mkString(","))
  }

  test("streaming LOCF equals batch backfill across micro-batches " +
    "(state carries the last observation)") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingFeatures.TurnToolEvent
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TurnToolEvent]
    val q = StreamingFeatures.locf(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_locf_unit").start()
    def ts(s: Long) = new Timestamp(s * 1000L)
    // batch 1: A sees a tool at idx 1; B sees nothing
    input.addData(
      TurnToolEvent("A", 0, None, ts(10)),
      TurnToolEvent("A", 1, Some("search"), ts(20)),
      TurnToolEvent("B", 0, None, ts(15)))
    q.processAllAvailable()
    // batch 2: A's carry-in crosses the batch boundary; B gets its first
    // tool; intra-batch disorder (idx 3 before idx 2 in arrival order)
    // is absorbed by the in-batch (ts, turn_idx) sort
    input.addData(
      TurnToolEvent("A", 3, None, ts(40)),
      TurnToolEvent("A", 2, Some("code"), ts(30)),
      TurnToolEvent("B", 1, Some("fetch"), ts(25)),
      TurnToolEvent("B", 2, None, ts(35)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("stream_locf_unit")
      .collect().map(r => (r.getString(0), r.getInt(1), Option(r.getString(2))))
      .toSet
    val want = Set(
      ("A", 0, None), ("A", 1, Some("search")),
      ("A", 2, Some("code")), ("A", 3, Some("code")),
      ("B", 0, None), ("B", 1, Some("fetch")), ("B", 2, Some("fetch")))
    assert(got == want, got.toSeq.sortBy(t => (t._1, t._2)).mkString(","))
  }

  test("streaming as-of: anchors see the latest feed at-or-before their " +
    "ts across batches; equal-ts feed applies first; tolerance drops stale") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingFeatures.{AsOfEvent, AsOfOut}
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new Timestamp(s * 1000L)
    def feed(c: String, v: String, t: Long, idx: Int = 0) =
      AsOfEvent(c, 0, idx, Some(v), ts(t))
    def anchor(c: String, idx: Int, t: Long) =
      AsOfEvent(c, 1, idx, None, ts(t))
    val input = MemoryStream[AsOfEvent]
    val q = StreamingFeatures.asOfBackward(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_asof_unit").start()
    // batch 1: anchor before any feed -> null; equal-ts feed visible to
    // its anchor (allowExactMatches); two equal-ts feeds -> higher idx wins
    input.addData(
      anchor("A", 0, 10),
      feed("A", "search", 20, idx = 1), feed("A", "code", 20, idx = 2),
      anchor("A", 1, 20))
    q.processAllAvailable()
    // batch 2: the carry crosses the batch boundary; a newer feed
    // overrides it for later anchors only
    input.addData(
      anchor("A", 2, 25),
      feed("A", "fetch", 30),
      anchor("A", 3, 35),
      anchor("B", 0, 50)) // key with no feed ever: stays null
    q.processAllAvailable()
    q.stop()
    val got = spark.table("stream_asof_unit")
      .as[AsOfOut].collect().map(o => (o.conv_id, o.turn_idx) -> o.tool_asof)
      .toMap
    assert(got == Map(
      ("A", 0) -> None, ("A", 1) -> Some("code"), ("A", 2) -> Some("code"),
      ("A", 3) -> Some("fetch"), ("B", 0) -> None))
    // tolerance path: a 5s-stale carry is dropped at 10s tolerance? kept;
    // at 3s tolerance the same anchor reads null
    val loose = MemoryStream[AsOfEvent]
    val q2 = StreamingFeatures.asOfBackward(loose.toDS(),
        toleranceMs = Some(3000L))
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_asof_tol").start()
    loose.addData(feed("C", "old", 100), anchor("C", 0, 102),
      anchor("C", 1, 106))
    q2.processAllAvailable()
    q2.stop()
    val tol = spark.table("stream_asof_tol")
      .as[AsOfOut].collect().map(o => o.turn_idx -> o.tool_asof).toMap
    assert(tol == Map(0 -> Some("old"), 1 -> None))
  }

  test("streaming FORWARD as-of: anchors wait for the first at-or-after " +
    "observation across batches; equal-ts matches; sentinel flushes; " +
    "tolerance turns a far future into None") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingFeatures.{AsOfEvent, AsOfOut}
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new Timestamp(s * 1000L)
    def feed(c: String, v: Option[String], t: Long) =
      AsOfEvent(c, 0, 0, v, ts(t))
    def anchor(c: String, idx: Int, t: Long) =
      AsOfEvent(c, 1, idx, None, ts(t))
    val input = MemoryStream[AsOfEvent]
    val q = StreamingFeatures.asOfForward(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_asof_fwd_unit").start()
    // batch 1: anchor at 10 pends; anchor at 20 matches the EQUAL-ts
    // observation (allowExactMatches) — and so does the pending one
    input.addData(
      anchor("A", 0, 10), anchor("A", 1, 20), feed("A", Some("search"), 20))
    q.processAllAvailable()
    // batch 2: pending crosses the batch boundary; later observation
    // only serves anchors still waiting; sentinel flushes the rest
    input.addData(anchor("A", 2, 25), anchor("B", 0, 40))
    q.processAllAvailable()
    input.addData(feed("A", Some("fetch"), 30),
      feed("A", None, 9999), feed("B", None, 9999)) // sentinels
    q.processAllAvailable()
    q.stop()
    val got = spark.table("stream_asof_fwd_unit")
      .as[AsOfOut].collect().map(o => (o.conv_id, o.turn_idx) -> o.tool_asof)
      .toMap
    assert(got == Map(
      ("A", 0) -> Some("search"), ("A", 1) -> Some("search"),
      ("A", 2) -> Some("fetch"), ("B", 0) -> None))
    // tolerance: a match 5s ahead is None at 3s tolerance, kept at 10s
    val tol = MemoryStream[AsOfEvent]
    val q2 = StreamingFeatures.asOfForward(tol.toDS(),
        toleranceMs = Some(3000L))
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_asof_fwd_tol").start()
    tol.addData(anchor("C", 0, 100), anchor("C", 1, 104),
      feed("C", Some("late"), 105))
    q2.processAllAvailable()
    q2.stop()
    val tolGot = spark.table("stream_asof_fwd_tol")
      .as[AsOfOut].collect().map(o => o.turn_idx -> o.tool_asof).toMap
    assert(tolGot == Map(0 -> None, 1 -> Some("late")))
  }

  test("streaming target encode: tie cohorts see pre-cohort state, " +
    "running stats carry across micro-batches") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingFeatures.TurnLabelEvent
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TurnLabelEvent]
    val q = StreamingFeatures.targetEncode(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_enc_unit").start()
    def ts(s: Long) = new Timestamp(s * 1000L)
    // batch 1: role u at t10 (label 5), tie cohort at t20 (labels 7, 9) —
    // the tied pair must BOTH see only t10's stats, not each other
    input.addData(
      TurnLabelEvent("c1", 0, "u", Some(5L), ts(10)),
      TurnLabelEvent("c1", 1, "u", Some(7L), ts(20)),
      TurnLabelEvent("c2", 0, "u", Some(9L), ts(20)))
    q.processAllAvailable()
    // batch 2: carry-in (3 labels, sum 21) crosses the boundary; a
    // null-label row observes but never contributes
    input.addData(
      TurnLabelEvent("c1", 2, "u", None, ts(30)),
      TurnLabelEvent("c2", 1, "u", Some(1L), ts(40)),
      TurnLabelEvent("c3", 0, "v", Some(2L), ts(5)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("stream_enc_unit")
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4)))))
      .toMap
    assert(got == Map(
      ("c1", 0) -> ((0L, None)),
      ("c1", 1) -> ((1L, Some(5L))),
      ("c2", 0) -> ((1L, Some(5L))),
      ("c1", 2) -> ((3L, Some(21L))),
      ("c2", 1) -> ((3L, Some(21L))),
      ("c3", 0) -> ((0L, None))),
      got.toSeq.sortBy(_._1).mkString(","))
  }

  test("streaming LOCF orders sub-millisecond timestamps at full " +
    "precision (batch ORDER BY ts parity, not getTime truncation)") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingFeatures.TurnToolEvent
    implicit val sqlCtx = spark.sqlContext
    def tsMicros(sec: Long, micros: Int) = {
      val t = new Timestamp(sec * 1000L)
      t.setNanos(micros * 1000)
      t
    }
    val input = MemoryStream[TurnToolEvent]
    val q = StreamingFeatures.locf(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_locf_micros").start()
    // same millisecond, different microseconds, event-time order OPPOSITE
    // to turn_idx order: batch `ORDER BY ts, turn_idx` processes turn 2
    // (at .000500) before turn 1 (at .000900), so turn 1 must see the tool
    input.addData(
      TurnToolEvent("A", 1, None, tsMicros(10, 900)),
      TurnToolEvent("A", 2, Some("a"), tsMicros(10, 500)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("stream_locf_micros")
      .collect().map(r => (r.getInt(1), Option(r.getString(2)))).toSet
    assert(got == Set((2, Some("a")), (1, Some("a"))), got.mkString(","))
  }

  test("streaming dedup keeps only the first occurrence per hash, " +
    "including duplicates straddling a batch boundary") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingFeatures.DocEvent
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[DocEvent]
    val q = StreamingFeatures.dedupExact(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_dedup_unit").start()
    // batch 1: h1 appears twice IN one batch (arrival order reversed —
    // the in-batch doc_id sort must pick 1, not 7); h2 once
    input.addData(DocEvent(7, "h1"), DocEvent(1, "h1"), DocEvent(2, "h2"))
    q.processAllAvailable()
    // batch 2: h1 and h2 again (cross-batch state must mark both dups),
    // h3 new
    input.addData(DocEvent(3, "h1"), DocEvent(4, "h2"), DocEvent(5, "h3"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("stream_dedup_unit")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
      .toSet
    val want = Set(
      (1L, "h1", true), (7L, "h1", false), (3L, "h1", false),
      (2L, "h2", true), (4L, "h2", false),
      (5L, "h3", true))
    assert(got == want, got.toSeq.sortBy(_._1).mkString(","))
  }

  test("sessionize drops a late row more than a gap before the open " +
    "session instead of corrupting its bounds") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingFeatures.TurnEvent
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TurnEvent]
    val sessions = StreamingFeatures.sessionize(
      input.toDS(), gapSeconds = 30L, watermark = "10 minutes")
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("late_sessions").start()
    def ts(s: Long) = new Timestamp(s * 1000L)
    input.addData(TurnEvent("A", 1, "user", ts(100)),
      TurnEvent("A", 2, "assistant", ts(110)))
    q.processAllAvailable()
    // late row 80s before the open session start (> gap, within the
    // 10-minute watermark): must be DROPPED, not merged
    input.addData(TurnEvent("A", 0, "user", ts(20)))
    q.processAllAvailable()
    // in-session growth still works
    input.addData(TurnEvent("A", 3, "user", ts(120)))
    q.processAllAvailable()
    // push the watermark far past the gap to flush A's tail
    input.addData(TurnEvent("B", 0, "user", ts(5000)))
    q.processAllAvailable()
    input.addData(TurnEvent("B", 1, "user", ts(9000)))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql(
      "SELECT session_seq, n_turns, session_start, session_end " +
        "FROM late_sessions WHERE conv_id = 'A'")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getTimestamp(2).getTime / 1000L, r.getTimestamp(3).getTime / 1000L))
    assert(got.toSeq == Seq((0L, 3L, 100L, 120L)), got.mkString(","))
  }

  test("tombstone TTL removes idle-key state; resumed conv restarts session_seq") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingFeatures.TurnEvent
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TurnEvent]
    val sessions = StreamingFeatures.sessionize(
      input.toDS(), gapSeconds = 30L, watermark = "0 seconds",
      tombstoneTtlSeconds = Some(60L))
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("ttl_sessions").start()
    def ts(s: Long) = new Timestamp(s * 1000L)
    input.addData(TurnEvent("A", 0, "user", ts(100)),
      TurnEvent("A", 1, "assistant", ts(110)))
    q.processAllAvailable()
    input.addData(TurnEvent("B", 0, "user", ts(1000)))
    q.processAllAvailable()
    // A's tail flushes here (watermark 1000 > fire 141); tombstone armed
    input.addData(TurnEvent("B", 1, "user", ts(2000)))
    q.processAllAvailable()
    // watermark 2000 > tombstone expiry (1000 + 60) -> tombstone REMOVED
    input.addData(TurnEvent("B", 2, "user", ts(3000)))
    q.processAllAvailable()
    // A resumes after TTL: session_seq restarts at 0 (documented trade)
    input.addData(TurnEvent("A", 2, "user", ts(3500)))
    q.processAllAvailable()
    input.addData(TurnEvent("B", 3, "user", ts(5000)))
    q.processAllAvailable()
    input.addData(TurnEvent("B", 4, "user", ts(9000)))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql(
      "SELECT session_seq, n_turns, session_start FROM ttl_sessions " +
        "WHERE conv_id = 'A' ORDER BY session_start")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getTimestamp(2).getTime / 1000L))
    assert(got.toSeq == Seq((0L, 2L, 100L), (0L, 1L, 3500L)),
      got.mkString(","))
  }

  test("stateful sessionize emits closed sessions matching batch oracle") {
    val dir = stagedTurns()
    val schema = graft.schema.Turn.schema
    val stream = spark.readStream.schema(schema).parquet(dir)
      .selectExpr("conv_id", "turn_idx", "role", "ts")
      .as[StreamingFeatures.TurnEvent]
    val q = StreamingFeatures.sessionize(stream, gapSeconds = 30L)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.sql(
      "SELECT conv_id, session_seq, n_turns FROM sessions")
      .as[(String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap

    // batch oracle: all sessions; streaming emits all but each conv's last
    val batch = Sessionize(
      spark.read.parquet(dir), Seq("conv_id"), "ts", 30L, Seq("turn_idx"))
      .groupBy("conv_id", "session_seq")
      .count()
      .as[(String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val lastSeq = batch.keys.groupBy(_._1).map { case (c, ks) =>
      c -> ks.map(_._2).max
    }
    streamed.foreach { case ((c, s), n) =>
      assert(batch((c, s)) == n, s"session ($c,$s) size mismatch")
    }
    // every non-final batch session was emitted by the stream
    batch.keys.filter { case (c, s) => s < lastSeq(c) }.foreach { k =>
      assert(streamed.contains(k), s"missing closed session $k")
    }
  }

  test("dedupWithinWatermark: in-window dups dropped, expired keys re-admitted") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val df = in.toDF.toDF("id", "hash", "ts")
    val view = "dedup_wm_test"
    spark.sql(s"DROP TABLE IF EXISTS $view")
    val q = StreamingFeatures
      .dedupWithinWatermark(df, "ts", Seq("hash"), "10 seconds")
      .writeStream.outputMode("append").format("memory").queryName(view)
      .start()
    try {
      // batch 1: first occurrence of A kept, in-batch dup dropped
      in.addData((1L, "A", ts(100)), (2L, "A", ts(101)))
      q.processAllAvailable()
      // batch 2: dup within the watermark window → dropped; B is new.
      // B's ts advances the watermark to 120 - 10 = 110, past A's state
      in.addData((3L, "A", ts(105)), (4L, "B", ts(120)))
      q.processAllAvailable()
      // batch 3: A's state was evicted (event time 100 < watermark 110)
      // → re-admitted as fresh: the documented bounded-state trade
      in.addData((5L, "A", ts(121)))
      q.processAllAvailable()
      val got = spark.table(view).select("id").as[Long].collect().toSet
      assert(got == Set(1L, 4L, 5L),
        s"expected first A, B, and the re-admitted A; got $got")
    } finally q.stop()
  }

  test("streaming volume anomaly: open bucket accumulates across " +
    "micro-batches, closes on a later bucket, sentinel never emits") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingFeatures.HourEvent
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[HourEvent]
    val q = StreamingFeatures.volumeAnomalyLive(input.toDS(),
        bucketSeconds = 3600L, trailing = 2, factor = 2L)
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_anom_unit").start()
    def ts(s: Long) = new Timestamp(s * 1000L)
    try {
      // batch 1: bucket 0 gets 2 rows; bucket 1 opens with 1 row
      input.addData(HourEvent("a", ts(0)), HourEvent("a", ts(10)),
        HourEvent("a", ts(3600)))
      q.processAllAvailable()
      // batch 2: bucket 1 ACCUMULATES one more across the boundary, then
      // bucket 2 spikes with 9 rows, then the sentinel flushes it
      input.addData(HourEvent("a", ts(3700)))
      q.processAllAvailable()
      input.addData((1 to 9).map(i => HourEvent("a", ts(7200L + i))): _*)
      q.processAllAvailable()
      input.addData(HourEvent("a", ts(86400L * 30)))
      q.processAllAvailable()
      val got = spark.table("stream_anom_unit")
        .collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(5)))
        .toSet
      // bucket 0: no history, never flags; bucket 1: n=2 (cross-batch
      // carry!), mean 2 -> no; bucket 2: n=9 > 2*mean(2) -> spike; the
      // sentinel bucket is absent
      assert(got == Set(
        (0L, 2L, 0L, 0L, false),
        (1L, 2L, 1L, 2L, false),
        (2L, 9L, 2L, 4L, true)), got.toSeq.sortBy(_._1).mkString(","))
    } finally q.stop()
  }
}
