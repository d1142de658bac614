package graft.features

import java.sql.Timestamp

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Property-style tests: zero temporal leakage and session invariants
  * under adversarial random transcripts — duplicate timestamps,
  * out-of-order rows, tiny/empty sides (BASELINE.md "Temporal leakage:
  * zero"). Deterministic seeds, 15 trials each.
  */
class LeakagePropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Random rows with heavy ts collisions: (conv, turn_idx, tsMillis). */
  private def genRows(seed: Int): List[(String, Int, Long)] = {
    val rnd = new Random(seed)
    val nConv = 1 + rnd.nextInt(4)
    List
      .fill(30)((s"c${rnd.nextInt(nConv)}", rnd.nextInt(15),
        rnd.nextInt(10).toLong * 1000L))
      .distinctBy(r => (r._1, r._2))
  }

  test("as-of join never reads right rows with ts > anchor ts (15 seeds)") {
    for (seed <- 1 to 15) {
      val rows = genRows(seed)
      val anchors = rows
        .map { case (c, i, t) => (c, i, new Timestamp(t)) }
        .toDF("conv_id", "turn_idx", "ts")
      val right = rows
        .map { case (c, i, t) =>
          (c, new Timestamp(t + (i % 3) * 500L - 500L), t + i)
        }
        .toDF("conv_id", "ts", "obs_val")
        .groupBy("conv_id", "ts")
        .agg(org.apache.spark.sql.functions.max("obs_val").as("obs_val"))
      val joined = AsOf.joinBackward(anchors, right, Seq("conv_id")).collect()
      val rightLocal = right.collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2)))
      // output column order: conv_id, ts, turn_idx, obs_val
      joined.foreach { row =>
        if (!row.isNullAt(3)) {
          val conv = row.getString(0)
          val anchorTs = row.getTimestamp(1).getTime
          val v = row.getLong(3)
          val matched = rightLocal.filter(r => r._1 == conv && r._3 == v)
          assert(matched.exists(_._2 <= anchorTs),
            s"seed $seed leak: obs_val $v in $conv has no source ts <= $anchorTs")
          val best = rightLocal
            .filter(r => r._1 == conv && r._2 <= anchorTs)
            .maxBy(_._2)
          assert(matched.head._2 == best._2,
            s"seed $seed not latest: got ${matched.head._2}, best ${best._2}")
        }
      }
    }
  }

  test("forward join matches are always the EARLIEST right ts >= anchor " +
    "(15 seeds; union-merge and native agree)") {
    for (seed <- 200 to 214) {
      val rows = genRows(seed)
      val anchors = rows
        .map { case (c, i, t) => (c, i, new Timestamp(t)) }
        .toDF("conv_id", "turn_idx", "ts")
      val right = rows
        .map { case (c, i, t) =>
          (c, new Timestamp(t + (i % 3) * 500L - 500L), t + i)
        }
        .toDF("conv_id", "ts", "obs_val")
        .groupBy("conv_id", "ts")
        .agg(org.apache.spark.sql.functions.max("obs_val").as("obs_val"))
      val rightLocal = right.collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2)))
      def check(df: org.apache.spark.sql.DataFrame, tag: String): Unit =
        df.select("conv_id", "ts", "obs_val").collect().foreach { row =>
          val conv = row.getString(0)
          val anchorTs = row.getTimestamp(1).getTime
          // RAW-precision eligibility: both forward implementations match
          // on full timestamp precision (sub-second offsets included)
          val candidates = rightLocal
            .filter(r => r._1 == conv && r._2 >= anchorTs)
          if (row.isNullAt(2))
            assert(candidates.isEmpty,
              s"$tag seed $seed: null match but ${candidates.length} candidates")
          else {
            val v = row.getLong(2)
            val earliest = candidates.minBy(_._2)
            assert(v == earliest._3,
              s"$tag seed $seed: got $v, earliest-at->=anchor is ${earliest._3}")
          }
        }
      check(AsOf.joinForward(anchors, right, Seq("conv_id")), "union")
      check(AsOfNative.joinForward(anchors, right, Seq("conv_id")), "native")
    }
  }

  test("the flagship reads no row after its anchor: last_tool, tool_state, " +
    "n_tool_calls and prev_text recomputed in plain Scala (15 seeds)") {
    for (seed <- 300 to 314) {
      val rnd = new Random(seed)
      // out of order, heavy ts collisions, null ts and tool, one row per
      // (conv, turn_idx)
      val rows = rnd.shuffle(genRows(seed).map { case (c, i, t) =>
        (c, i, s"turn $i", if (rnd.nextInt(3) == 0) s"t${rnd.nextInt(3)}" else null,
          if (rnd.nextInt(6) == 0) null else new Timestamp(t))
      })
      val out = graft.Pipeline.featuresFromTurns(
          rows.toDF("conv_id", "turn_idx", "text", "tool", "ts").repartition(3))
        .select("conv_id", "turn_idx", "text", "prev_text", "tool_state",
          "n_tool_calls", "last_tool")
        .collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r).toMap
      rows.groupBy(_._1).foreach { case (conv, turns) =>
        // the flagship's order: ts nulls first, then turn_idx
        val ordered = turns.sortBy(t => (Option(t._5).map(_.getTime), t._2))
        ordered.zipWithIndex.foreach { case ((_, idx, _, _, ts), p) =>
          val row = out((conv, idx))
          val upTo = ordered.take(p + 1)
          val clue = s"seed $seed $conv turn $idx"
          assert(Option(row.getString(4)) == upTo.flatMap(t => Option(t._4)).lastOption, clue)
          assert(row.getLong(5) == upTo.count(_._4 != null), clue)
          val prevText = if (p == 0) None else Option(out((conv, ordered(p - 1)._2)).getString(2))
          assert(Option(row.getString(3)) == prevText, clue)
          // the latest (ts, turn_idx) tool turn with ts <= the anchor's
          val lastTool = Option(ts).flatMap { anchor =>
            turns.filter(t => t._4 != null && t._5 != null && !t._5.after(anchor))
              .maxByOption(t => (t._5.getTime, t._2)).map(_._4)
          }
          assert(Option(row.getString(6)) == lastTool, clue)
        }
      }
    }
  }

  test("sessionize ids are dense, start at 0, and respect the gap (15 seeds)") {
    for (seed <- 100 to 114) {
      val rows = genRows(seed)
      val df = rows
        .map { case (c, i, t) => (c, i, new Timestamp(t)) }
        .toDF("conv_id", "turn_idx", "ts")
      val out = Sessionize(df, Seq("conv_id"), "ts", 2L, Seq("turn_idx"))
        .select("conv_id", "turn_idx", "ts", "session_seq")
        .collect()
        .map(r => (r.getString(0), r.getInt(1), r.getTimestamp(2).getTime,
          r.getLong(3)))
      out.groupBy(_._1).foreach { case (_, convRows) =>
        val sorted = convRows.sortBy(r => (r._3, r._2))
        var prevTs = Long.MinValue
        var prevSeq = -1L
        sorted.foreach { case (_, _, ts, seq) =>
          if (prevSeq < 0) assert(seq == 0L, s"seed $seed: first session != 0")
          else if (ts / 1000 - prevTs / 1000 > 2L)
            assert(seq == prevSeq + 1, s"seed $seed: gap must open session")
          else assert(seq == prevSeq, s"seed $seed: session split w/o gap")
          prevTs = ts
          prevSeq = seq
        }
      }
    }
  }
}
