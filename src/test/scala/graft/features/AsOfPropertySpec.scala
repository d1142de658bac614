package graft.features

import java.sql.Timestamp

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Seeded differential property over adversarial transcripts: for random
  * inputs with duplicate timestamps (pre-aggregated to the unique-(key,ts)
  * contract), NULL timestamps on BOTH sides, empty sides, and tolerance
  * bounds sitting exactly on second-granularity edges, the three as-of
  * implementations must agree with each other AND with an independent
  * in-memory oracle, in both directions, exact and strict:
  *
  *   AsOf.joinBackward ≡ AsOfNative.joinBackward ≡ oracle
  *   AsOf.joinForward  ≡ AsOfNative.joinForward  ≡ oracle
  *
  * Timestamps are whole seconds: that is the domain where the union-merge
  * (floored-seconds tolerance) and the native forward (microsecond
  * tolerance) are DOCUMENTED identical — AsOfNative.joinForward's scaladoc
  * covers the intentional sub-second difference, and AsOfNativeSpec covers
  * sub-second equivalence without tolerance.
  */
class AsOfPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private case class Anchor(key: String, idx: Int, ts: Option[Long]) // epoch sec
  private case class Obs(key: String, ts: Long, obs: Int)

  /** Independent oracle: per anchor, the matching obs value (or None). */
  private def oracle(
      anchors: Seq[Anchor], right: Seq[Obs],
      forward: Boolean, exact: Boolean, tolMs: Option[Long]
  ): Map[Int, Option[Int]] =
    anchors.map { a =>
      val m = a.ts match {
        case None => None // a null-ts anchor has no timeline position
        case Some(ts) =>
          val cand = right.filter { o =>
            o.key == a.key && {
              if (forward) (if (exact) o.ts >= ts else o.ts > ts)
              else (if (exact) o.ts <= ts else o.ts < ts)
            }
          }
          val best =
            if (forward) cand.sortBy(_.ts).headOption
            else cand.sortBy(-_.ts).headOption
          best.filter { o =>
            tolMs.forall { t =>
              val gapMs =
                if (forward) (o.ts - ts) * 1000L else (ts - o.ts) * 1000L
              gapMs <= t
            }
          }.map(_.obs)
      }
      a.idx -> m
    }.toMap

  private def randomInput(seed: Int): (Seq[Anchor], Seq[Obs]) = {
    val rnd = new Random(seed)
    val nKeys = 1 + rnd.nextInt(4)
    val nAnchors = rnd.nextInt(3) match {
      case 0 => 0 // empty left
      case _ => 1 + rnd.nextInt(30)
    }
    val nRight = rnd.nextInt(4) match {
      case 0 => 0 // empty right
      case _ => 1 + rnd.nextInt(25)
    }
    val anchors = (0 until nAnchors).map { i =>
      Anchor(s"k${rnd.nextInt(nKeys)}", i,
        if (rnd.nextInt(6) == 0) None else Some(rnd.nextInt(10).toLong))
    }
    // duplicate (key, ts) pre-aggregated: max obs wins, same contract as
    // Pipeline's max_by pre-aggregation
    val right = (0 until nRight)
      .map(_ => Obs(s"k${rnd.nextInt(nKeys + 1)}", rnd.nextInt(10).toLong,
        rnd.nextInt(1000)))
      .groupBy(o => (o.key, o.ts))
      .map { case ((k, t), os) => Obs(k, t, os.map(_.obs).max) }
      .toSeq
    (anchors, right)
  }

  private def run(
      anchors: Seq[Anchor], right: Seq[Obs],
      forward: Boolean, native: Boolean, exact: Boolean, tolMs: Option[Long]
  ): Map[Int, Option[Int]] = {
    val l = anchors
      .map(a => (a.key, a.idx, a.ts.map(s => new Timestamp(s * 1000L)).orNull))
      .toDF("conv_id", "turn_idx", "ts")
    val r = right
      .map(o => (o.key, new Timestamp(o.ts * 1000L), o.obs))
      .toDF("conv_id", "ts", "obs")
    // The native exec EMITS null-ts left anchors with a null match (same
    // cardinality and payload as the union-merge — its nulls-first left
    // ordering processes them before any held match exists). Feeding it
    // only positioned anchors here and treating the missing rows as
    // unmatched below checks the same contract from the caller side and
    // keeps the oracle bookkeeping simple.
    val lNative = l.filter(org.apache.spark.sql.functions.col("ts").isNotNull)
    val out =
      (forward, native) match {
        case (false, false) =>
          AsOf.joinBackward(l, r, Seq("conv_id"), toleranceMs = tolMs,
            allowExactMatches = exact)
        case (false, true) =>
          AsOfNative.joinBackward(lNative, r, Seq("conv_id"),
            toleranceMs = tolMs, allowExactMatches = exact)
        case (true, false) =>
          AsOf.joinForward(l, r, Seq("conv_id"), toleranceMs = tolMs,
            allowExactMatches = exact)
        case (true, true) =>
          AsOfNative.joinForward(lNative, r, Seq("conv_id"),
            toleranceMs = tolMs, allowExactMatches = exact)
      }
    val got = out.select("turn_idx", "obs").collect()
      .map(row => row.getInt(0) ->
        (if (row.isNullAt(1)) None else Some(row.getInt(1))))
      .toMap
    // rows the native path never saw (null-ts anchors) are unmatched
    anchors.map(a => a.idx -> got.getOrElse(a.idx, None)).toMap
  }

  test("as-of family ≡ in-memory oracle: random transcripts × direction × " +
    "exact × tolerance (incl. second-edge bounds, null ts, empty sides)") {
    // tolerances sit ON the second edges: 0 (same-second only), 1000
    // (one second), 2999 (strictly inside 3), 3000 (exactly 3)
    val tolerances = Seq(None, Some(0L), Some(1000L), Some(2999L), Some(3000L))
    for (seed <- 1 to 10) {
      val (anchors, right) = randomInput(seed)
      val tolMs = tolerances(seed % tolerances.size)
      for {
        forward <- Seq(false, true)
        exact <- Seq(true, false)
      } {
        val expect = oracle(anchors, right, forward, exact, tolMs)
        val union = run(anchors, right, forward, native = false, exact, tolMs)
        assert(union === expect,
          s"union-merge seed=$seed fwd=$forward exact=$exact tol=$tolMs")
        val nat = run(anchors, right, forward, native = true, exact, tolMs)
        assert(nat === expect,
          s"native seed=$seed fwd=$forward exact=$exact tol=$tolMs")
      }
    }
  }

  /** Nearest oracle: closest side wins, backward on ties; a nearer
    * out-of-tolerance match must not shadow a farther in-tolerance one.
    */
  private def oracleNearest(
      anchors: Seq[Anchor], right: Seq[Obs], tolMs: Option[Long]
  ): Map[Int, (Option[Int], Option[String])] =
    anchors.map { a =>
      val m: (Option[Int], Option[String]) = a.ts match {
        case None => (None, None)
        case Some(ts) =>
          val cand = right.filter(_.key == a.key)
          val back = cand.filter(_.ts <= ts).sortBy(-_.ts).headOption
            .filter(o => tolMs.forall((ts - o.ts) * 1000L <= _))
          val fwd = cand.filter(_.ts > ts).sortBy(_.ts).headOption
            .filter(o => tolMs.forall((o.ts - ts) * 1000L <= _))
          (back, fwd) match {
            case (Some(b), Some(f)) =>
              if (ts - b.ts <= f.ts - ts) (Some(b.obs), Some("b"))
              else (Some(f.obs), Some("f"))
            case (Some(b), None) => (Some(b.obs), Some("b"))
            case (None, Some(f)) => (Some(f.obs), Some("f"))
            case _ => (None, None)
          }
      }
      a.idx -> m
    }.toMap

  test("joinNearest ≡ in-memory oracle: random transcripts × tolerance") {
    val tolerances = Seq(None, Some(0L), Some(1000L), Some(2999L), Some(3000L))
    for (seed <- 1 to 10; tolMs <- tolerances) {
      val (anchors, right) = randomInput(seed)
      val l = anchors
        .map(a => (a.key, a.idx, a.ts.map(s => new Timestamp(s * 1000L)).orNull))
        .toDF("conv_id", "turn_idx", "ts")
      val r = right
        .map(o => (o.key, new Timestamp(o.ts * 1000L), o.obs))
        .toDF("conv_id", "ts", "obs")
      val got = AsOf.joinNearest(l, r, Seq("conv_id"), toleranceMs = tolMs)
        .select("turn_idx", "obs", "asof_side").collect()
        .map(row => row.getInt(0) -> ((
          if (row.isNullAt(1)) None else Some(row.getInt(1)),
          Option(row.getString(2)))))
        .toMap
      assert(got === oracleNearest(anchors, right, tolMs),
        s"nearest seed=$seed tol=$tolMs")
    }
  }

  test("native rightOrderBy tie-break ≡ max_by pre-aggregate: duplicate " +
    "(key, ts), null ts, exact × tolerance") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, max_by}
    def ts(rnd: Random, nullEvery: Int): Timestamp =
      if (rnd.nextInt(nullEvery) == 0) null else new Timestamp(rnd.nextInt(8) * 1000L)
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    val tolerances = Seq(None, Some(0L), Some(1000L), Some(3000L))
    for (seed <- 1 to 12) {
      val rnd = new Random(100 + seed)
      val nKeys = 1 + rnd.nextInt(3)
      val l = (0 until 1 + rnd.nextInt(30))
        .map(i => (s"k${rnd.nextInt(nKeys)}", i, ts(rnd, 6)))
        .toDF("conv_id", "idx", "ts")
      // eight timestamps per key: most (key, ts) pairs repeat. The
      // tie-break is a permutation, so max_by has one answer, and its
      // order differs from the rows' order.
      val nRight = rnd.nextInt(40)
      val tbs = rnd.shuffle((0 until nRight).toVector)
      val r = (0 until nRight)
        .map(i => (s"k${rnd.nextInt(nKeys + 1)}", ts(rnd, 8), tbs(i),
          if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(6))))
        .toDF("conv_id", "ts", "tb", "obs")
      val preAgg = r.groupBy("conv_id", "ts").agg(max_by(col("obs"), col("tb")).as("obs"))
      val tolMs = tolerances(seed % tolerances.size)
      for (exact <- Seq(true, false)) {
        val tied = AsOfNative.joinBackward(l, r, Seq("conv_id"),
          allowExactMatches = exact, toleranceMs = tolMs, rightOrderBy = Seq("tb"))
        val agg = AsOfNative.joinBackward(l, preAgg, Seq("conv_id"),
          allowExactMatches = exact, toleranceMs = tolMs)
        assert(tied.columns.toSeq == agg.columns.toSeq)
        assert(rows(tied) == rows(agg), s"seed=$seed exact=$exact tol=$tolMs")
      }
    }
  }

  test("forward null-ts anchors match nothing (union-merge contract guard)") {
    val l = Seq(("k", 1, Timestamp.valueOf("2026-01-01 00:00:00")),
      ("k", 2, null.asInstanceOf[Timestamp]))
      .toDF("conv_id", "turn_idx", "ts")
    val r = Seq(("k", Timestamp.valueOf("2026-01-01 01:00:00"), "x"))
      .toDF("conv_id", "ts", "v")
    val got = AsOf.joinForward(l, r, Seq("conv_id"))
      .select("turn_idx", "v").collect()
      .map(row => row.getInt(0) -> Option(row.getString(1))).toMap
    assert(got === Map(1 -> Some("x"), 2 -> None))
  }
}
