package graft.features

import java.sql.Timestamp

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The native (LogicalPlan+Strategy+Exec) as-of join must be semantically
  * identical to the built-ins-only union-merge implementation, across
  * random inputs with ts ties, nulls, and unmatched anchors.
  */
class AsOfNativeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def randomCase(seed: Int, nullRightTs: Boolean = false) = {
    val rnd = new Random(seed)
    val nConv = 1 + rnd.nextInt(5)
    val anchors = List.fill(40)(
      (s"c${rnd.nextInt(nConv)}", rnd.nextInt(100),
        new Timestamp(rnd.nextInt(12).toLong * 1000L)))
      .distinctBy(r => (r._1, r._2))
      .toDF("conv_id", "turn_idx", "ts")
    // ~20% null right timestamps when requested — both variants must skip
    // them (a null-ts observation has no timeline position)
    val right = List.fill(25)(
      (s"c${rnd.nextInt(nConv + 1)}",
        if (nullRightTs && rnd.nextInt(5) == 0) null
        else new Timestamp(rnd.nextInt(12).toLong * 1000L),
        rnd.nextInt(1000)))
      .toDF("conv_id", "ts", "obs")
      .groupBy("conv_id", "ts")
      .agg(org.apache.spark.sql.functions.max("obs").as("obs"))
    (anchors, right)
  }

  private def collectSorted(df: org.apache.spark.sql.DataFrame) =
    df.select("conv_id", "turn_idx", "ts", "obs")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getTimestamp(2).getTime,
        if (r.isNullAt(3)) None else Some(r.getInt(3))))
      .sortBy(t => (t._1, t._2))
      .toSeq

  test("native as-of == union-merge as-of on 10 random cases (exact)") {
    for (seed <- 1 to 10) {
      val (anchors, right) = randomCase(seed)
      val um = collectSorted(AsOf.joinBackward(anchors, right, Seq("conv_id")))
      val nat = collectSorted(
        AsOfNative.joinBackward(anchors, right, Seq("conv_id")))
      assert(nat == um, s"seed $seed mismatch")
    }
  }

  test("native as-of == union-merge as-of (strict <)") {
    for (seed <- 50 to 55) {
      val (anchors, right) = randomCase(seed)
      val um = collectSorted(
        AsOf.joinBackward(anchors, right, Seq("conv_id"),
          allowExactMatches = false))
      val nat = collectSorted(
        AsOfNative.joinBackward(anchors, right, Seq("conv_id"),
          allowExactMatches = false))
      assert(nat == um, s"seed $seed mismatch")
    }
  }

  test("native as-of == union-merge as-of with toleranceMs") {
    for (seed <- 80 to 85; tolMs <- Seq(0L, 3000L, 5500L)) {
      val (anchors, right) = randomCase(seed)
      val um = collectSorted(
        AsOf.joinBackward(anchors, right, Seq("conv_id"),
          toleranceMs = Some(tolMs)))
      val nat = collectSorted(
        AsOfNative.joinBackward(anchors, right, Seq("conv_id"),
          toleranceMs = Some(tolMs)))
      assert(nat == um, s"seed $seed tol $tolMs mismatch")
    }
  }

  test("AsOfFilterPushdown pushes anchor predicates below the join") {
    // non-local inputs: Spark folds a Filter over a LocalRelation into it
    val (anchors, right) = randomCase(99) match {
      case (a, r) => (a.localCheckpoint(), r.localCheckpoint())
    }
    val joined = AsOfNative.joinBackward(anchors, right, Seq("conv_id"))
    val filtered = joined.filter(org.apache.spark.sql.functions.col("turn_idx") > 50)
    val opt = org.apache.spark.sql.GraftBridge.optimizedPlan(filtered)
    val pushed = opt.collect {
      case j: graft.plans.AsOfJoinPlan =>
        j.left.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Filter] ||
          j.left.collectFirst {
            case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
          }.isDefined
    }
    assert(pushed.nonEmpty && pushed.forall(identity),
      s"anchor filter not pushed below AsOfJoinPlan:\n$opt")
    // semantics unchanged vs filtering the input directly
    val direct = AsOfNative.joinBackward(
      anchors.filter(org.apache.spark.sql.functions.col("turn_idx") > 50),
      right, Seq("conv_id"))
    assert(collectSorted(filtered) == collectSorted(direct))
  }

  test("native as-of == union-merge with NULL right timestamps (skipped)") {
    for (seed <- 120 to 127) {
      val (anchors, right) = randomCase(seed, nullRightTs = true)
      val um = collectSorted(AsOf.joinBackward(anchors, right, Seq("conv_id")))
      val nat = collectSorted(
        AsOfNative.joinBackward(anchors, right, Seq("conv_id")))
      assert(nat == um, s"seed $seed mismatch")
      // a match must never be a null-ts row: equal to dropping them upfront
      val dropped = collectSorted(AsOf.joinBackward(
        anchors, right.filter($"ts".isNotNull), Seq("conv_id")))
      assert(um == dropped, s"seed $seed: null-ts right row leaked a match")
    }
  }

  test("native as-of rejects non-timestamp/long ts columns") {
    val anchors = Seq(("a", 1, 100)).toDF("conv_id", "turn_idx", "ts")
    val right = Seq(("a", 50, 7)).toDF("conv_id", "ts", "obs")
    val e = intercept[IllegalArgumentException] {
      AsOfNative.joinBackward(anchors, right, Seq("conv_id"))
    }
    assert(e.getMessage.contains("ts columns"))
  }

  test("native as-of toleranceMs on long epoch-second ts columns") {
    for (seed <- 200 to 203; tolMs <- Seq(0L, 3000L)) {
      val (a0, r0) = randomCase(seed)
      val anchors = a0.withColumn("ts",
        org.apache.spark.sql.functions.col("ts").cast("long"))
      val right = r0.withColumn("ts",
        org.apache.spark.sql.functions.col("ts").cast("long"))
      val um = AsOf.joinBackward(anchors, right, Seq("conv_id"),
        toleranceMs = Some(tolMs))
      val nat = AsOfNative.joinBackward(anchors, right, Seq("conv_id"),
        toleranceMs = Some(tolMs))
      def sorted(df: org.apache.spark.sql.DataFrame) =
        df.select("conv_id", "turn_idx", "ts", "obs").collect()
          .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getInt(3))))
          .sortBy(t => (t._1, t._2)).toSeq
      assert(sorted(nat) == sorted(um), s"seed $seed tol $tolMs mismatch")
    }
  }

  test("native as-of exec exposes numOutputRows/numMatchedRows metrics") {
    val (anchors, right) = randomCase(7)
    val joined = AsOfNative.joinBackward(anchors, right, Seq("conv_id"))
    // execute the Dataset's own QueryExecution so its metrics populate
    val n = org.apache.spark.sql.GraftBridge.forceEvaluate(joined)
    def find(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[graft.plans.AsOfJoinExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        find(a.executedPlan)
      // AQE stage boundaries are LEAF wrappers holding their subtree
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        find(q.plan)
      case e: graft.plans.AsOfJoinExec => Seq(e)
      case o => o.children.flatMap(find)
    }
    val exec = find(org.apache.spark.sql.GraftBridge.executedPlan(joined))
    assert(exec.nonEmpty, "AsOfJoinExec not found in executed plan")
    val m = exec.head.metrics
    assert(m("numOutputRows").value == n)
    assert(m("numMatchedRows").value <= n && m("numMatchedRows").value > 0)
  }

  test("native as-of handles empty right side") {
    val anchors = Seq(("a", 1, new Timestamp(1000L)))
      .toDF("conv_id", "turn_idx", "ts")
    val right = Seq.empty[(String, Timestamp, Int)]
      .toDF("conv_id", "ts", "obs")
    val out = AsOfNative.joinBackward(anchors, right, Seq("conv_id"))
    assert(out.count() == 1)
    assert(out.select("obs").collect().head.isNullAt(0))
  }
}
