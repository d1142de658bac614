package graft.features

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}

import graft.plans.AsOfJoinPlan

/** User-facing API for the NATIVE as-of join (custom LogicalPlan +
  * Strategy + SparkPlan — SURVEY.md §7.3 tier (c)). Same semantics and
  * column contract as [[AsOf.joinBackward]] (incl. toleranceMs);
  * physically a true per-partition sort-merge instead of a union-merge.
  *
  * Right rows that share (keys, rightTs): `joinBackward`'s `rightOrderBy`
  * breaks the tie — the match is the LAST such row in ascending
  * `rightOrderBy` order (`rightOrderBy = Seq("turn_idx")` is the latest
  * turn, the flagship's `last_tool`), and those columns are not returned. Without
  * it, "last wins" among them is sort-order-dependent, as it is in the
  * union-merge variant: make the right side unique per (keys, rightTs) or
  * name a tie-break.
  */
object AsOfNative {

  def joinBackward(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String = "ts",
      rightTs: String = "ts",
      allowExactMatches: Boolean = true,
      toleranceMs: Option[Long] = None,
      rightOrderBy: Seq[String] = Nil
  ): DataFrame = {
    val lp = GraftBridge.logicalPlan(left)
    // fresh exprIds on the right side: when both inputs share lineage
    // (self-as-of), duplicate exprIds confuse column pruning/binding —
    // the same dedup Dataset.join performs internally
    val rp0 = GraftBridge.logicalPlan(right)
    val rp = org.apache.spark.sql.catalyst.plans.logical.Project(
      rp0.output.map(a =>
        org.apache.spark.sql.catalyst.expressions.Alias(a, a.name)()),
      rp0)
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        name: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
    val rightValues = rp.output
      .filterNot(a => keys.contains(a.name) || a.name == rightTs ||
        rightOrderBy.contains(a.name))
    // The exec reads timestamps as raw longs and derives the tolerance
    // seconds-divisor from the type — fail fast on anything else rather
    // than silently mis-scaling (e.g. IntegerType seconds).
    val okTs: org.apache.spark.sql.types.DataType => Boolean = {
      case org.apache.spark.sql.types.TimestampType |
          org.apache.spark.sql.types.TimestampNTZType |
          org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    val lTsType = attr(lp, leftTs).dataType
    val rTsType = attr(rp, rightTs).dataType
    require(okTs(lTsType) && okTs(rTsType),
      s"as-of ts columns must be timestamp/timestamp_ntz/long " +
        s"(got $leftTs: $lTsType, $rightTs: $rTsType); cast epoch values " +
        "to long seconds or to timestamp first")
    require(lTsType == rTsType,
      s"as-of ts columns must have the same type " +
        s"(got $leftTs: $lTsType vs $rightTs: $rTsType)")
    val plan = AsOfJoinPlan(
      lp, rp,
      keys.map(attr(lp, _)), keys.map(attr(rp, _)),
      attr(lp, leftTs), attr(rp, rightTs),
      rightValues,
      exact = allowExactMatches,
      toleranceMs = toleranceMs,
      rightOrder = rightOrderBy.map(attr(rp, _))
    )
    // disambiguate clashing output names the same way AsOf does (_r
    // suffix) — select by attribute (exprId-resolved), not by name
    val out = GraftBridge.ofRows(left, plan)
    val leftNames = left.columns.toSet
    val cols = lp.output.map(a => GraftBridge.column(a)) ++
      plan.output.drop(lp.output.size).map { a =>
        val name =
          if (leftNames.contains(a.name)) s"${a.name}_r" else a.name
        GraftBridge.column(a).as(name)
      }
    out.select(cols: _*)
  }

  /** NATIVE forward as-of join via time negation: forward(ts) ==
    * backward(-ts). Timestamps are negated at FULL MICROSECOND precision
    * (`-unix_micros(ts)`) so matching keeps the same raw-timestamp
    * semantics as [[AsOf.joinForward]] — negating floored seconds would
    * silently merge sub-second orderings. The backward sort-merge exec
    * runs unchanged; tie rule flips automatically (backward `<=` on -ts
    * is forward `>=` on ts).
    *
    * Tolerance: the exec sees LongType micros (divisor 1), so the bound
    * is rescaled to micros — the window is the TRUE duration
    * `match.ts - anchor.ts <= toleranceMs` at microsecond precision,
    * slightly TIGHTER than the union-merge's floored-seconds window on
    * sub-second data (identical on whole-second timestamps; documented
    * intentional difference — the native path has the precision, so it
    * uses it). Same future-reading caveat as [[AsOf.joinForward]].
    */
  def joinForward(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String = "ts",
      rightTs: String = "ts",
      allowExactMatches: Boolean = true,
      toleranceMs: Option[Long] = None
  ): DataFrame = {
    require(!left.columns.contains("__negts") &&
      !right.columns.contains("__negts"),
      "joinForward reserves the column name __negts")
    val negL = left.withColumn("__negts", negatedMicros(left, leftTs))
    val negR = right
      .withColumn("__negts", negatedMicros(right, rightTs))
      .drop(rightTs)
    joinBackward(negL, negR, keys, "__negts", "__negts",
      allowExactMatches, toleranceMs.map(_ * 1000000L))
      .drop("__negts")
  }

  /** `-micros(c)` of `df`'s time column `c`: a timestamp's epoch micros,
    * a long as epoch seconds. Sorting ascending on it is `c` descending.
    */
  private[features] def negatedMicros(df: DataFrame, c: String): Column = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema(c).dataType match {
      case LongType => -col(c) * 1000000L // epoch seconds -> micros
      case TimestampNTZType =>
        // read the NTZ's raw micros directly — cast("timestamp") would
        // round-trip through the session timezone, which is non-injective
        // around DST transitions (graft.exprs.NtzMicros scaladoc)
        -GraftBridge.column(
          graft.exprs.NtzMicros(GraftBridge.expression(col(c))))
      case _ => -unix_micros(col(c))
    }
  }
}
