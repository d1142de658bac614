package graft.features

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Point-in-time (as-of) join, built as a union-merge: ONE shuffle on the
  * join key, O(n log n), no interval explosion (SURVEY.md §2.4 / §4.1 —
  * stock Spark has no ASOF join, SPARK-22947).
  *
  * Mechanics: union the two sides tagged by source, sort within each key
  * partition by (ts, src) — right rows sorting BEFORE anchors at equal ts
  * for the "≤" point-in-time semantic — then carry the last-seen right row
  * forward (`last(..., ignoreNulls=true)`) and keep only anchor rows.
  *
  * Temporal-leakage guarantee: an anchor can only see right rows that sort
  * before it, i.e. right.ts < anchor.ts, or right.ts == anchor.ts when
  * `allowExactMatches` (never right.ts > anchor.ts). Property-tested in
  * AsOfSpec.
  *
  * Scale: the single hash shuffle partitions by key; AQE handles moderate
  * skew (one giant key within a partition stays a single-pass sort). A
  * mega-key two-phase variant (per-salt partial + boundary patch) is the
  * documented scale path for 10^12-turn keys.
  */
object AsOf {

  /** Backward as-of join: for each left row, the latest right row with
    * right(ts) <= left(ts) (or < when !allowExactMatches), per `keys`.
    *
    * Right's non-key, non-ts columns are appended (suffixed `_r` when they
    * collide with a left name); unmatched anchors get NULLs. Optional
    * `toleranceMs` drops matches older than the anchor by more than the
    * tolerance.
    */
  def joinBackward(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String = "ts",
      rightTs: String = "ts",
      allowExactMatches: Boolean = true,
      toleranceMs: Option[Long] = None
  ): DataFrame = {
    val leftVals = left.columns.filterNot(keys.contains).toSeq
    val rightVals =
      right.columns.filterNot(c => keys.contains(c) || c == rightTs).toSeq
    val outName: Map[String, String] = rightVals.map { c =>
      c -> (if (left.columns.contains(c)) s"${c}_r" else c)
    }.toMap

    // src ordering encodes the tie rule: with exact matches the right row
    // must sort first (anchor sees it); without, the anchor sorts first.
    val (rightSrc, leftSrc) = if (allowExactMatches) (0, 1) else (1, 0)

    val payloadType = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types
        .StructField("__rts", right.schema(rightTs).dataType) +:
        rightVals.map(c => right.schema(c))
    )

    // A right row with NULL ts has no position on the timeline; drop it up
    // front so it can never be carried forward by last(ignoreNulls). This
    // matches the native exec (AsOfJoinExec skips null-ts right rows).
    val rightNonNullTs = right.filter(col(rightTs).isNotNull)

    val r = rightNonNullTs.select(
      keys.map(col) ++ Seq(
        col(rightTs).as("__ts"),
        lit(rightSrc).as("__src"),
        struct(col(rightTs).as("__rts") +: rightVals.map(col): _*)
          .cast(payloadType)
          .as("__rpayload")
      ) ++ leftVals.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*
    )
    val l = left.select(
      keys.map(col) ++ Seq(
        col(leftTs).as("__ts"),
        lit(leftSrc).as("__src"),
        lit(null).cast(payloadType).as("__rpayload")
      ) ++ leftVals.map(col): _*
    )

    val u = r.unionByName(l)
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").asc, col("__src").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = u.withColumn(
      "__match",
      last(col("__rpayload"), ignoreNulls = true).over(w)
    )

    val inTolerance: Column = toleranceMs match {
      case Some(t) =>
        col("__match").isNotNull &&
          (col("__ts").cast("long") - col("__match.__rts").cast("long")) * 1000L <= t
      case None => col("__match").isNotNull
    }

    matched
      .filter(col("__src") === leftSrc)
      .select(
        keys.map(col) ++
          Seq(col("__ts").as(leftTs)) ++
          leftVals.filterNot(_ == leftTs).map(col) ++
          rightVals.map(c =>
            when(inTolerance, col(s"__match.$c")).as(outName(c))) : _*
      )
  }

  /** Forward as-of join: for each left row, the EARLIEST right row with
    * right(ts) >= left(ts) (or > when !allowExactMatches), per `keys` —
    * the label/target-generation mirror of [[joinBackward]] (next tool
    * outcome, next user reply). Deliberately a separate entry point:
    * forward joins READ THE FUTURE, so leakage audits can whitelist
    * call sites explicitly, exactly like Windows.withLead.
    *
    * Same union-merge shape (one shuffle, no interval explosion): the
    * carried value is `first(ignoreNulls)` over the FOLLOWING frame, and
    * the equal-ts tie flips — with exact matches the right row must sort
    * after the anchor (inside the following frame), without it before.
    *
    * PREFER [[AsOfNative.joinForward]] in pipelines — the native
    * sort-merge exec is ~2x faster at bench scale; this union-merge
    * formulation is the portable fallback and differential-test reference
    * (mirroring the backward pair, where the native join is the default).
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
    val leftVals = left.columns.filterNot(keys.contains).toSeq
    val rightVals =
      right.columns.filterNot(c => keys.contains(c) || c == rightTs).toSeq
    val outName: Map[String, String] = rightVals.map { c =>
      c -> (if (left.columns.contains(c)) s"${c}_r" else c)
    }.toMap

    val (rightSrc, leftSrc) = if (allowExactMatches) (1, 0) else (0, 1)

    val payloadType = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types
        .StructField("__rts", right.schema(rightTs).dataType) +:
        rightVals.map(c => right.schema(c))
    )
    val rightNonNullTs = right.filter(col(rightTs).isNotNull)
    val r = rightNonNullTs.select(
      keys.map(col) ++ Seq(
        col(rightTs).as("__ts"),
        lit(rightSrc).as("__src"),
        struct(col(rightTs).as("__rts") +: rightVals.map(col): _*)
          .cast(payloadType)
          .as("__rpayload")
      ) ++ leftVals.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*
    )
    val l = left.select(
      keys.map(col) ++ Seq(
        col(leftTs).as("__ts"),
        lit(leftSrc).as("__src"),
        lit(null).cast(payloadType).as("__rpayload")
      ) ++ leftVals.map(col): _*
    )

    val u = r.unionByName(l)
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").asc, col("__src").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val matched = u.withColumn(
      "__match",
      first(col("__rpayload"), ignoreNulls = true).over(w)
    )

    // A NULL-ts anchor has no position on the timeline, so it matches
    // nothing — without this guard nulls sort FIRST under asc ordering and
    // the currentRow→following frame would hand the anchor the earliest
    // right row, violating the right.ts >= left.ts contract (joinBackward
    // gets the same behavior for free: a null anchor's preceding frame
    // holds only other null-ts left rows, whose payload is null).
    val inTolerance: Column = toleranceMs match {
      case Some(t) =>
        col("__ts").isNotNull && col("__match").isNotNull &&
          (col("__match.__rts").cast("long") - col("__ts").cast("long")) * 1000L <= t
      case None => col("__ts").isNotNull && col("__match").isNotNull
    }

    matched
      .filter(col("__src") === leftSrc)
      .select(
        keys.map(col) ++
          Seq(col("__ts").as(leftTs)) ++
          leftVals.filterNot(_ == leftTs).map(col) ++
          rightVals.map(c =>
            when(inTolerance, col(s"__match.$c")).as(outName(c))) : _*
      )
  }

  /** MULTI-FEED backward as-of: merge k feature feeds onto the anchors
    * point-in-time in ONE union + ONE key shuffle + ONE sort — the
    * feature-store read path ("assemble the feature vector at each
    * (entity, ts) from every feed") without paying k as-of joins. Each
    * feed's rows ride the same timeline union tagged with their own
    * payload column; k `last(ignoreNulls)` carries share one window spec,
    * so Catalyst evaluates ALL feeds in a single Window exec over a
    * single sort (plan-asserted in AsOfSpec).
    *
    * Semantics per feed = [[joinBackward]] with exact matches allowed:
    * latest feed row with feed.ts <= anchor.ts, per `keys`; unmatched →
    * NULLs; a feed row with NULL ts is dropped (no timeline position);
    * optional `toleranceMs` applies to every feed. Feed value columns
    * surface as `<feedName>_<col>`.
    *
    * Like the two-feed union-merge: no interval explosion, AQE-skew-safe,
    * and the leakage contract (nothing later than the anchor is readable)
    * holds per feed by the same sort-order argument.
    */
  def joinBackwardMulti(
      left: DataFrame,
      feeds: Seq[(String, DataFrame)],
      keys: Seq[String],
      leftTs: String = "ts",
      feedTs: String = "ts",
      toleranceMs: Option[Long] = None
  ): DataFrame = {
    require(feeds.nonEmpty, "joinBackwardMulti needs at least one feed")
    require(feeds.map(_._1).distinct.size == feeds.size,
      "feed names must be distinct")
    val leftVals = left.columns.filterNot(keys.contains).toSeq
    // every output name must be unique: <feed>_<col> may collide with a
    // left column, or with another feed's prefixed name (feed "a" col
    // "b_c" vs feed "a_b" col "c") — fail loud, not duplicate columns
    val outNames = feeds.flatMap { case (n, f) =>
      f.columns.filterNot(c => keys.contains(c) || c == feedTs)
        .map(c => s"${n}_$c")
    }
    val clash = (outNames ++ left.columns).groupBy(identity)
      .collect { case (name, hits) if hits.size > 1 => name }
    require(clash.isEmpty,
      s"joinBackwardMulti: output column name collision: ${clash.mkString(", ")}")
    val payloadCol: Map[String, String] =
      feeds.map { case (n, _) => n -> s"__p_$n" }.toMap

    def payloadType(feed: DataFrame) = {
      val vals =
        feed.columns.filterNot(c => keys.contains(c) || c == feedTs).toSeq
      org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types
          .StructField("__rts", feed.schema(feedTs).dataType) +:
          vals.map(c => feed.schema(c)))
    }

    // anchors sort AFTER feed rows at equal ts (src 1 vs 0): exact match
    val anchors = left.select(
      keys.map(col) ++ Seq(col(leftTs).as("__ts"), lit(1).as("__src")) ++
        feeds.map { case (n, f) =>
          lit(null).cast(payloadType(f)).as(payloadCol(n))
        } ++ leftVals.map(col): _*)
    val tagged = feeds.map { case (n, f) =>
      val vals =
        f.columns.filterNot(c => keys.contains(c) || c == feedTs).toSeq
      f.filter(col(feedTs).isNotNull).select(
        keys.map(col) ++ Seq(col(feedTs).as("__ts"), lit(0).as("__src")) ++
          feeds.map { case (m, g) =>
            if (m == n)
              struct(col(feedTs).as("__rts") +: vals.map(col): _*)
                .cast(payloadType(g)).as(payloadCol(m))
            else lit(null).cast(payloadType(g)).as(payloadCol(m))
          } ++
          leftVals.map(c =>
            lit(null).cast(left.schema(c).dataType).as(c)): _*)
    }

    val u = tagged.foldLeft(anchors)((acc, t) => acc.unionByName(t))
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").asc, col("__src").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = feeds.foldLeft(u) { case (acc, (n, _)) =>
      acc.withColumn(s"__m_$n",
        last(col(payloadCol(n)), ignoreNulls = true).over(w))
    }

    def inTolerance(n: String): Column = toleranceMs match {
      case Some(t) =>
        col(s"__m_$n").isNotNull &&
          (col("__ts").cast("long") -
            col(s"__m_$n.__rts").cast("long")) * 1000L <= t
      case None => col(s"__m_$n").isNotNull
    }

    matched
      .filter(col("__src") === 1)
      .select(
        keys.map(col) ++
          Seq(col("__ts").as(leftTs)) ++
          leftVals.filterNot(_ == leftTs).map(col) ++
          feeds.flatMap { case (n, f) =>
            f.columns.filterNot(c => keys.contains(c) || c == feedTs)
              .toSeq.map(c =>
                when(inTolerance(n), col(s"__m_$n.$c")).as(s"${n}_$c"))
          }: _*)
  }

  /** Nearest as-of join: for each left row, the right row whose ts is
    * CLOSEST in either direction, backward winning distance ties (and
    * exact-ts matches trivially, at distance 0). The completion of the
    * as-of family — backward for features, forward for labels, nearest
    * for enrichment where "the closest reading" is the semantic (sensor
    * fusion, nearest snapshot, nearest tool event).
    *
    * Exact matches always win here; for exclude-exact semantics compose
    * [[joinBackward]] and [[joinForward]] with `allowExactMatches =
    * false` and pick manually — a separate sort order per direction is
    * unavoidable there, and this entry point refuses to hide that cost.
    *
    * `sideAs` names an extra output column: 'b' / 'f' for the winning
    * direction, null when nothing matched (within tolerance). Optional
    * `toleranceMs` bounds |right.ts − left.ts| per side; a nearer
    * out-of-tolerance match does not shadow a farther in-tolerance one.
    *
    * Scale shape: ONE shuffle on the key and ONE sort — both direction
    * frames (backward `last` over preceding, forward `first` over
    * following) share the same window ordering, so Catalyst evaluates
    * them in a single Window exec. Like the other union-merge joins:
    * no interval explosion, AQE-skew-safe.
    */
  def joinNearest(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String = "ts",
      rightTs: String = "ts",
      toleranceMs: Option[Long] = None,
      sideAs: String = "asof_side"
  ): DataFrame = {
    val leftVals = left.columns.filterNot(keys.contains).toSeq
    val rightVals =
      right.columns.filterNot(c => keys.contains(c) || c == rightTs).toSeq
    val outName: Map[String, String] = rightVals.map { c =>
      c -> (if (left.columns.contains(c)) s"${c}_r" else c)
    }.toMap
    require(!left.columns.contains(sideAs) && !outName.values.toSet(sideAs),
      s"joinNearest: output already has a column named $sideAs")

    // right rows sort BEFORE anchors at equal ts: the backward frame owns
    // exact matches (distance 0 — always the winner)
    val (rightSrc, leftSrc) = (0, 1)

    val payloadType = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types
        .StructField("__rts", right.schema(rightTs).dataType) +:
        rightVals.map(c => right.schema(c))
    )
    val rightNonNullTs = right.filter(col(rightTs).isNotNull)
    val r = rightNonNullTs.select(
      keys.map(col) ++ Seq(
        col(rightTs).as("__ts"),
        lit(rightSrc).as("__src"),
        struct(col(rightTs).as("__rts") +: rightVals.map(col): _*)
          .cast(payloadType)
          .as("__rpayload")
      ) ++ leftVals.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*
    )
    val l = left.select(
      keys.map(col) ++ Seq(
        col(leftTs).as("__ts"),
        lit(leftSrc).as("__src"),
        lit(null).cast(payloadType).as("__rpayload")
      ) ++ leftVals.map(col): _*
    )

    val u = r.unionByName(l)
    val order = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").asc, col("__src").asc)
    val wb = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the anchor's own payload is null and equal-ts right rows sort before
    // it, so this frame yields the strictly-later side only
    val wf = order.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val matched = u
      .withColumn("__mb", last(col("__rpayload"), ignoreNulls = true).over(wb))
      .withColumn("__mf", first(col("__rpayload"), ignoreNulls = true).over(wf))

    val anchorTs = col("__ts").cast("long")
    val distB = anchorTs - col("__mb.__rts").cast("long")
    val distF = col("__mf.__rts").cast("long") - anchorTs
    def tol(dist: Column): Column = toleranceMs match {
      case Some(t) => dist * 1000L <= t
      case None => lit(true)
    }
    // a null-ts anchor has no position on the timeline: matches nothing
    // (the forward frame WOULD otherwise hand it the earliest right row —
    // same guard as joinForward)
    val validB =
      col("__ts").isNotNull && col("__mb").isNotNull && tol(distB)
    val validF =
      col("__ts").isNotNull && col("__mf").isNotNull && tol(distF)
    val chooseB = validB && (!validF || distB <= distF)
    val chooseF = validF && !chooseB

    matched
      .filter(col("__src") === leftSrc)
      .select(
        keys.map(col) ++
          Seq(col("__ts").as(leftTs)) ++
          leftVals.filterNot(_ == leftTs).map(col) ++
          rightVals.map(c =>
            when(chooseB, col(s"__mb.$c"))
              .when(chooseF, col(s"__mf.$c")).as(outName(c))) :+
          when(chooseB, lit("b")).when(chooseF, lit("f")).as(sideAs): _*
      )
  }
}
