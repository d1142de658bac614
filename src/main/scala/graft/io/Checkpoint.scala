package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, In, Literal, Murmur3Hash, Pmod, Predicate, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.{CollectMetrics, Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructType}

import graft.plans.{AsOfFilterPushdown, RemainingBucketsScan}

/** Checkpoint-resumable partitioned batch writes with per-partition
  * lineage + metrics (north rule: "resumable from checkpoint with
  * per-partition lineage and row-count/skew metrics").
  *
  * Mechanics (local-parquet emulation of Iceberg snapshot commits —
  * SURVEY.md §7.4 item 7; in production each bucket commit maps to an
  * Iceberg snapshot and the manifest to the snapshot log):
  *
  *  - output is hash-bucketed on a key column into `nBuckets` directories
  *    `bucket=N`;
  *  - a run writes ONLY buckets absent from the manifest, in a single
  *    distributed pass (dynamic partitioned write into a staging dir);
  *  - each completed bucket is atomically promoted (directory rename) and
  *    recorded as a manifest entry `_manifest/bucket-N.json` carrying
  *    lineage (input path, run id) and metrics (row count), beside the
  *    rows' schema (`_manifest/schema.json`);
  *  - a killed run leaves only staging garbage + already-committed
  *    buckets; rerunning converges to the identical final output;
  *  - a resume keeps only the remaining buckets' rows with a
  *    [[RemainingBuckets]] predicate below the observations its input ends
  *    with (`Lineage.observed`). [[AsOfFilterPushdown]] carries it below
  *    the flagship's feature scan (and into both inputs of an as-of join),
  *    so only those rows are shuffled, sorted and scanned, and over a
  *    bucketed table [[RemainingBucketsScan]] reads only the table buckets
  *    that can hold them.
  */
object Checkpoint {

  /** `pmod(hash(child), n) IN (remaining)`: Checkpoint's resume predicate
    * over its key. It is a node of its own so that [[RemainingBucketsScan]]
    * can read which buckets it keeps, whatever Spark makes of the
    * arithmetic. With no bucket remaining it is constant `false`, so Spark
    * folds the plan below it to an empty relation that reads nothing.
    */
  final case class RemainingBuckets(child: Expression, n: Int, remaining: Seq[Int])
      extends UnaryExpression with Predicate {
    @transient private lazy val test: Expression =
      if (remaining.isEmpty) Literal.FalseLiteral
      else In(Pmod(new Murmur3Hash(Seq(child)), Literal(n)), remaining.map(Literal(_)))
    override def foldable: Boolean = test.foldable
    override def nullable: Boolean = false
    override def eval(input: InternalRow): Any = test.eval(input)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      test.genCode(ctx)
    override protected def withNewChildInternal(c: Expression): RemainingBuckets =
      copy(child = c)
  }

  object RemainingBuckets {
    def apply(key: Column, nBuckets: Int, remaining: Seq[Int]): Column =
      GraftBridge.column(RemainingBuckets(GraftBridge.expression(key), nBuckets, remaining))
  }

  /** Rows per bucket: an aggregate of `n` long slots, one add per row,
    * over a bucket number in [0, n). It rides along the write in an
    * observation, so the manifest's row counts need no second job.
    */
  final case class BucketCounts(child: Expression, n: Int,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {
    override def createAggregationBuffer(): Array[Long] = new Array[Long](n)
    override def update(buf: Array[Long], row: InternalRow): Array[Long] = {
      buf(child.eval(row).asInstanceOf[Int]) += 1
      buf
    }
    override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
      var i = 0
      while (i < n) { buf(i) += other(i); i += 1 }
      buf
    }
    override def eval(buf: Array[Long]): Any = UnsafeArrayData.fromPrimitiveArray(buf)
    override def serialize(buf: Array[Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 * n)
      buf.foreach(bb.putLong)
      bb.array()
    }
    override def deserialize(bytes: Array[Byte]): Array[Long] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      Array.fill(n)(bb.getLong)
    }
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def withNewMutableAggBufferOffset(o: Int): BucketCounts = copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): BucketCounts = copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(c: Expression): BucketCounts = copy(child = c)
  }

  final case class BucketEntry(bucket: Int, rows: Long, input: String, runId: String)

  private def manifestDir(out: String): Path = Paths.get(out, "_manifest")

  private val SchemaFile = "schema.json"

  def committedBuckets(out: String): Set[Int] = {
    val dir = manifestDir(out)
    if (!Files.exists(dir)) Set.empty
    else
      scala.util.Using.resource(Files.list(dir)) { stream =>
        stream.iterator.asScala
          .map(_.getFileName.toString)
          .collect { case s if s.startsWith("bucket-") && s.endsWith(".json") =>
            s.stripPrefix("bucket-").stripSuffix(".json").toInt
          }
          .toSet
      }
  }

  /** Returns the set of buckets committed by this run. */
  def write(
      df: DataFrame,
      keyCol: String,
      out: String,
      nBuckets: Int,
      input: String,
      runId: String
  ): Set[Int] = {
    val done = committedBuckets(out)
    // a full write keeps every row and builds no predicate; over a fully
    // committed output the predicate is false and the write reads nothing,
    // but still fills the input's observations (with zero counts)
    val kept =
      if (done.isEmpty) df
      else underObservations(df, RemainingBuckets(col(keyCol), nBuckets,
        (0 until nBuckets).filterNot(done)))
    val remaining = kept.withColumn("__bucket", pmod(hash(col(keyCol)), lit(nBuckets)))

    val staging = s"$out/_staging_$runId"
    // one distributed pass over the remaining rows; the manifest's row
    // counts ride along in an observation
    val counts = Observation()
    remaining
      .observe(counts, GraftBridge.column(BucketCounts(
        GraftBridge.expression(col("__bucket")), nBuckets).toAggregateExpression()).as("rows"))
      .write
      .mode("overwrite")
      .partitionBy("__bucket")
      .parquet(staging)
    val stagedCounts = counts.get("rows").asInstanceOf[Seq[Long]]

    Files.createDirectories(manifestDir(out))
    // the schema of the rows, for a read of an output that holds none
    val schemaTmp = manifestDir(out).resolve(s".$SchemaFile.$runId.tmp")
    Files.writeString(schemaTmp, df.schema.json)
    Files.move(schemaTmp, manifestDir(out).resolve(SchemaFile),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    val stagingPath = Paths.get(staging)
    val promoted = scala.collection.mutable.Set[Int]()

    def commit(b: Int, rows: Long): Unit = {
      val entry =
        s"""{"bucket":$b,"rows":$rows,"input":"$input","run_id":"$runId"}"""
      val tmp = manifestDir(out).resolve(s".bucket-$b.json.$runId.tmp")
      Files.writeString(tmp, entry)
      // createLink, not ATOMIC_MOVE: POSIX rename REPLACES an existing
      // target, so a rival's manifest entry landing between a check and
      // our move would be silently overwritten (clobbering its run_id
      // lineage). A hard link is atomic AND fails if the target exists —
      // first committer wins, always; the loser's data is the identical
      // deterministic recomputation, so dropping its entry is correct.
      try Files.createLink(manifestDir(out).resolve(s"bucket-$b.json"), tmp)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      finally Files.deleteIfExists(tmp)
      promoted += b
    }

    // Concurrent writers: staging dirs are per-runId so two racing runs
    // only meet at promotion. The manifest entry is the commit point —
    // checked per bucket, and RE-checked immediately before any
    // destructive replace: a target dir that exists with a manifest
    // entry is a rival's commit (possibly landed between the two checks)
    // and stands; a target dir WITHOUT a manifest entry is a stale
    // partial from a dead run and is safe to replace. The residual
    // window — a rival's rename landing in the instant between our
    // second check and our own move — surfaces as the move FAILING
    // (rename onto an existing directory), which is caught below and
    // treated as a lost race: the rival promoted the identical
    // deterministic recomputation and its manifest commit follows, so
    // skipping is correct. No path deletes data that carries a manifest
    // entry at the moment of deletion.
    def committedMeanwhile(b: Int): Boolean =
      Files.exists(manifestDir(out).resolve(s"bucket-$b.json"))
    (0 until nBuckets).filterNot(done.contains).foreach { b =>
      val staged = stagingPath.resolve(s"__bucket=$b")
      if (committedMeanwhile(b)) () // lost the race — the other run's commit stands
      else if (Files.exists(staged)) {
        val target = Paths.get(out, s"bucket=$b")
        if (Files.exists(target) && committedMeanwhile(b)) {
          () // rival committed between the two checks — its data stands
        } else {
          if (Files.exists(target)) { // stale partial from a dead run
            deleteRecursively(target)
          }
          try {
            Files.move(staged, target, StandardCopyOption.ATOMIC_MOVE)
            commit(b, stagedCounts(b))
          } catch {
            case _: java.nio.file.FileSystemException
                if Files.exists(target) =>
              // a rival renamed its (identical) staged copy into place
              // between our check and our move — its promotion stands;
              // remaining buckets continue promoting normally
              ()
          }
        }
      } else {
        // the bucket genuinely has no rows in this input — commit it as
        // empty so resumes don't rescan the input for it forever.
        // Re-check for a rival commit landed since the loop's first check
        // (mirrors the staged-data branch); the commit itself is
        // first-writer-wins (createLink) so even the residual window
        // cannot clobber a rival's manifest entry.
        if (!committedMeanwhile(b)) commit(b, 0L)
      }
    }
    deleteRecursively(stagingPath)
    promoted.toSet
  }

  /** `df` filtered on `cond` below the observations it ends with, so that
    * they count only the rows that pass.
    */
  private def underObservations(df: DataFrame, cond: Column): DataFrame = {
    val Filter(resolved, plan) = GraftBridge.logicalPlan(df.filter(cond))
    def place(p: LogicalPlan): LogicalPlan = p match {
      case m: CollectMetrics => m.withNewChildren(Seq(place(m.child)))
      case _ => Filter(resolved, p)
    }
    GraftBridge.ofRows(df, place(plan))
  }

  /** Read back the committed dataset (all buckets). An output whose
    * committed buckets hold no rows has no data directory to read a schema
    * from; it reads as an empty frame of the schema [[write]] stored beside
    * the manifest, nullable as a parquet read makes every column.
    */
  def read(spark: SparkSession, out: String): DataFrame = {
    val hasData = !Files.isDirectory(Paths.get(out)) ||
      scala.util.Using.resource(Files.list(Paths.get(out))) {
        _.iterator.asScala.exists(_.getFileName.toString.startsWith("bucket="))
      }
    val schemaFile = manifestDir(out).resolve(SchemaFile)
    if (hasData || !Files.exists(schemaFile)) spark.read.parquet(s"$out/bucket=*")
    else spark.createDataFrame(java.util.Collections.emptyList[Row](),
      GraftBridge.asNullable(DataType.fromJson(Files.readString(schemaFile)).asInstanceOf[StructType]))
  }

  /** Operational repair: drop chosen buckets' data + manifest entries so
    * the next [[write]] recomputes exactly those buckets from the input
    * (e.g. after upstream data corruption is fixed for a key range). The
    * Iceberg analogue is rewriting the affected partitions in a new
    * snapshot.
    */
  def invalidate(out: String, buckets: Set[Int]): Unit =
    buckets.foreach { b =>
      deleteRecursively(Paths.get(out, s"bucket=$b"))
      Files.deleteIfExists(manifestDir(out).resolve(s"bucket-$b.json"))
    }

  /** Per-partition metrics from the manifest: rows per bucket + skew ratio
    * (max/mean) — the report the north rule asks to emit per partition.
    */
  def metrics(out: String): (Map[Int, Long], Double) = {
    val dir = manifestDir(out)
    if (!Files.exists(dir)) return (Map.empty, 0.0)
    val rows = scala.util.Using.resource(Files.list(dir)) { stream =>
      stream.iterator.asScala
        .filter { p =>
          val name = p.getFileName.toString
          name.startsWith("bucket-") && name.endsWith(".json")
        }
        .map { p =>
          val s = Files.readString(p)
          val b = """"bucket":(\d+)""".r.findFirstMatchIn(s).get.group(1).toInt
          val r = """"rows":(\d+)""".r.findFirstMatchIn(s).get.group(1).toLong
          b -> r
        }
        .toMap
    }
    val skew =
      if (rows.isEmpty) 0.0
      else rows.values.max.toDouble / (rows.values.sum.toDouble / rows.size)
    (rows, skew)
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p)) { stream =>
        stream.sorted(java.util.Comparator.reverseOrder())
          .iterator.asScala.foreach(Files.delete)
      }
}
