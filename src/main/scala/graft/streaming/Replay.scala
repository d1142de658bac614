package graft.streaming

import java.io.File
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftBridge,
  SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, ntile}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

/** One file-source replay of a streaming twin against its batch oracle.
  *
  * Each staged frame becomes ONE parquet file with a strictly larger
  * modification time than every file staged before it: FileStreamSource
  * takes the oldest mtime first, so with `maxFilesPerTrigger=1` each file
  * is one micro-batch in a fixed order. The query runs in `session`, a
  * `newSession()` of the caller's with [[Replay.StatePartitions]] shuffle
  * partitions: it shares the SparkContext and cached data, never the
  * caller's SQL conf or temp-view catalog. Everything the replay writes
  * lives under one scratch dir that [[Replay.apply]] deletes on return.
  */
final class Replay private (val session: SparkSession, dir: File) {
  private var staged = 0

  /** A path inside this replay's scratch dir. */
  def path(name: String): String = new File(dir, name).toString

  /** Stages every chunk in order into source dir `source`, then returns
    * the file stream over that dir.
    */
  def stage(chunks: Replay.Chunks, source: String = "in"): DataFrame = {
    (1 to chunks.n).foreach(i => stageFile(chunks.chunk(i), source))
    this.source(chunks.schema, source)
  }

  /** Stages `df` as one parquet file in source dir `source`, arriving
    * after every file staged before it. The data never touches the driver:
    * it is a distributed write whose single part-file is then moved into
    * the watched dir.
    */
  def stageFile(df: DataFrame, source: String = "in"): Unit = {
    import scala.jdk.CollectionConverters._
    staged += 1
    val scratch = path(s"staging-$staged")
    df.coalesce(1).write.parquet(scratch)
    val part = scala.util.Using.resource(Files.list(Paths.get(scratch)))(
      _.iterator.asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .next())
    val dest = Paths.get(path(source), s"file-$staged.parquet")
    Files.createDirectories(dest.getParent)
    Files.move(part, dest)
    Files.setLastModifiedTime(
      dest, FileTime.fromMillis(1700000000000L + staged * 10000L))
  }

  /** The file stream over source dir `source`, one file per micro-batch. */
  def source(schema: StructType, source: String = "in"): DataFrame =
    session.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(path(source))

  /** Drains every staged file through `q` into a memory sink and returns
    * the sink's rows, which live in `session`, not under the scratch dir.
    */
  def toMemory(q: Dataset[_], outputMode: String = "append"): DataFrame = {
    drain(q.writeStream.outputMode(outputMode)
      .format("memory").queryName("replay"))
    session.table("replay")
  }

  /** Drains every staged file through `q` into the scratch parquet sink;
    * repeated calls continue from the same checkpoint. The returned read
    * is lazy over the scratch dir: materialize it before returning it.
    */
  def toParquet(q: Dataset[_]): DataFrame = {
    drain(q.writeStream.outputMode("append")
      .format("parquet").option("path", path("sink")))
    session.read.parquet(path("sink"))
  }

  private def drain(w: DataStreamWriter[_]): Unit = {
    val q = w.option("checkpointLocation", path("ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
  }
}

object Replay {

  /** Shuffle partitions of the replay session, and so the state-store
    * count of every stateful operator in it (frozen at query start). Each
    * micro-batch commits every store (a stream-stream join keeps four per
    * partition), so a replay's per-batch floor scales with this count, not
    * with its data; 8 suits the key counts of the sf0.001 to sf0.1 replays.
    */
  val StatePartitions = 8

  /** Name prefix of every replay's scratch dir under java.io.tmpdir. */
  val ScratchPrefix = "graft-replay"

  private val ChunkCol = "__chunk"

  /** `frame` with a chunk column holding 1..n: the replay's arrival order. */
  final case class Chunks(frame: DataFrame, n: Int) {
    def chunk(i: Int): DataFrame =
      frame.filter(col(ChunkCol) === i).drop(ChunkCol)
    def schema: StructType = frame.drop(ChunkCol).schema
  }

  /** `df` cut into `n` equal runs of rows in `order`. The single-task sort
    * is replay-only, as in any replay coordinator: production streams
    * arrive already ordered.
    */
  def byRows(df: DataFrame, n: Int, order: Column*): Chunks =
    Chunks(df.withColumn(ChunkCol, ntile(n).over(Window.orderBy(order: _*)))
      // staged once, written per chunk: share the single-task replay sort
      .localCheckpoint(false), n)

  /** `df` cut into `n` runs of its distinct `ts` values, so rows sharing a
    * timestamp never straddle a micro-batch.
    */
  def byEpochs(df: DataFrame, n: Int, ts: String): Chunks = {
    val epochs = df.select(ts).distinct()
      .withColumn(ChunkCol, ntile(n).over(Window.orderBy(col(ts))))
    Chunks(df.join(epochs, Seq(ts))
      // staged once, written per chunk: share the single-task replay sort
      .localCheckpoint(false)
      .select((df.columns.toSeq :+ ChunkCol).map(col): _*), n)
  }

  /** Runs `body` against a fresh replay of `s` and deletes the replay's
    * scratch dir when it returns. `body`'s result must not read that dir.
    */
  def apply[A](s: SparkSession)(body: Replay => A): A = {
    val dir = GraftBridge.tempDir(ScratchPrefix)
    try {
      val session = s.newSession()
      session.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
      body(new Replay(session, dir))
    } finally GraftBridge.deleteTempDir(dir)
  }
}
