package graft.io

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.GraftBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.schema.TranscriptGen

/** `NioLocalFileSystem` is the session's `file:` file system, and it leaves
  * every file and directory with the mode Hadoop's own local file system
  * gives it.
  */
class NioLocalFileSystemSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def conf = spark.sparkContext.hadoopConfiguration

  /** Mode of every file and directory under `root`, by relative path. */
  private def modes(root: String): Map[String, String] =
    scala.util.Using.resource(Files.walk(Paths.get(root))) { paths =>
      paths.iterator.asScala.map { p =>
        Paths.get(root).relativize(p).toString ->
          PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      }.toMap
    }

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  test("Hadoop's file system cache hands the session NioLocalFileSystem") {
    assert(FileSystem.get(new URI("file:///"), conf).getClass == classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).getClass == classOf[NioLocalFileSystem])
  }

  test("files, checksum files and directories get the modes Hadoop's " +
    "LocalFileSystem gives them") {
    val dir = GraftBridge.tempDir("graft_niofs").toString
    val stock = new LocalFileSystem()
    stock.initialize(new URI("file:///"), conf)
    def build(fs: FileSystem, root: String): Unit = {
      fs.mkdirs(new Path(s"$root/a/b"))
      fs.mkdirs(new Path(s"$root/c"), perm("700"))
      fs.create(new Path(s"$root/a/f")).close()
      fs.create(new Path(s"$root/c/g"), perm("640"), true, 4096, 1.toShort, 1L << 20, null).close()
      fs.setPermission(new Path(s"$root/a/b"), perm("751"))
    }
    build(stock, s"$dir/stock")
    build(FileSystem.get(new URI("file:///"), conf), s"$dir/nio")
    val expected = modes(s"$dir/stock")
    assert(expected.contains("a/.f.crc") && expected.contains("c/.g.crc"))
    assert(modes(s"$dir/nio") == expected)
    GraftBridge.deleteTempDir(new java.io.File(dir))
  }

  test("a Spark parquet write leaves Hadoop's default modes") {
    val dir = GraftBridge.tempDir("graft_niofs_write").toString
    TranscriptGen.generateDF(spark, 20).write.mode("overwrite")
      .partitionBy("role").parquet(s"$dir/out")
    val umask = FsPermission.getUMask(conf)
    val file = FsPermission.getFileDefault.applyUMask(umask).toString
    val directory = FsPermission.getDirDefault.applyUMask(umask).toString
    val written = modes(s"$dir/out")
    assert(written.keys.exists(_.endsWith(".parquet.crc")))
    for ((p, m) <- written)
      assert(m == (if (Files.isDirectory(Paths.get(dir, "out", p))) directory else file), p)
    GraftBridge.deleteTempDir(new java.io.File(dir))
  }
}
