package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system (`file:`), with permissions set in process.
  * Without the native `libhadoop`, `RawLocalFileSystem.setPermission` forks
  * a `chmod` for every file a write creates, for its `.crc` file and for
  * every new directory. This one sets the same bits with
  * `java.nio.file.Files.setPosixFilePermissions`. [[graft.GraftSession]]
  * registers it as `fs.file.impl`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  class Raw extends RawLocalFileSystem {
    /** The sticky bit has no `PosixFilePermission`: it keeps the `chmod`. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val bits = permission.toShort
        // PosixFilePermission lists owner, group, others, each r, w, x:
        // the mode's bits from 0400 down to 0001
        val perms = PosixFilePermission.values.toSeq.zipWithIndex.collect {
          case (perm, i) if (bits & (1 << (8 - i))) != 0 => perm
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
      }
  }
}
