package graft.spark

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` file system of every table and state write
  * ([[StateDirs.write]]): Hadoop's checksummed `LocalFileSystem` over a raw
  * layer that sets permissions in-process. Without libhadoop, the stock
  * `RawLocalFileSystem.setPermission` forks a `chmod` for every file and
  * directory a write creates (8-12 ms each); this sets the same nine mode
  * bits through java.nio. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  // owner rwx, group rwx, others rwx: enum order is mode bit 8 down to 0
  private val modeBits = PosixFilePermission.values().toVector

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      modeBits.zipWithIndex.foreach { case (b, i) => if ((mode & (1 << (8 - i))) != 0) perms.add(b) }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }
}
