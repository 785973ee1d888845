package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem, setting permissions in process.
  * Without libhadoop, `RawLocalFileSystem.setPermission` starts a `chmod`
  * process for every part file, `.crc` file and directory a write creates;
  * [[GraftLocalFileSystem.Raw]] sets the same mode bits through
  * `java.nio.file.Files.setPosixFilePermissions`. A mode with the sticky
  * bit, which java.nio cannot set, goes to Hadoop's own path.
  * [[GraftSession.build]] installs it as the `file:` filesystem.
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftLocalFileSystem.Raw)

object GraftLocalFileSystem {
  // declared owner read/write/execute, group ..., others ...: mode bits 8 to 0
  private val Bits = PosixFilePermission.values

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        Bits.indices.foreach(i => if ((mode & (0x100 >> i)) != 0) perms.add(Bits(i)))
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }
    }
  }
}
