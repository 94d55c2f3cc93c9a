package graft.sources

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

/** Hadoop's raw local filesystem with in-process permission changes.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks a `chmod`
  * process, and it runs for every file and directory a write creates
  * (part files, their `.crc` siblings, task and partition directories).
  * Here the same nine mode bits go through
  * `Files.setPosixFilePermissions`, which is one chmod(2) call, as
  * libhadoop's native path makes it. The inherited path stays when
  * libhadoop is loaded (it forks nothing already), when the mode carries
  * the sticky bit (which the POSIX attribute view cannot express), or
  * when the default file store is not POSIX.
  */
class ForklessRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (NativeIO.isAvailable || permission.getStickyBit || !ForklessLocalFs.posix)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, ForklessLocalFs.bits(permission))
}

/** The checksummed `file://` filesystem over [[ForklessRawLocalFileSystem]];
  * the class a write names as its `fs.file.impl`.
  */
class ForklessLocalFileSystem extends LocalFileSystem(new ForklessRawLocalFileSystem)

private object ForklessLocalFs {
  val posix: Boolean = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** `PosixFilePermission.values` runs owner rwx, group rwx, others rwx:
    * the order of mode bits 0400 down to 0001.
    */
  def bits(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(b)
    }
    set
  }
}
