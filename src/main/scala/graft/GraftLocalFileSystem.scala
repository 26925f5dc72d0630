package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system over [[GraftRawLocalFileSystem]],
  * which sets file modes in-process. [[GraftSession.local]] pins it as
  * `fs.file.impl`; everything but `setPermission` is Hadoop's own.
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** Hadoop's raw local file system, except that `setPermission` calls
  * `Files.setPosixFilePermissions`: the same chmod(2) call Hadoop makes
  * through the native libhadoop, where without it Hadoop launches a
  * `chmod` process for every file it creates. Modes with the sticky,
  * setuid or setgid bit, which a `PosixFilePermission` set cannot hold,
  * and file systems without POSIX attributes go to Hadoop's method.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val rwx = Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(rwx.map(_.SYMBOL).mkString))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
}
