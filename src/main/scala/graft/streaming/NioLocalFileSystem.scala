package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem, `.crc` checksums included, over a
  * [[NioRawLocalFileSystem]]: the `file:` filesystem a
  * [[FileStreams.runAvailableNow]] drain writes its checkpoint and sink
  * through. Hadoop instantiates it from `fs.file.impl` with the no-arg
  * constructor.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` does not fork. Hadoop's own
  * sets a mode through `libhadoop` when it is loaded and otherwise forks
  * `chmod`; the Spark distribution ships no `libhadoop`, and every file and
  * directory Hadoop creates gets its mode this way. Here the nine rwx bits
  * go through `Files.setPosixFilePermissions`, which follows a symlink as
  * `chmod` does. The sticky bit has no NIO form, so a mode with it, or a
  * filesystem without POSIX permissions, takes Hadoop's path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission lists OWNER_READ (0400) down to OTHERS_EXECUTE (0001)
      PosixFilePermission.values.iterator.zipWithIndex.foreach { case (bit, i) =>
        if ((mode & (0x100 >> i)) != 0) perms.add(bit): Unit
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms): Unit
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
}
