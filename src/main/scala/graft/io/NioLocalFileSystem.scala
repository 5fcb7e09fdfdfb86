package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system, setting POSIX permissions
  * through NIO. Without the native `libhadoop`, `RawLocalFileSystem`
  * forks a `chmod` for every directory and file it creates, `.crc` files
  * included; NIO sets the same mode in-process. Everything else is stock
  * `LocalFileSystem`. [[graft.core.GraftSession]] installs it as
  * `fs.file.impl`. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  class Raw extends RawLocalFileSystem {
    /** The mode `chmod` would set, read through `toShort` as Hadoop's own
      * path reads it (a create passes an `FsCreateModes`, whose `toString`
      * is not a mode). NIO cannot express the sticky bit, so such a mode
      * goes through Hadoop's own path. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(new FsPermission(permission.toShort).toString))
  }
}
