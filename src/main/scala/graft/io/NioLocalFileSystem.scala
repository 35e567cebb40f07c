package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem without a process fork per written file.
  *
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * runs `chmod` in a child process, and Hadoop calls it for every
  * directory and file a write creates: a parquet table write forks
  * once per part file, per `.crc` file and per directory. This
  * subclass sets the same rwx bits in-process through
  * `Files.setPosixFilePermissions`, which follows symbolic links as
  * `chmod` does. `FsPermission` has no setuid or setgid bit, and
  * `java.nio` cannot set the sticky bit, so a mode with the sticky bit
  * takes Hadoop's path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
}

/** The checksummed local filesystem (`.crc` files written and verified,
  * as with Hadoop's default `LocalFileSystem`) over
  * [[NioRawLocalFileSystem]]. Registered for the `file:` scheme by
  * `GraftSession.builder` through `spark.hadoop.fs.file.impl`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)
