package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system with its two shell-outs done in process.
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks `chmod` for
  * every file, `.crc` sidecar and directory it creates, and
  * `getFileLinkStatus` forks `readlink` for every path a `FileContext`
  * rename checks: about 30 ms per checkpoint-log write. Here the same
  * bits go through `java.nio`, and a path that is not a symlink gets the
  * `getFileStatus` Hadoop returns for it. A sticky bit (which `java.nio`
  * cannot set) and a symlink keep Hadoop's own path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      // not permission.toString, which FsCreateModes prints as "{ masked: … }"
      Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
        .map(_.SYMBOL).mkString))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: `LocalFileSystem` (`.crc` checksums kept) over
  * [[NioRawLocalFileSystem]]. Used by the parquet writer and
  * `FileOutputCommitter`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (`.crc`
  * checksums kept) over [[NioRawLocalFs]]. Used by Spark's
  * `FileContextBasedCheckpointFileManager`: the offsets and commits logs
  * and the state-store delta files. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
