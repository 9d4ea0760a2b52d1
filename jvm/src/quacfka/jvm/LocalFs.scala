package quacfka.jvm

/* Fork-free local file system for `file:` paths.
 *
 * Without libhadoop (no NativeIO), Hadoop's RawLocalFileSystem starts a
 * `chmod` process for every setPermission — each directory and file it
 * creates with a permission — and a `readlink` process for every
 * getFileLinkStatus, which FileContext's rename asks for each path it
 * checks. A streaming epoch's offset WAL, commit log, file-source log and
 * parquet sink commits hit both calls dozens of times, at ~4 ms a fork.
 * These classes make the two calls with java.nio instead; every other
 * call is Hadoop's own code.
 *
 * quacfka_spark/session.py registers NioLocalFileSystem as fs.file.impl
 * and NioLocalFs as fs.AbstractFileSystem.file.impl, so FileContext keeps
 * its atomic rename for the checkpoint logs.
 */

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

class NioRawLocalFileSystem extends RawLocalFileSystem {
  // the 9 rwx bits through java.nio; sticky (the only other bit an
  // FsPermission carries) still goes to the shell
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))

  // a path that is not a link has its own status; links keep Hadoop's path
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

// LocalFs over NioRawLocalFileSystem: the delegate copies RawLocalFs's
// overrides, and like LocalFs it always serves file:///
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
      override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
      override def isValidName(src: String): Boolean = true
    })
