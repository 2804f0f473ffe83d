package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without its per-call shell processes.
  * Without libhadoop (`NativeIO.isAvailable = false`, as Spark ships),
  * the stock class starts a `chmod` on every `create`/`mkdirs` and a
  * `readlink` on every `getFileLinkStatus` — two per FileContext rename,
  * i.e. per streaming offset/commit log entry and state-store delta.
  * Both answers come from java.nio here; permission bits, `.crc`
  * sidecars and symlink answers are unchanged.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  /** The sticky bit and non-POSIX stores keep the stock `chmod`. */
  override def setPermission(p: Path, perm: FsPermission): Unit =
    if (perm.getStickyBit) super.setPermission(p, perm)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      Seq(perm.getUserAction, perm.getGroupAction, perm.getOtherAction).map(_.SYMBOL).mkString))
    catch { case _: UnsupportedOperationException => super.setPermission(p, perm) }

  /** Only a symlink needs the stock answer; for anything else it equals
    * `getFileStatus` (a missing path throws `FileNotFoundException`). */
  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** `fs.file.impl`: the checksummed local FileSystem over [[NioRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (FileContext, hence Spark's checkpoint
  * file manager): `org.apache.hadoop.fs.local.LocalFs` over
  * [[NioRawLocalFileSystem]], with `RawLocalFs`'s overrides. */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
    new DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    })
