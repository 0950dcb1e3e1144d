package graft.sources

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without child processes. Without the
  * native Hadoop library, `RawLocalFileSystem` forks `chmod` for every
  * create and mkdir and `readlink` for every `getFileLinkStatus`, which
  * FileContext calls several times per rename — about 25 forks per
  * streaming state-store commit. Both answers come from `java.nio`
  * here; anything nio cannot express goes to Hadoop's own code. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** nio covers the nine rwx bits; the sticky bit falls back. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))

  /** The stock method asks `readlink` about `new File(f.toString)`; the
    * same path string decides here, and only real links go to Hadoop. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath))
      super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `FileSystem` (`.crc` sidecars) over
  * [[ForkFreeRawLocalFileSystem]], as `LocalFileSystem` is over the stock
  * raw class. */
class ForkFreeLocalFileSystem
    extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the FileContext side that Spark's
  * checkpoint logs and state stores rename through: Hadoop's `LocalFs`
  * with [[ForkFreeRawLocalFileSystem]] underneath. Hadoop constructs it
  * reflectively from `(URI, Configuration)`; the URI is always
  * `file:///`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeLocalFs.Raw(conf))

object ForkFreeLocalFs {
  /** Hadoop's `RawLocalFs`, whose constructors are package-private. */
  class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
