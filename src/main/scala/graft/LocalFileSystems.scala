package graft

import java.io.File
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without its process forks.
  *
  * With no native Hadoop library, the stock class forks `chmod` for
  * every file, `.crc` and directory it creates with a permission, and
  * `readlink` for every link-status lookup (each `rename` through the
  * options-taking `FileSystem.rename`, which is how `FileContext` renames);
  * each fork also starts a `Shell` stderr thread. Both answers come from
  * `java.nio` here. Bytes, names, checksums and modes on disk are the
  * stock ones. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` without the fork: the mode is set through the `unix:mode`
    * attribute, which takes the sticky bit too. Like GNU `chmod` with
    * a numeric mode, a directory keeps its setuid and setgid bits
    * (which `FsPermission` cannot express). Stores without the `unix`
    * attribute view take Hadoop's own path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    try {
      val kept =
        if (Files.isDirectory(file)) Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xc00
        else 0
      Files.setAttribute(file, "unix:mode", Int.box(permission.toShort | kept))
    } catch {
      case _: UnsupportedOperationException | _: IllegalArgumentException =>
        super.setPermission(p, permission)
    }
  }

  /** The stock answer for a path that is no symlink is its
    * `getFileStatus`, found by `readlink` on `new File(f.toString)`; the
    * same file is tested here without a fork. A symlink still resolves
    * through Hadoop's own code. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local file system over
  * [[GraftRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (the `FileContext` API, through
  * which Spark's streaming checkpoint writes): the twin of Hadoop's
  * `org.apache.hadoop.fs.local.LocalFs`, a `ChecksumFs` over
  * [[GraftRawLocalFs]]. Like `LocalFs` it serves the local URI
  * whatever URI it is created for. */
class GraftLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new GraftRawLocalFs(FsConstants.LOCAL_FS_URI, conf))

/** The twin of Hadoop's `org.apache.hadoop.fs.local.RawLocalFs` over
  * [[GraftRawLocalFileSystem]]. */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as in Hadoop's RawLocalFs", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
