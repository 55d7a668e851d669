package graft.engine

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without its forked shell commands.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` runs `chmod` for
  * every file and directory it creates with a permission, and `readlink`
  * for every `getFileLinkStatus`, which a `FileContext` rename calls four
  * times. Streaming offset and commit logs, state-store files and the
  * `FileOutputCommitter` all pay that: about 400 process starts per
  * micro-batch. Both answers are available in-process through `java.nio`:
  *
  *  - `setPermission` sets plain rwx bits through the file's POSIX attribute
  *    view. A sticky bit, or a file store without that view, goes to
  *    Hadoop's own code.
  *  - `getFileLinkStatus` is `getFileStatus` unless the path is a symbolic
  *    link. Hadoop decides that by running `readlink` on `f.toString`, so a
  *    qualified `file:/...` path is never a link to it; the same string is
  *    tested here, and links go to Hadoop's own code.
  *
  * Every other method, and so every file on disk, is Hadoop's. The
  * `core-site.xml` among graft's resources installs the wrappers below for
  * every Hadoop `Configuration` in the JVM.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val view = Files.getFileAttributeView(pathToFile(p).toPath,
      classOf[PosixFileAttributeView])
    if (permission.getStickyBit || view == null) super.setPermission(p, permission)
    else view.setPermissions(PosixFilePermissions.fromString(
      Seq(permission.getUserAction, permission.getGroupAction,
        permission.getOtherAction).map(_.SYMBOL).mkString))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]].
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `file:` scheme of `FileContext`:
  * Hadoop's `LocalFs` (a `ChecksumFs` over `RawLocalFs`) with
  * [[NioRawLocalFileSystem]] underneath. Like `LocalFs`, it ignores the URI
  * it is given and serves `file:///`.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(conf))

/** Hadoop's `RawLocalFs`, whose constructors are package-private. */
private class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  // local file systems differ in what names they accept; let them decide
  override def isValidName(src: String): Boolean = true
}
