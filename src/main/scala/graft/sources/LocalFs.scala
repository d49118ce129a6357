package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file` scheme without a child process per file.
  *
  * Without the native libhadoop, stock `RawLocalFileSystem` forks
  * `chmod` for every file or directory it creates with a permission and
  * `readlink` for every `getFileLinkStatus`, which `FileContext.rename`
  * calls on both of its paths. The offset and commit logs, the state-store
  * deltas and every [[Ledger]] publish go through those calls, so each
  * micro-batch paid tens of forks on its commit path. This subclass does
  * both through `java.nio.file` and defers to stock Hadoop wherever nio
  * cannot say the same thing: a permission with the sticky bit, a store
  * without POSIX attributes, and any path that is a symlink.
  *
  * `src/main/resources/core-site.xml` registers [[NioLocalFileSystem]]
  * (`fs.file.impl`) and [[NioLocalFs]] (`fs.AbstractFileSystem.file.impl`),
  * so every `FileSystem` and `FileContext` on `file:` uses it. A
  * `core-site.xml` earlier on the classpath (e.g. from `HADOOP_CONF_DIR`)
  * takes precedence and keeps stock Hadoop.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val bits = permission.toShort
      // PosixFilePermission.values is owner rwx, group rwx, others rwx
      val perms = new java.util.HashSet[PosixFilePermission]()
      PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
        if ((bits & (1 << (8 - i))) != 0) perms.add(pp)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `FileSystem` for `file:`: checksummed, over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `FileContext` for `file:`: Hadoop's `RawLocalFs` over
  * [[NioRawLocalFileSystem]]; the four overrides are `RawLocalFs`'s own. */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `FileContext` for `file:`: checksummed, like Hadoop's `LocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
