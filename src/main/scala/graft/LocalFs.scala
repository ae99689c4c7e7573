package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without a child process per file.
  *
  * Without libhadoop, `RawLocalFileSystem` forks `chmod` for every file
  * and directory it creates with a permission, and `readlink` twice per
  * FileContext rename. A streaming micro-batch renames its offset-log,
  * commit-log and every state delta/checksum file, and a parquet write
  * creates a file per task: thousands of forks per run whose cost is
  * process creation, not work. These two methods do the same in-process
  * with java.nio; anything they cannot express (bits above 0777, real
  * symlinks) still goes to Hadoop's own code. Checksum (.crc) files,
  * rename semantics and every read path stay Hadoop's.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, GraftRawLocalFileSystem.posix(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object GraftRawLocalFileSystem {
  /** The java.nio set for a 9-bit mode (OWNER_READ is bit 8 down to
    * OTHERS_EXECUTE at bit 0, the enum's declaration order). */
  def posix(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values.zipWithIndex
      .collect { case (p, i) if (mode & (0x100 >> i)) != 0 => p }.toSet.asJava
}

/** `fs.file.impl`: the checksummed `FileSystem` over the raw class. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` — what FileContext (Spark's
  * streaming checkpoint manager) resolves `file:` to. It mirrors
  * `org.apache.hadoop.fs.local.LocalFs`, whose constructors are not
  * public: checksums over a delegate to the raw class, with the four
  * overrides of `RawLocalFs`. Hadoop instantiates it through a
  * (URI, Configuration) constructor; like `LocalFs` it always serves
  * `file:///`, so the URI is unused. */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftLocalFs.Raw(conf))

object GraftLocalFs {
  class Raw(conf: Configuration) extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new GraftRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
