package graft.engine

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without child processes.
  *
  * Without libhadoop, `RawLocalFileSystem` forks `chmod` for every file
  * or directory it creates with a permission, and `getFileLinkStatus`
  * forks `readlink`, which `FileContext.rename` calls twice. Streaming
  * checkpoints (offset, commit and file-source logs, state-store deltas
  * and their checksums) and every parquet part file pay both on every
  * `PollingIngest` micro-batch. The two overrides here do the same work
  * in-process through `java.nio.file` and hand anything they cannot
  * express to the stock code.
  */
class ForklessRawLocalFileSystem extends RawLocalFileSystem {

  /** The nine rwx bits through `Files.setPosixFilePermissions`. A
    * sticky bit, or a file store without POSIX attributes, goes to the
    * stock `chmod`. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val bits = permission.toShort
      // PosixFilePermission declares OWNER_READ … OTHERS_EXECUTE, i.e.
      // mode bits 8 … 0 in ordinal order
      val perms = EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values
        .filter(v => ((bits >> (8 - v.ordinal)) & 1) == 1)
        .foreach(perms.add)
      try { Files.setPosixFilePermissions(pathToFile(p).toPath, perms); () }
      catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }
    }

  /** A path that is not a symlink has the same link status as file
    * status, which is what the stock method returns after `readlink`
    * comes back empty. Links keep the stock path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `FileSystem` over the fork-free raw
  * filesystem, as `LocalFileSystem` is over the stock one. */
class ForklessLocalFileSystem
    extends LocalFileSystem(new ForklessRawLocalFileSystem)

/** The `FileContext` binding of the fork-free raw filesystem; mirrors
  * Hadoop's `RawLocalFs`, whose constructors are package-private. */
class ForklessRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new ForklessRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the `FileContext` API that
  * streaming checkpoints use, checksummed like Hadoop's `LocalFs`.
  * Hadoop instantiates it through this (URI, Configuration)
  * constructor; the URI is always `file:///`. */
class ForklessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForklessRawLocalFs(conf))
