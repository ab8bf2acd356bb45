package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local `file:` filesystem without process forks.
  *
  * Without the native Hadoop library, `RawLocalFileSystem` shells out in
  * two places: `setPermission` forks `chmod` for every created file, every
  * `.crc` sidecar and every directory, and `getFileLinkStatus` (which
  * `FileContext` calls on renames) forks `readlink`. Spark's parquet
  * commits, streaming offset/commit logs and state-store files go through
  * both, so a short streaming query paid ~400 forks per execution at
  * 3.0–3.7 ms each in a 3 GB JVM (4-core box); NIO does the same chmod or
  * link check in 0.006–0.06 ms. Everything else — checksums, umask,
  * rename-based commits — is Hadoop's own code, inherited unchanged.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  /** `chmod` through NIO. Like the shell command, follows symlinks and
    * keeps the setuid/setgid/sticky bits (mask 07777). */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    try Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(permission.toShort & 0xfff))
    catch {
      case e: NoSuchFileException =>
        throw new FileNotFoundException(s"File $p does not exist").initCause(e)
    }

  /** Hadoop runs `readlink` on the path's URI string (`file:/…`), which
    * never names a file, so for a path that is not a symlink it returns
    * `getFileStatus(f)`; so does this, without the fork. Real symlinks keep
    * Hadoop's behaviour. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `FileContext` side, mirroring Hadoop's `RawLocalFs` (whose
  * constructors are package-private) over [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  @deprecated("use getServerDefaults(Path)", "hadoop 2.8")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // Local filesystems differ in what names they accept; let the OS decide.
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed `LocalFs` over
  * [[NioRawLocalFs]]. Like Hadoop's `LocalFs`, always the local root URI. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
