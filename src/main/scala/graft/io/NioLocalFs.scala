package graft.io

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `RawLocalFileSystem` without its child processes. With no
  * native Hadoop library the stock class runs `chmod` for every file
  * and directory it creates, and `readlink` for every link-status probe
  * (each `FileContext` rename behind a stream checkpoint commit makes
  * several); each fork costs 2-5 ms. Here both are system calls
  * through `java.nio`, and the results are the stock ones: same modes,
  * same statuses. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** chmod(2) with the mode the stock `chmod %04o` sets. GNU chmod keeps
    * a directory's setuid/setgid bits under a 4-digit numeric mode, so
    * they are kept here too; the sticky bit is part of `toShort`. A
    * store without the JDK's `unix` attribute view takes the stock
    * path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    try {
      val m = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
      val keep = if ((m & 0xF000) == 0x4000) m & 0xC00 else 0 // S_IFDIR: S_ISUID|S_ISGID
      Files.setAttribute(f, "unix:mode", Int.box(keep | permission.toShort))
    } catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** Stock probes every path with a forked `readlink` and, for anything
    * but a symlink, returns `getFileStatus`. Only a real symlink takes
    * the stock path here. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file://` `FileSystem` (`fs.file.impl`): Hadoop's
  * `LocalFileSystem` over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The raw `file://` `AbstractFileSystem` over [[NioRawLocalFileSystem]],
  * with the overrides of Hadoop's `local.RawLocalFs` (whose constructors
  * are package-private). */
class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `file://` `AbstractFileSystem`
  * (`fs.AbstractFileSystem.file.impl`, behind every `FileContext`, so
  * behind the streaming checkpoint commits): Hadoop's `local.LocalFs`
  * over [[NioRawLocalFs]]. Like it, ignores the URI it is built for. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))
