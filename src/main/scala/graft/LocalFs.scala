package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system (`fs.file.impl`) with two calls
  * that no longer start an operating-system process.
  *
  * Without the native libhadoop, the stock `RawLocalFileSystem` forks
  * `chmod` for every file and directory it creates and `readlink` for
  * every `getFileLinkStatus`: about 330–490 forks in one steady-state
  * 1000-row star micro-batch. Here:
  *   - `setPermission` sets the mode through `java.nio`, and falls back to
  *     Hadoop's own call for the sticky bit (the one bit beyond 0777 an
  *     `FsPermission` carries) or on a store without POSIX attributes;
  *   - `getFileLinkStatus` returns `getFileStatus` when the path is not a
  *     symbolic link — what the stock call returns once `readlink` prints
  *     nothing — and defers to the stock call for a link.
  * The bytes, the `.crc` side files and the modes written are the stock
  * ones. [[LocalFs.ForFileContext]] is the `FileContext` twin
  * (`fs.AbstractFileSystem.file.impl`), which the streaming checkpoint
  * uses. [[GraftSession.local]] registers both. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val set = !permission.getStickyBit && (try {
        Files.setPosixFilePermissions(pathToFile(p).toPath,
          PosixFilePermissions.fromString(permission.toString))
        true
      } catch { case _: UnsupportedOperationException => false })
      if (!set) super.setPermission(p, permission)
    }

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** The `FileContext` twin of [[LocalFs]]: Hadoop's `local.LocalFs`
    * over [[Raw]]. */
  class ForFileContext(uri: URI, conf: Configuration)
      extends ChecksumFs(new RawForFileContext(uri, conf))

  /** Hadoop's `local.RawLocalFs`, whose constructors are package-private,
    * over [[Raw]]. */
  private class RawForFileContext(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
