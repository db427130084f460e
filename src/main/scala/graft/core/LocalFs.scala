package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

/** `file://` without a process per permission change.
  *
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * runs `chmod` as a child process. Every local create, its `.crc`
  * sidecar and every `mkdirs` with a mode reach it, so one small file
  * costs two spawns. This subclass sets the nine rwx bits in-process
  * with `Files.setPosixFilePermissions`. It leaves the call to the
  * stock `chmod` only where the result could differ:
  *   - the requested mode has the sticky bit;
  *   - the target already carries a sticky, setuid or setgid bit (GNU
  *     `chmod 0755` keeps a directory's inherited setgid bit, a plain
  *     chmod(2) drops it);
  *   - the store has no `unix` attribute view.
  * Everything else is the stock FileSystem.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val target = pathToFile(p).toPath
    val special = permission.getStickyBit ||
      (try (Files.getAttribute(target, "unix:mode").asInstanceOf[Int] & 0xe00) != 0 // 07000
       catch { case _: UnsupportedOperationException => true })
    if (special) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(target, PosixFilePermissions.fromString(
      permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
        permission.getOtherAction.SYMBOL))
  }
}

/** `fs.file.impl`: the checksummed local FileSystem over
  * [[NioRawLocalFileSystem]]. It is a `LocalFileSystem`, so
  * `FileSystem.getLocal`'s cast holds and `.crc` sidecars are written. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The FileContext face of [[NioRawLocalFileSystem]], with the overrides
  * of the stock `RawLocalFs` (whose constructors are package-private). */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: what FileContext users (Spark's
  * streaming checkpoint manager, state-store uploads) get for `file://`,
  * checksummed like the stock `LocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
