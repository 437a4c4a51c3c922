package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's local `file://` store: Hadoop's local filesystem with a
  * fork-free `setPermission`.
  *
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * forks `chmod` through `Shell.execCommand`, and the stock local store
  * calls it on every `create` (the file and its `.crc` sidecar) and on
  * every directory `mkdirs` makes. Measured on a 4-vCPU host from a 1 GB
  * JVM, a 100-byte create cost 5.3-5.5 ms and 3.5 ms of child CPU that
  * way, and 0.18-0.26 ms with no child CPU this way: the fork was the
  * floor of a one-object publish. This class sets the same 9-bit mode
  * through java.nio, in process.
  * Everything else (umask handling, the `.crc` sidecars, the on-disk
  * layout) is Hadoop's own.
  *
  * `src/main/resources/core-site.xml` mounts [[ForkFreeLocalFileSystem]]
  * as `fs.file.impl` and [[ForkFreeLocalFs]] as
  * `fs.AbstractFileSystem.file.impl`, so every `new Configuration()` (the
  * session conf, task confs, FileContext) resolves `file` to them. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    // java.nio cannot express the sticky bit; Hadoop's path forks for it
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
        permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, mode)
      catch {
        case e: NoSuchFileException =>
          throw new FileNotFoundException(s"$p: ${e.getMessage}")
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
    }
}

/** The checksummed local store over [[ForkFreeRawLocalFileSystem]]: `.crc`
  * sidecars are written and verified exactly as by `LocalFileSystem`. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** FileContext's local store (Hadoop's `LocalFs`) over
  * [[ForkFreeRawLocalFileSystem]]; Spark's streaming checkpoint manager
  * writes through FileContext. Like `LocalFs` it serves `file:///`
  * whatever URI it is built for, and it keeps `RawLocalFs`'s overrides:
  * no default port, the local server defaults, any name valid. Symlink
  * support comes from the delegate. */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })
