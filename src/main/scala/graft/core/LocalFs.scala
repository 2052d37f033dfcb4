package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Raw local filesystem that sets rwx permissions in-process.
  *
  * Hadoop's `RawLocalFileSystem.setPermission` calls `NativeIO`'s `chmod`
  * when libhadoop is loaded and otherwise FORKS a `chmod` process. Spark's
  * distribution ships no libhadoop, so every directory the committer
  * creates, every part and `.crc` file and every schema pin costs one
  * fork (~6 ms in a 3 GB JVM). Here the `chmod(2)` goes through
  * `java.nio` (3–15 µs) instead. A sticky-bit mode, the one bit beyond
  * rwx that `FsPermission` carries, still goes through Hadoop's own path.
  *
  * `getFileLinkStatus`, which every `FileContext` rename calls on both
  * ends and their `.crc` files, forks `readlink` the same way. A path
  * that is not a symlink gets its plain file status, which is what
  * Hadoop returns for it; a symlink still goes through Hadoop. */
final class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val f = pathToFile(p)
      val rwx = permission.getUserAction.SYMBOL +
        permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL
      try Files.setPosixFilePermissions(f.toPath,
        PosixFilePermissions.fromString(rwx))
      catch {
        case _: NoSuchFileException =>
          throw new FileNotFoundException(s"File $f does not exist")
      }
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The engine's `file:` filesystem (`fs.file.impl`): Hadoop's
  * checksummed `LocalFileSystem` — `.crc` files are written and verified
  * on read — over [[GraftRawLocalFileSystem]].
  *
  * Renaming onto an existing FILE returns false, as on HDFS. The raw
  * `rename(2)` would replace the file. Without this binding `file:`
  * resolves to Hive's `ProxyLocalFileSystem`, which overrides exactly
  * this case, only because ServiceLoader reads hive-exec's registration
  * after Hadoop's. */
final class GraftLocalFileSystem
    extends LocalFileSystem(new GraftRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean =
    !(exists(dst) && getFileStatus(dst).isFile) && super.rename(src, dst)
}

/** The `file:` binding for `FileContext` (`fs.AbstractFileSystem.file.impl`),
  * which streaming checkpoints and state stores write through. Hadoop's
  * `LocalFs` builds its own `RawLocalFileSystem` and ignores
  * `fs.file.impl`; this is the same `ChecksumFs` over
  * [[GraftRawLocalFileSystem]]. */
final class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(uri, conf))

/** `FileContext` view of [[GraftRawLocalFileSystem]], overriding what
  * Hadoop's `RawLocalFs` overrides. */
final class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf,
      "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
