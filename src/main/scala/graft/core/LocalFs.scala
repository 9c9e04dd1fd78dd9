package graft.core

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without its shell-outs. Without the
  * native library, stock `RawLocalFileSystem` forks `chmod` for every
  * `create` and `mkdirs` and `readlink` for every `getFileLinkStatus`
  * (each `FileContext` rename). This applies the same mode through
  * java.nio and asks java.nio whether a path is a link; anything NIO
  * cannot express (the sticky bit, a non-POSIX store) or a real
  * symlink still goes through Hadoop's own code. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  import NoForkRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if (!posix || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, modeBits(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NoForkRawLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** rwxrwxrwx bits → NIO's set (`PosixFilePermission` is declared in
    * owner-read … others-execute order, bit 8 down to bit 0). */
  private def modeBits(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values.filter(b => (mode & (0x100 >> b.ordinal)) != 0).toSet.asJava
}

/** `fs.file.impl`: the stock checksummed local FS (`.crc` sidecars
  * unchanged) over the fork-free raw one. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the `FileContext` twin (the
  * streaming checkpoint log renames through it). Mirrors Hadoop's
  * `LocalFs` over `RawLocalFs`, with the fork-free raw FS inside. */
class NoForkLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  })
