package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFilePermission, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` scheme's filesystem: Hadoop's checksummed local filesystem
  * with its two per-operation shell forks replaced by NIO calls.
  *
  * Without `libhadoop` (the usual case for a Spark build outside a Hadoop
  * distribution), `RawLocalFileSystem` forks `chmod` for every file and
  * directory it creates and `readlink` for every link-status lookup, and
  * each `FileContext` rename makes several such lookups. Every local
  * write pays for it: `Warehouse` verbs, the `LineTable` sink, parquet
  * writes, and the streaming checkpoint and state-store files, which go
  * through `FileContext`. Measured per operation on a 4-core VM: a
  * `FileContext.rename` 21.6 ms stock against 0.24 ms here, a create with
  * its `.crc` 5.7 ms against 0.14 ms, an `mkdirs` 2.8 ms against 0.04 ms.
  *
  * Everything else is the stock classes, so the on-disk result (modes,
  * `.crc` side files, link semantics) is the same. `graft.Engine.session`
  * binds both faces of the scheme: [[Checksummed]] as `fs.file.impl` and
  * [[Context]] as `fs.AbstractFileSystem.file.impl`.
  */
object LocalFs {

  /** `RawLocalFileSystem` with NIO in place of the `chmod` and `readlink`
    * forks. Modes NIO cannot express (the sticky bit, anything beyond
    * rwx) and non-POSIX stores fall through to the stock fork, as do
    * real symlinks.
    */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      // 0x1ff = 0777: any bit above rwx goes to the stock chmod
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

    // stock answers a non-link with its plain file status, after forking
    // `readlink` to find out it is not a link
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `fs.file.impl`: the checksummed `FileSystem` over [[Raw]]. */
  class Checksummed extends LocalFileSystem(new Raw)

  /** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext`
    * face over [[Raw]], which Spark's streaming checkpoint and state-store
    * files are written through. The stock `LocalFs` cannot take another
    * raw class, so this restates it (and `RawLocalFs`) over [[Raw]].
    */
  class Context(uri: URI, conf: Configuration) extends ChecksumFs(new RawContext(uri, conf))

  private class RawContext(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    // the OS decides what a valid local name is
    override def isValidName(src: String): Boolean = true
  }

  // "rwxrwxrwx" with a dash for each clear bit of mode & 0777
  private def posix(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermissions.fromString("rwxrwxrwx".zipWithIndex.map {
      case (c, i) => if ((mode >> (8 - i) & 1) == 1) c else '-'
    }.mkString)
}
