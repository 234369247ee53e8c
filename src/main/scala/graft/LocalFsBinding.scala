package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileAlreadyExistsException, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, ParentNotDirectoryException, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's Hadoop binding for `file:`, registered by
  * [[GraftSession]]. It is Hadoop's checksummed local file system with
  * four changes in the raw layer, and otherwise the same: checksums,
  * permissions, symlinks and the bytes on disk do not change.
  *
  * Without the native `libhadoop`, the stock binding starts a child
  * process for every `chmod` (each created file, `.crc` sidecar and
  * directory) and for every `readlink` (each `FileContext` rename):
  * 3–27 ms an operation on a 4-vCPU VM, against well under a
  * millisecond for the same syscall through `java.nio`. The stock
  * no-clobber rename of `FileContext` (`Rename.NONE`) is also not
  * atomic on `file:`: it checks the destination, then calls rename(2),
  * which replaces a file that landed in between, and for a directory it
  * falls back to a copy into the destination. Here that rename is one
  * syscall that fails on an existing destination (see
  * [[RawFileSystem.renameNoClobber]]), and an overwriting rename of a
  * file is one rename(2) (see [[RawAbstractFs]]).
  */
object LocalFsBinding {

  /** `fs.file.impl`: the `FileSystem` binding. A rename onto an
    * existing file returns false, as on HDFS and as under Hive's
    * `ProxyLocalFileSystem`, the class Hadoop's service loader binds to
    * `file:` on Spark's classpath when no binding is set. */
  class FileSystem(raw: RawFileSystem) extends LocalFileSystem(raw) {
    def this() = this(new RawFileSystem)
    override def rename(src: Path, dst: Path): Boolean =
      !pathToFile(dst).isFile && super.rename(src, dst)
  }

  /** `fs.AbstractFileSystem.file.impl`: the `FileContext` binding. */
  final class AbstractFs(uri: URI, conf: Configuration)
      extends ChecksumFs(new RawAbstractFs(uri, conf, new RawFileSystem,
        FsConstants.LOCAL_FS_URI.getScheme))

  class RawFileSystem extends RawLocalFileSystem {

    /** The same mode bits through `java.nio`; bits beyond `rwxrwxrwx`
      * (the sticky bit) keep the stock path. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0xffff
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val bits = PosixFilePermission.values
        val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        bits.indices.foreach(i => if ((mode & (0x100 >> i)) != 0) set.add(bits(i)))
        Files.setPosixFilePermissions(pathToFile(p).toPath, set)
      }
    }

    /** A path that is not a symlink has no link target to read: its
      * status is its plain status, as the stock method returns after
      * `readlink` comes back empty. Real links take the stock path. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)

    /** Moves `src` to `dst` in one syscall that fails when `dst`
      * exists, so of racing callers exactly one succeeds. A file is
      * hard-linked in (link(2) refuses an existing name), then its old
      * name is unlinked. A directory is renamed by rename(2), which
      * refuses a non-empty destination; an existing destination is
      * refused up front, so only an empty directory created in the
      * instant between the check and the rename can be replaced. There
      * is no copy fallback. Throws `FileAlreadyExistsException` when
      * `dst` exists. */
    def renameNoClobber(src: Path, dst: Path): Unit = {
      val s = pathToFile(src).toPath
      val d = pathToFile(dst).toPath
      val isDir = Files.isDirectory(s, LinkOption.NOFOLLOW_LINKS)
      try {
        if (isDir) {
          if (Files.exists(d, LinkOption.NOFOLLOW_LINKS))
            throw new java.nio.file.FileAlreadyExistsException(d.toString)
          Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
        } else Files.createLink(d, s)
      } catch {
        case e: java.nio.file.NoSuchFileException =>
          throw new FileNotFoundException(s"rename $src to $dst: ${e.getMessage}")
        case e: java.nio.file.FileSystemException =>
          if (Files.exists(d, LinkOption.NOFOLLOW_LINKS))
            throw new FileAlreadyExistsException(s"Rename destination $dst already exists.")
          if (Files.isRegularFile(d.getParent))
            throw new ParentNotDirectoryException(s"Rename destination parent ${dst.getParent} is a file.")
          throw e
      }
      if (!isDir) Files.delete(s)
    }
  }

  /** Hadoop's `RawLocalFs` over [[RawFileSystem]], whose no-clobber
    * rename it routes to [[RawFileSystem.renameNoClobber]]. An
    * overwriting rename of a file onto a file is one rename(2), which
    * replaces the destination atomically; the stock path deletes the
    * destination first, so a crash between the two leaves neither.
    * `raw` and `scheme` let another scheme bind a subclass of the raw
    * layer. */
  final class RawAbstractFs(uri: URI, conf: Configuration, raw: RawFileSystem,
      scheme: String) extends DelegateToFileSystem(uri, raw, conf, scheme, false) {

    override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit =
      if (!overwrite) raw.renameNoClobber(src, dst)
      else if (src != dst && isFile(src) && isFile(dst)) {
        if (!raw.rename(src, dst)) throw new java.io.IOException(s"rename $src to $dst failed")
      } else super.renameInternal(src, dst, true)

    private def isFile(p: Path): Boolean =
      Files.isRegularFile(raw.pathToFile(p).toPath, LinkOption.NOFOLLOW_LINKS)

    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
