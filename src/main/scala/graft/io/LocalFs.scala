package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystems, Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file://` FileSystem: Hadoop's checksummed
  * `LocalFileSystem` (same bytes, same `.crc` sidecars) over a
  * [[NioRawLocalFileSystem]], which sets permission bits without
  * starting a process. Without the native Hadoop library the stock
  * `RawLocalFileSystem` forks a `chmod` for every created file, its
  * `.crc` sidecar and every directory it makes.
  *
  * It also keeps the one behaviour of Hive's `ProxyLocalFileSystem`,
  * which Spark picks up for `file://` from hive-exec's service list
  * when nothing is configured: a rename onto an existing file returns
  * false, where plain `LocalFileSystem` overwrites the file.
  *
  * [[LocalFs.install]] puts it, and its `FileContext` twin
  * [[LocalFsContext]], on a Hadoop conf; `graft.GraftExtensions` does
  * that for every session. */
class LocalFs extends LocalFileSystem(new NioRawLocalFileSystem) {

  override def rename(src: Path, dst: Path): Boolean =
    !isExistingFile(dst) && super.rename(src, dst)

  private def isExistingFile(p: Path): Boolean =
    try getFileStatus(p).isFile catch { case _: FileNotFoundException => false }
}

/** Hadoop's `RawLocalFileSystem`, with `setPermission` done through
  * `java.nio.file.Files.setPosixFilePermissions`: the mode bits the
  * stock `chmod` would write, set by one system call in the calling
  * thread. Modes NIO cannot express go through the stock `chmod`: a
  * sticky bit, and a directory that carries setuid/setgid bits (GNU
  * `chmod` keeps those under a four-digit octal mode; NIO would clear
  * them). On a platform without NIO's `unix` attribute view, every
  * mode does. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    if (!LocalFs.PosixViews || permission.getStickyBit || LocalFs.keepsSpecialBits(path))
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(path, LocalFs.posix(permission.toShort))
  }
}

/** `FileContext`'s twin of [[LocalFs]] (`fs.AbstractFileSystem.file.impl`),
  * which Spark's streaming checkpoint and state-store files go through:
  * Hadoop's `org.apache.hadoop.fs.local.LocalFs` with its raw layer over
  * a [[NioRawLocalFileSystem]]. Still a `ChecksumFs`, so Spark's
  * checkpoint manager keeps removing the `.crc` of a renamed temp
  * file. */
class LocalFsContext(uri: URI, conf: Configuration)
    extends ChecksumFs(new LocalFsContext.Raw(conf))

object LocalFsContext {

  /** Hadoop's `RawLocalFs` (package-private there) over the NIO raw FS. */
  private[io] class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}

object LocalFs {

  val FileSystemKey = "fs.file.impl"
  val FileContextKey = "fs.AbstractFileSystem.file.impl"

  /** Sets [[FileSystemKey]] to [[LocalFs]] and [[FileContextKey]] to
    * [[LocalFsContext]] on `conf`, each only where the user set no value.
    * `core-default.xml` already names Hadoop's own `LocalFs` for
    * [[FileContextKey]], so a value whose only source is that file
    * counts as unset; a value from anywhere else wins. */
  def install(conf: Configuration): Unit = {
    setIfUnset(conf, FileSystemKey, classOf[LocalFs].getName)
    setIfUnset(conf, FileContextKey, classOf[LocalFsContext].getName)
  }

  private def setIfUnset(conf: Configuration, key: String, value: String): Unit = {
    val defaultOnly = Option(conf.getPropertySources(key))
      .exists(_.sameElements(Seq("core-default.xml")))
    if (conf.get(key) == null || defaultOnly)
      conf.set(key, value, classOf[LocalFs].getName)
  }

  private[io] val PosixViews: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  // declaration order is owner r/w/x, group r/w/x, others r/w/x:
  // PosixFilePermission i is mode bit 8 - i
  private val byBit = PosixFilePermission.values

  private[io] def posix(mode: Short): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- byBit.indices if (mode & (1 << (8 - i))) != 0) set.add(byBit(i))
    set
  }

  /** A directory with setuid or setgid set (read with one `stat`). */
  private[io] def keepsSpecialBits(path: NioPath): Boolean = {
    val mode = Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
    (mode & 0xf000) == 0x4000 && (mode & 0xc00) != 0
  }
}
