package graft.io

import java.net.URI
import java.nio.file.{FileSystems, Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without shell forks.
  *
  * Without the native hadoop library, `RawLocalFileSystem` forks a
  * `chmod` process for every file it creates and a `readlink` process
  * for every link-status lookup, and `FileContext.rename` looks up the
  * link status of the source, the destination and their `.crc` files.
  * A streaming micro-batch writes and renames offsets, commits, state
  * deltas and metadata files, so those forks set its fixed cost (one
  * windowed + FK-join stream run logged 4,574 process starts).
  *
  * This class keeps every byte and permission the stock code writes and
  * does the two operations in-process with `java.nio.file`. Anything the
  * JDK cannot express the same way (sticky bit, a setgid directory that
  * `chmod` would keep setgid, a non-POSIX file system, a real symlink)
  * goes to the stock implementation.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  import ForkFreeLocalFs._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    val path = pathToFile(p).toPath
    if ((mode & ~0x1ff) != 0 || !posix || keepsSetIdBits(path))
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(path, posixPerms(mode))
  }

  /** The stock code runs `readlink` and, when it prints nothing, returns
    * `getFileStatus(f)`; only a real symlink needs it. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `FileSystem` over the fork-free raw one. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The raw `AbstractFileSystem` for `FileContext`, with the overrides of
  * `org.apache.hadoop.fs.local.RawLocalFs` (whose constructors are not
  * public). */
class ForkFreeRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // the local OS validates names; the same as RawLocalFileSystem
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: `.crc`-checksummed like
  * `org.apache.hadoop.fs.local.LocalFs`. Hadoop instantiates it through
  * the (URI, Configuration) constructor.
  *
  * `FilterFs.open(Path)` hands the read to the raw file system, so
  * `FileContext.open(path)`, which Spark's checkpoint manager calls,
  * would skip the `.crc`; here it goes through the verifying open. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf)) {
  override def open(f: Path): FSDataInputStream =
    open(f, getServerDefaults(f).getFileBufferSize)
}

object ForkFreeLocalFs {

  /** Hadoop settings that route `file:` through these classes, for
    * both `FileSystem.get` and `FileContext.getFileContext`. */
  val hadoopConfs: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)

  private lazy val views = FileSystems.getDefault.supportedFileAttributeViews
  private[io] lazy val posix: Boolean = views.contains("posix")
  private lazy val unix: Boolean = views.contains("unix")

  private val SetIdBits = 0xc00 // 06000: setuid | setgid
  private val DirType = 0x4000  // 0040000: S_IFDIR

  /** GNU `chmod 0755` keeps a directory's setuid/setgid bits, while
    * chmod(2) with the same mode clears them. */
  private[io] def keepsSetIdBits(path: JPath): Boolean =
    unix && {
      val m = try Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
              catch { case _: java.io.IOException => 0 }
      (m & 0xf000) == DirType && (m & SetIdBits) != 0
    }

  /** `PosixFilePermission` declares OWNER_READ .. OTHERS_EXECUTE, so
    * ordinal i is mode bit 8 - i. */
  private[io] def posixPerms(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(p => if ((mode & (0x100 >> p.ordinal)) != 0) set.add(p))
    set
  }
}
