package graft.sinks

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem of every graft session (pinned by
  * `GraftSession.tune`), for both Hadoop entry points:
  *
  *   - `fs.file.impl` — [[NoForkLocalFileSystem]], what writers, the
  *     commit protocol and `Sink` use;
  *   - `fs.AbstractFileSystem.file.impl` — [[NoForkLocalFs]], what
  *     `FileContext` users (streaming checkpoints, `_spark_metadata`
  *     logs) use.
  *
  * Both are Hadoop's checksummed local filesystems (`.crc` sidecars
  * written and verified) over [[NoForkRawLocalFileSystem]]. Without
  * `libhadoop` (Spark's bundled Hadoop has none), Hadoop's raw local FS
  * forks a `chmod` process, plus a stderr-reader thread, for every file
  * and directory it creates (2.9-7.3 ms each on 4 vCPUs; 70 per es-dump
  * pass), and FileContext's rename forks a `readlink` for each side. The raw FS here sets the same nine mode bits through
  * `java.nio` and tests for a symlink with `Files.isSymbolicLink`.
  */
object LocalFs {

  // PosixFilePermission's order is the mode's bit order from 0400 down.
  private val bits = PosixFilePermission.values.toSeq.zip((0 to 8).map(0x100 >> _))

  private[sinks] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.foreach { case (p, b) => if ((mode & b) != 0) s.add(p) }
    s
  }

  /** `chmod` leaves a directory's setuid/setgid bits alone, NIO clears
    * them; such directories keep Hadoop's own path. */
  private[sinks] def hasSetId(file: JPath): Boolean =
    Files.isDirectory(file) &&
      (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xc00) != 0
}

/** Hadoop's raw local filesystem without the per-file forks. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {

  /** The nine mode bits through `java.nio`; the sticky bit, a setuid or
    * setgid directory, and a filesystem without POSIX attributes go to
    * Hadoop's `chmod`. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val view = Files.getFileAttributeView(file, classOf[PosixFileAttributeView])
    if (view == null || permission.getStickyBit || LocalFs.hasSetId(file))
      super.setPermission(p, permission)
    else view.setPermissions(LocalFs.posix(permission.toShort))
  }

  /** Hadoop reads the link target with a forked `readlink`, which prints
    * nothing for a file or directory; only a real symlink takes that path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local filesystem over
  * [[NoForkRawLocalFileSystem]]. `rename` refuses an existing destination
  * file, as Hive's `ProxyLocalFileSystem` (the `file:` filesystem a Spark
  * classpath with hive-exec registers) does, so `Sink`'s rename pass, the
  * committer and the `Bucketing` swaps keep their semantics. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean =
    !isExistingFile(dst) && super.rename(src, dst)

  private def isExistingFile(p: Path): Boolean =
    try getFileStatus(p).isFile
    catch { case _: FileNotFoundException => false }
}

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (checksummed,
  * `FileContext`'s local filesystem) over [[NoForkRawLocalFileSystem]];
  * Hadoop's own raw twin hard-codes the forking raw filesystem. */
class NoForkLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NoForkRawLocalFs(conf))

/** Hadoop's `RawLocalFs` (package-private constructors) over
  * [[NoForkRawLocalFileSystem]]. */
class NoForkRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NoForkRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
