package graft

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSDataInputStream,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's raw local filesystem without the per-file child processes.
  * Without `libhadoop` (the Spark distribution ships none) the stock class
  * runs `chmod` for every file it creates and `readlink` for every link
  * status lookup — four per FileContext rename, and given a `file:` URI
  * string the `readlink` always fails anyway. A streaming checkpoint
  * writes a few dozen files per micro-batch, so that was ~360 processes a
  * batch. Two methods change; both fall back to the stock code for every
  * case they do not cover, and behave identically on the cases they do.
  */
class ForklessRawLocalFileSystem extends RawLocalFileSystem {

  /** The nine rwx bits through `chmod(2)` in-process, where that leaves
    * exactly what the `chmod 0nnn` command leaves: on a regular file, and
    * on a directory without a setuid/setgid bit (the command keeps those on
    * directories; NIO cannot set them). Sticky bits, other cases, native IO
    * and hosts without the `unix` attribute view take the stock path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort
    val file = pathToFile(p).toPath
    if ((bits & ~0x1ff) == 0 && ForklessRawLocalFileSystem.inProcessChmod &&
        (Files.isRegularFile(file) || Files.isDirectory(file) &&
          (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xc00) == 0)) {
      // values() runs owner r,w,x, group r,w,x, others r,w,x: bit 0400 first
      val rwx = PosixFilePermission.values.filter(b => (bits & (0x100 >> b.ordinal)) != 0)
      Files.setPosixFilePermissions(file, rwx.toSet.asJava)
    } else super.setPermission(p, permission)
  }

  /** For a path that is not a symlink the stock lookup returns
    * `getFileStatus(f)` (and its `FileNotFoundException` for a missing
    * path); only real symlinks need the stock code.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForklessRawLocalFileSystem {
  private val inProcessChmod: Boolean = !NativeIO.isAvailable &&
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
}

/** The FileSystem API's `file:` scheme (`fs.file.impl`): the stock
  * checksummed local filesystem over [[ForklessRawLocalFileSystem]].
  */
class ForklessLocalFileSystem extends LocalFileSystem(new ForklessRawLocalFileSystem)

/** The FileContext API's `file:` scheme (`fs.AbstractFileSystem.file.impl`,
  * Spark's streaming checkpoint and state-store I/O): Hadoop's `LocalFs`
  * over [[ForklessRawLocalFileSystem]]. Like `LocalFs` it ignores `uri` and
  * serves `file:///`; the delegate repeats the overrides of Hadoop's
  * package-private `RawLocalFs`.
  */
class ForklessLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForklessRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }) {

  /** `FileContext.open` calls this overload, which `FilterFs` sends to the
    * raw file and so skips the `.crc` check that `ChecksumFs.open(Path,
    * Int)` makes; route it through the checked one. A file without a
    * sidecar still reads, unchecked, as there.
    */
  override def open(f: Path): FSDataInputStream = open(f, getServerDefaults(f).getFileBufferSize)
}
