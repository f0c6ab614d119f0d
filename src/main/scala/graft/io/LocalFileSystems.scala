package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without the child processes.
  *
  * When the native libhadoop is not loaded, `RawLocalFileSystem` forks
  * `chmod` for every `setPermission` (each file and directory it creates)
  * and `readlink` for every `getFileLinkStatus` (source and target of
  * every FileContext rename, sidecars included). A streaming checkpoint
  * writes and renames a handful of small files per micro-batch, so those
  * forks were most of a batch's fixed cost. The two overrides do in the JVM what native libhadoop would do;
  * everything else — checksums, atomic rename, error types — is the
  * stock class. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The 9 rwx bits through `java.nio` (follows symlinks, like chmod).
    * The sticky bit and non-POSIX stores go to the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val bits = permission.toShort & 0x1ff
      // PosixFilePermission is declared owner-read first: ordinal i is bit 8 - i
      val perms = PosixFilePermission.values.filter(v => (bits & (1 << (8 - v.ordinal))) != 0)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  /** A path that is not a symlink has the status `getFileStatus` gives it
    * (what the stock class returns once `readlink` prints nothing); a
    * symlink keeps the stock resolution of its target. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` (`.crc` sidecars
  * included) over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` — `ChecksumFs`
  * over a raw delegate — with [[NioRawLocalFileSystem]] as the delegate.
  * This is the API Spark's streaming checkpoint manager writes through.
  * `AbstractFileSystem` instantiates it through this constructor; like
  * `LocalFs`, it ignores `uri` and serves `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

/** Mirrors `org.apache.hadoop.fs.local.RawLocalFs`, whose constructors
  * are package-private. */
private class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

object LocalFileSystems {
  /** The Spark settings that route `file:` paths through these classes. */
  val sparkConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)
}
