package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system with one change: `setPermission` sets
  * the mode bits through NIO. Without native Hadoop, the stock class
  * starts a `chmod` process for it, and it calls `setPermission` on every
  * `create` (data file and `.crc`) and on every directory `mkdirs` makes.
  * The mode is the one Hadoop computes (its default with
  * `fs.permissions.umask-mode` applied); a sticky bit, which NIO cannot
  * express, still goes through Hadoop.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFiles.posix(permission))
}

/** [[NioRawLocalFileSystem]] under Hadoop's checksummed local file
  * system, so every file keeps its `.crc` sibling. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** graft's own control files (ledger parquet, manifests, control markers)
  * on `file:` paths go through [[NioLocalFileSystem]]: the same files,
  * names, modes and write protocol as Hadoop's local file system, and no
  * process started. It is never registered in a session's configuration
  * or in the JVM-wide `FileSystem` cache; every other scheme keeps its
  * own Hadoop file system.
  */
object LocalFiles {

  /** Whether `p` resolves to the `file:` scheme under `conf`. */
  def isLocal(p: Path, conf: Configuration): Boolean =
    Option(p.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** The checksummed file system graft writes `p` through: a new
    * [[NioLocalFileSystem]] for a `file:` path, else `p`'s own. */
  def checksummed(p: Path, conf: Configuration): FileSystem =
    if (!isLocal(p, conf)) p.getFileSystem(conf)
    else {
      val fs = new NioLocalFileSystem
      fs.initialize(java.net.URI.create("file:///"), conf)
      fs
    }

  /** Map `file:` to [[NioLocalFileSystem]] on `conf`, a configuration the
    * caller owns, for writers that take a path rather than a file system.
    * The cache is off for the scheme on `conf` only: the JVM-wide cache
    * keys a file system by scheme, not by configuration. */
  def mapLocalScheme(conf: Configuration): Unit = {
    conf.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
  }

  /** The `rwxrwxrwx` bits of `permission` as NIO permissions. */
  def posix(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val bits = permission.toShort & 0x1ff
    // PosixFilePermission's order is the mode's bit order, owner read first
    PosixFilePermission.values().filter(p => (bits & (0x100 >> p.ordinal)) != 0).toSet.asJava
  }
}
