package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException, OutputStream}
import scala.util.control.NonFatal
import java.nio.file.{Files, NoSuchFileException, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException,
  FileStatus, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import graft.core.{LocalFiles, NioRawLocalFileSystem}

/** A checkpoint file manager whose `file:` paths start no process.
  *
  * Spark's default for a local checkpoint is `FileContext` over Hadoop's
  * checksummed local file system. Without native Hadoop that starts a
  * `chmod` for each temp file it creates and each directory it makes, and
  * `readlink`s for each rename. Every trigger writes offset, commit and
  * source-log files, so the micro-batch thread waits on those processes.
  *
  * On a `file:` path this manager keeps the files, names and atomicity
  * and does the work in the JVM (`java.io` streams, NIO moves, links,
  * modes and listings):
  *  - `createAtomic` writes a hidden temp file named as Spark names it
  *    (`.<name>.<uuid>.tmp`) with Hadoop's file mode, and publishes it on
  *    `close()`; `cancel()` deletes it;
  *  - with overwrite it publishes with an atomic move;
  *  - without overwrite it publishes with a hard link, then deletes the
  *    temp file. Of two writers of one file, exactly one wins; the other
  *    fails with `FileAlreadyExistsException`, as `FileContext`'s rename
  *    makes it;
  *  - it writes no `.crc`; `delete` removes one a `FileContext` manager
  *    left, and `list` hides it as that manager does.
  *
  * Every other scheme gets what `CheckpointFileManager.create` picks:
  * `FileContext`, falling back to `FileSystem` where the scheme has no
  * `FileContext`. Install it on a session with [[LocalCheckpointFileManager.install]].
  */
class LocalCheckpointFileManager(path: Path, conf: Configuration) extends CheckpointFileManager {
  private val impl: CheckpointFileManager =
    if (LocalFiles.isLocal(path, conf)) new LocalCheckpointFileManager.Nio(path, conf)
    else try new FileContextBasedCheckpointFileManager(path, conf)
    catch { case _: UnsupportedFileSystemException => new FileSystemBasedCheckpointFileManager(path, conf) }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()

  /** The manager this one delegates `path`'s operations to. */
  private[graft] def delegate: CheckpointFileManager = impl
}

object LocalCheckpointFileManager {

  /** Spark's session key for the checkpoint manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Have the streaming queries `spark` starts from now on use this
    * manager, unless the session (or its Hadoop configuration) already
    * names one: an explicit setting wins. Session-wide, which is safe
    * only because the manager is a drop-in: the same files and names, the
    * same atomicity, and every non-local path unchanged. */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty &&
        spark.sparkContext.hadoopConfiguration.get(ConfKey) == null)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)

  /** `name`'s checksum file as Hadoop's checksummed file systems name it. */
  private def crcOf(p: java.nio.file.Path): java.nio.file.Path =
    p.resolveSibling(s".${p.getFileName}.crc")

  private def isCrc(name: String): Boolean = name.startsWith(".") && name.endsWith(".crc")

  /** NIO's missing-file and existing-file errors as the Hadoop exceptions
    * Spark's checkpoint code catches. */
  private def hadoopErrors[T](body: => T): T =
    try body catch {
      case e: NoSuchFileException =>
        throw new FileNotFoundException(e.getMessage).initCause(e)
      case e: java.nio.file.FileAlreadyExistsException =>
        throw new FileAlreadyExistsException(s"${e.getFile} already exists").initCause(e)
    }

  /** Writes `temp`; `close()` publishes it as `dst`, `cancel()` drops
    * it. Either ends the stream: later calls do nothing. */
  private final class AtomicOut(out: OutputStream, temp: java.nio.file.Path,
      dst: java.nio.file.Path, overwrite: Boolean) extends CancellableFSDataOutputStream(out) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          out.close()
          hadoopErrors {
            if (overwrite) {
              // a checksum a FileContext manager left would not match the new bytes
              Files.deleteIfExists(crcOf(dst))
              Files.move(temp, dst, StandardCopyOption.ATOMIC_MOVE)
            } else {
              // a link, unlike rename(2), fails when the name exists
              Files.createLink(dst, temp)
              Files.delete(temp)
            }
          }
        } catch { case e: Throwable => Files.deleteIfExists(temp); throw e }
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try out.close() catch { case NonFatal(_) => () }
        finally Files.deleteIfExists(temp)
      }
    }
  }

  /** The `file:` implementation. */
  private final class Nio(root: Path, conf: Configuration) extends CheckpointFileManager {
    private val raw = {
      val fs = new NioRawLocalFileSystem
      fs.initialize(java.net.URI.create("file:///"), conf)
      fs
    }
    private val umask = FsPermission.getUMask(conf)
    private val fileMode = LocalFiles.posix(FsPermission.getFileDefault.applyUMask(umask))
    private val dirMode = LocalFiles.posix(FsPermission.getDirDefault.applyUMask(umask))

    private def local(p: Path): java.nio.file.Path = raw.pathToFile(p).toPath

    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val dst = local(p)
      val temp = dst.resolveSibling(tempName(p))
      // a FileOutputStream, as Hadoop's local file system uses, not an NIO
      // channel: a channel write fails once the micro-batch thread is
      // interrupted (`query.stop()`), where Hadoop's stream finishes it
      val out = new java.io.FileOutputStream(temp.toFile)
      try Files.setPosixFilePermissions(temp, fileMode)
      catch { case e: Throwable => out.close(); Files.deleteIfExists(temp); throw e }
      new AtomicOut(new BufferedOutputStream(out, 64 * 1024), temp, dst, overwriteIfPossible)
    }

    /** Spark's temp-file name for `p` (`CheckpointFileManager`'s). */
    private def tempName(p: Path): String = {
      val tid = Option(org.apache.spark.TaskContext.get).fold("")(t => s".TID${t.taskAttemptId}")
      s".${p.getName}.${java.util.UUID.randomUUID}$tid.tmp"
    }

    override def open(p: Path): FSDataInputStream = raw.open(p)

    override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
      val dir = local(p)
      val entries = hadoopErrors(Files.list(dir))
      val qualified = raw.makeQualified(p)
      try entries.iterator().asScala.filterNot(e => isCrc(e.getFileName.toString)).flatMap { e =>
        val child = new Path(qualified, e.getFileName.toString)
        if (!filter.accept(child)) None
        else try {
          val a = Files.readAttributes(e, classOf[java.nio.file.attribute.BasicFileAttributes])
          Some(new FileStatus(a.size, a.isDirectory, 1, raw.getDefaultBlockSize(child),
            a.lastModifiedTime.toMillis, child))
        } catch { case _: NoSuchFileException => None } // deleted since the listing
      }.toArray
      finally entries.close()
    }

    override def mkdirs(p: Path): Unit = {
      val d = local(p)
      val missing = Iterator.iterate(d)(_.getParent).takeWhile(a => a != null && !Files.isDirectory(a))
        .toList.reverse
      hadoopErrors(Files.createDirectories(d))
      missing.foreach(Files.setPosixFilePermissions(_, dirMode))
    }

    override def exists(p: Path): Boolean = Files.exists(local(p))

    override def delete(p: Path): Unit = {
      val f = local(p)
      if (Files.isDirectory(f)) raw.delete(p, true)
      else {
        Files.deleteIfExists(f)
        Files.deleteIfExists(crcOf(f))
      }
    }

    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      val qualified = raw.makeQualified(root)
      mkdirs(qualified)
      qualified
    }
  }
}
