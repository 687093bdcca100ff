package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** Checkpoint files (offset and commit logs, state-store deltas) for
  * `file:` checkpoint locations without a process fork per file. Without
  * Hadoop's native library, `RawLocalFileSystem.setPermission` runs
  * `/bin/chmod` for every file, `.crc` sibling and directory it creates,
  * which was most of a micro-batch's commit time. Here the mode is set by
  * [[NioRawLocalFileSystem]]; the checksummed `LocalFileSystem` and Spark's
  * `FileSystemBasedCheckpointFileManager` (rename-based atomic writes,
  * cancel, errors) are used as they are. Any other scheme gets Spark's
  * default manager. Registered through [[graft.Sessions.checkpointFiles]]. */
class LocalCheckpointFileManager(path: Path, conf: Configuration) extends CheckpointFileManager {
  private val fm: CheckpointFileManager = {
    val c = new Configuration(conf)
    if (Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file") {
      c.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
      // Hadoop caches file systems by scheme and user, not by conf: a
      // cached stock instance would otherwise be handed back
      c.setBoolean("fs.file.impl.disable.cache", true)
      new FileSystemBasedCheckpointFileManager(path, c)
    } else {
      c.unset(graft.Sessions.checkpointFiles._1)
      CheckpointFileManager.create(path, c)
    }
  }

  def createAtomic(p: Path, overwriteIfPossible: Boolean): CheckpointFileManager.CancellableFSDataOutputStream =
    fm.createAtomic(p, overwriteIfPossible)
  def open(p: Path) = fm.open(p)
  def list(p: Path, filter: PathFilter) = fm.list(p, filter)
  def mkdirs(p: Path): Unit = fm.mkdirs(p)
  def exists(p: Path): Boolean = fm.exists(p)
  def delete(p: Path): Unit = fm.delete(p)
  def isLocal: Boolean = fm.isLocal
  def createCheckpointDirectory(): Path = fm.createCheckpointDirectory()
  override def close(): Unit = fm.close()
}

/** Hadoop's checksummed local file system over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` that sets rwx permission bits with one chmod
  * syscall; a mode with the sticky bit takes Hadoop's own path. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode >> 9) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      // declared owner r,w,x, group r,w,x, others r,w,x: bits 8 down to 0
      PosixFilePermission.values.zipWithIndex
        .collect { case (b, i) if (mode & (1 << (8 - i))) != 0 => b }.toSet.asJava)
  }
}
