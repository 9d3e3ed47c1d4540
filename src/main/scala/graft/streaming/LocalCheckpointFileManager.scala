package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataInputStream, LocalFileSystem, Path, PathFilter, RawLocalFileSystem, UnsupportedFileSystemException}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager of graft sessions (`Sessions.configs` sets
  * `spark.sql.streaming.checkpointFileManagerClass` to it), so the offset
  * log, the commit log and the state store's delta, snapshot and checksum
  * files of every stream go through it.
  *
  * Why: Spark's default, `FileContextBasedCheckpointFileManager`, runs on
  * Hadoop's local file system, which without Hadoop's native library
  * forks a `chmod` for every file it creates (the file and its `.crc`)
  * and a `readlink` for every symlink check: about 5 child processes per
  * checkpoint file, each costing far more than the write and rename it
  * serves. A complete-mode WordCount writes an offset file, a commit
  * file and a delta file per state partition on every trigger.
  *
  * What it does, by the scheme of the checkpoint path (a path without one
  * takes `fs.defaultFS`'s):
  *  - `file:` — Spark's `FileSystemBasedCheckpointFileManager` over
  *    Hadoop's checksummed `LocalFileSystem`, one uncached instance per
  *    manager, whose raw file system sets the umask-applied mode through
  *    `Files.setPosixFilePermissions` instead of forking `chmod`. So the
  *    publish is still a temp file renamed with rename(2),
  *    `createAtomic(p, overwriteIfPossible = false)` still throws
  *    `FileAlreadyExistsException` when `p` exists, every file keeps its
  *    `.crc` sidecar (verified on read), and files and directories get
  *    the modes Spark's default manager gives them (644 and 755 under
  *    the default umask 022). The checkpoint layout does not change, so a
  *    checkpoint written by either manager restarts under the other.
  *  - any other scheme — what Spark picks with no class set:
  *    `FileContextBasedCheckpointFileManager`, or
  *    `FileSystemBasedCheckpointFileManager` for a file system without a
  *    `FileContext` binding.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[streaming] val delegate: CheckpointFileManager =
    if (LocalCheckpointFileManager.isFileScheme(path, hadoopConf))
      new FileSystemBasedCheckpointFileManager(path, LocalCheckpointFileManager.forkFree(hadoopConf))
    else
      try new FileContextBasedCheckpointFileManager(path, hadoopConf)
      catch {
        case _: UnsupportedFileSystemException =>
          new FileSystemBasedCheckpointFileManager(path, hadoopConf)
      }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {

  private def isFileScheme(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** A copy of `conf` under which `file:` resolves to a new, uncached
    * [[ForkFreeLocalFileSystem]].
    */
  private def forkFree(conf: Configuration): Configuration = {
    val c = new Configuration(conf)
    c.setClass("fs.file.impl", classOf[ForkFreeLocalFileSystem], classOf[FileSystem])
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }

  /** Hadoop's checksummed local file system over [[ForkFreeRawLocalFileSystem]]. */
  class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

  /** `RawLocalFileSystem` whose `setPermission`, which every file create
    * and directory create calls with the umask already applied, uses
    * java.nio instead of forking `chmod`. NIO cannot set the sticky bit,
    * so that case stays with Hadoop's own code.
    */
  class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL))
  }
}
