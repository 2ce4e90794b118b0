package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Streaming checkpoint file manager that [[graft.Sessions.builder]]
  * installs through `spark.sql.streaming.checkpointFileManagerClass`.
  *
  * On Hadoop's `LocalFileSystem` it delegates to Spark's own
  * `FileSystemBasedCheckpointFileManager`: write a temp file, then
  * `FileSystem.rename` it into place. Spark's default there is the
  * `FileContext` manager, whose rename resolves links on every path it
  * checks; without the native Hadoop library each check forks a
  * `readlink` process. That sits on the driver's offset/commit log and
  * in every state-store commit task, so each micro-batch paid for
  * well over a hundred forks (measured in [[graft.Sessions]]).
  *
  * Every other filesystem (HDFS, S3, …) gets exactly the manager
  * `CheckpointFileManager.create` picks without this key, so cluster
  * behaviour is unchanged. The checkpoint layout is the same either
  * way: `.crc` sidecars come from `LocalFileSystem` itself, and
  * Spark's checkpoint checksums wrap whichever manager this returns.
  *
  * Commit semantics match the default's on a local filesystem:
  * `createAtomic(overwrite = false)` fails with
  * `FileAlreadyExistsException` when the file is already there, and an
  * overwrite deletes the old file before the rename. */
class LocalFsCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[streaming] val delegate: CheckpointFileManager =
    if (path.getFileSystem(hadoopConf).isInstanceOf[LocalFileSystem])
      new LocalFsCheckpointFileManager.Renaming(path, hadoopConf)
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(LocalFsCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def list(p: Path): Array[FileStatus] = delegate.list(p)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalFsCheckpointFileManager {
  /** The session key Spark reads the manager class from. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Spark's FileSystem manager, overwriting the way its FileContext
    * manager does on a local filesystem: delete the target, then
    * rename. Spark's Hive-enabled builds register Hive's
    * `ProxyLocalFileSystem` for `file:`, whose rename refuses an
    * existing target, so the plain FileSystem manager would silently
    * keep the old file when a retried batch rewrites a state delta. */
  private[streaming] final class Renaming(path: Path, hadoopConf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
    override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit = {
      if (overwriteIfPossible) fs.delete(dst, false)
      super.renameTempFile(src, dst, overwriteIfPossible)
    }
  }
}
