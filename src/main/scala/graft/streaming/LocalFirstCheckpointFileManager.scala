package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataInputStream, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** Checkpoint renames that stay in-process on local disk.
  *
  * Spark's default manager writes checkpoints through Hadoop's FileContext.
  * Without the native libhadoop, FileContext on the local file system
  * shells out for its symlink check: every rename forks `readlink`, 440
  * forks in one `remote_write_wide` benchmark run. This manager dispatches
  * by the checkpoint path's scheme:
  *   - `file` (or a scheme-less path on a local default file system) goes
  *     to Spark's `FileSystemBasedCheckpointFileManager`, whose rename is
  *     `File.renameTo` — atomic within one local file system, no fork;
  *   - every other scheme goes to the manager Spark picks by default
  *     (FileContext-based wherever Hadoop offers a FileContext).
  * Both write the same files under the same names, so a checkpoint written
  * by either manager resumes under the other. Both still fork `chmod` for
  * each file they create: Hadoop's local file system sets the default
  * permission through a shell when libhadoop is absent.
  */
class LocalFirstCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    else {
      val defaults = new Configuration(hadoopConf)
      defaults.unset(LocalFirstCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, defaults)
    }
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
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

object LocalFirstCheckpointFileManager {
  /** Spark's own key for the checkpoint manager class; set on streaming
    * sessions by [[StreamSession.prepare]]. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"
}
