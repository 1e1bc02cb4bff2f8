package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** Checkpoint file manager that writes `file:` checkpoints through
  * Hadoop's FileSystem API and every other scheme through Spark's
  * default FileContext manager.
  *
  * Spark's default goes through `FileContext`/`LocalFs` for local
  * paths; without libhadoop that forks `readlink` on every rename
  * (`FileUtil.readLink`), which made each offset-log, commit-log and
  * state-store commit of a micro-batch cost ~100 ms for a few hundred
  * bytes. The FileSystem manager renames with `File.renameTo` and
  * writes the same files: `.crc` siblings (checksummed
  * `LocalFileSystem`) and, above it, Spark's state-checksum files.
  * Remote checkpoints (HDFS, object stores) keep Spark's default, whose
  * FileContext rename is the atomic overwrite-rename they rely on.
  *
  * Installed by [[graft.plans.GraftExtensions]] through
  * [[LocalCheckpointFileManager.install]]; Spark instantiates it per
  * checkpoint root by reflection with `(Path, Configuration)`. */
class LocalCheckpointFileManager(path: Path, conf: Configuration) extends CheckpointFileManager {
  private val fm = LocalCheckpointFileManager.forPath(path, conf)
  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CheckpointFileManager.CancellableFSDataOutputStream =
    fm.createAtomic(p, overwriteIfPossible)
  override def open(p: Path) = fm.open(p)
  override def list(p: Path, filter: PathFilter) = fm.list(p, filter)
  override def mkdirs(p: Path): Unit = fm.mkdirs(p)
  override def exists(p: Path): Boolean = fm.exists(p)
  override def delete(p: Path): Unit = fm.delete(p)
  override def isLocal: Boolean = fm.isLocal
  override def createCheckpointDirectory(): Path = fm.createCheckpointDirectory()
  override def close(): Unit = fm.close()
}

object LocalCheckpointFileManager {
  /** Spark's `spark.sql.streaming.checkpointFileManagerClass`, read by
    * `CheckpointFileManager.create` from the Hadoop configuration. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** A path without a scheme resolves against `fs.defaultFS`. */
  def isLocalPath(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** The manager for a checkpoint root; for remote schemes the same
    * choice `CheckpointFileManager.create` makes when the conf is unset. */
  def forPath(path: Path, conf: Configuration): CheckpointFileManager =
    if (isLocalPath(path, conf)) new FileSystemBasedCheckpointFileManager(path, conf)
    else try new FileContextBasedCheckpointFileManager(path, conf) catch {
      case _: UnsupportedFileSystemException => new FileSystemBasedCheckpointFileManager(path, conf)
    }

  /** Selects this manager unless the configuration already names one. */
  def install(conf: Configuration): Unit =
    if (conf.get(ConfKey) == null) conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)
}
