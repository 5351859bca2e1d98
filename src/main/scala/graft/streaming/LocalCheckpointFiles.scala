package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataInputStream, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The streaming checkpoint file manager every graft session installs
  * (`spark.sql.streaming.checkpointFileManagerClass`, set in
  * [[graft.GraftSession.builder]]): offset and commit logs, the file-source
  * log and both state stores write through it.
  *
  * For a `file:` location it is Spark's own
  * `FileSystemBasedCheckpointFileManager`: write a temp file, then
  * `FileSystem.rename`, which on the local FS is one `File.renameTo`.
  * Spark's default, the FileContext manager, renames through
  * `AbstractFileSystem.rename`; on the local FS that probes link status
  * (source, destination, its parent) several times per file, and Hadoop
  * without its native library answers each probe by forking `readlink`.
  * The write protocol is unchanged: `renameTo` is an atomic POSIX
  * `rename(2)`, a non-overwriting write still refuses an existing
  * destination at `close()` (the offset log's guard against a second
  * writer), and an overwriting one replaces it (see [[LocalManager]]).
  * Hadoop's checksummed local FS still writes the `.crc` sidecars.
  *
  * Every other scheme (HDFS, object stores) gets exactly what
  * `CheckpointFileManager.create` picks with the setting unset: the
  * FileContext manager, whose rename is atomic on HDFS, with Spark's own
  * fallback when the scheme has no `AbstractFileSystem`.
  */
class LocalCheckpointFiles(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val underlying: CheckpointFileManager =
    if (LocalCheckpointFiles.isLocal(path, hadoopConf))
      new LocalCheckpointFiles.LocalManager(path, hadoopConf)
    else {
      val sparkDefault = new Configuration(hadoopConf)
      sparkDefault.unset(LocalCheckpointFiles.ConfKey)
      CheckpointFileManager.create(path, sparkDefault)
    }

  override def createAtomic(path: Path,
                            overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(path, overwriteIfPossible)
  override def open(path: Path): FSDataInputStream = underlying.open(path)
  override def list(path: Path, filter: PathFilter): Array[FileStatus] =
    underlying.list(path, filter)
  override def list(path: Path): Array[FileStatus] = underlying.list(path)
  override def mkdirs(path: Path): Unit = underlying.mkdirs(path)
  override def exists(path: Path): Boolean = underlying.exists(path)
  override def delete(path: Path): Unit = underlying.delete(path)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFiles {
  /** The Spark SQL key naming the manager class; Spark reads it from the
    * session's Hadoop configuration.
    */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Spark's FileSystem-based manager, except that `overwriteIfPossible`
    * replaces an existing destination. The `file:` FileSystem on Spark's
    * classpath (Hive's `ProxyLocalFileSystem`) refuses to rename onto an
    * existing file, which Spark's contract accepts as a best effort; the
    * FileContext manager deletes the destination and then renames
    * (`AbstractFileSystem.renameInternal`), so a replayed batch rewrites
    * its state files, and this does the same.
    */
  private[graft] class LocalManager(path: Path, hadoopConf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
    override def renameTempFile(srcPath: Path, dstPath: Path,
                                overwriteIfPossible: Boolean): Unit = {
      if (overwriteIfPossible) fs.delete(dstPath, false)
      super.renameTempFile(srcPath, dstPath, overwriteIfPossible)
    }
  }

  /** A scheme-less path resolves against `fs.defaultFS`, as Hadoop does. */
  private def isLocal(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"
}
