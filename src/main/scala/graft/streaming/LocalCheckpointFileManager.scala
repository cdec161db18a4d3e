package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Checkpoint file manager that starts no process per rename.
  *
  * Spark's default manager goes through `FileContext`, which forks
  * `readlink` twice per rename (on the `file:` URI string, so it always
  * fails). This one IS Spark's [[FileSystemBasedCheckpointFileManager]]
  * (temp file + `FileSystem.rename`) over the path's own file system:
  * on a session that [[graft.Session.install]] set up, a `file:` path
  * resolves to [[graft.io.NioLocalFileSystem]], which forks no `chmod`
  * either and keeps every file's `.crc` sibling, verified on read; any
  * other scheme (`hdfs:`, `s3a:`, ...) is served as Spark would serve
  * it. A no-overwrite publish onto an existing file throws Hadoop's
  * `FileAlreadyExistsException` and leaves no temp file behind.
  *
  * Spark instantiates it by name from [[LocalCheckpointFileManager.ConfKey]],
  * which [[graft.Session.install]] sets for the whole session.
  */
final class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  /** A no-overwrite publish that loses to an existing file also removes
    * its temp file (and the temp's `.crc`): Spark's output stream
    * rethrows without deleting it, so every lost race left both behind.
    */
  override def renameTempFile(srcPath: Path, dstPath: Path,
      overwriteIfPossible: Boolean): Unit =
    try super.renameTempFile(srcPath, dstPath, overwriteIfPossible)
    catch { case e: FileAlreadyExistsException => delete(srcPath); throw e }
}

object LocalCheckpointFileManager {
  /** Spark's (internal) setting naming the checkpoint manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"
}
