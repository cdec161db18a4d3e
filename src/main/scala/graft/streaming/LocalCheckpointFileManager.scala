package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Checkpoint file manager for local checkpoints that starts no process.
  *
  * Without libhadoop, Hadoop's local file system runs `chmod` in a forked
  * shell for every file and directory it creates (a checkpoint file and
  * its `.crc` sibling cost two), and the `FileContext` manager Spark
  * picks by default also forks `readlink` twice per rename. A state-store
  * commit thereby forked 4 `chmod` + 8 `readlink`, and all of it is
  * wasted work: the `readlink` runs on the `file:` URI string and always
  * fails.
  *
  * This manager keeps Spark's temp-file + `FileSystem.rename` publish
  * protocol (it IS [[FileSystemBasedCheckpointFileManager]]) over a
  * checksummed local file system whose `setPermission` is a `java.nio`
  * call. Every checkpoint file keeps its `.crc` sibling, verified on read,
  * and Spark's own state-file checksums still wrap the manager. A
  * no-overwrite publish onto an existing file throws Hadoop's
  * `FileAlreadyExistsException` and leaves no temp file behind.
  *
  * Spark builds one manager per checkpoint log and per loaded state-store
  * provider, and loaded providers keep theirs, so every manager shares
  * one file-system instance and one `Configuration` rather than holding
  * a copy of the query's.
  *
  * Spark instantiates it by name from
  * [[LocalCheckpointFileManager.ConfKey]]; [[StreamQueries]]' drain sets
  * that key around each query it runs.
  */
final class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(
      LocalCheckpointFileManager.requireLocal(path, hadoopConf), hadoopConf) {
  override protected val fs: FileSystem = LocalCheckpointFileManager.fs

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

  private def requireLocal(path: Path, conf: Configuration): Path = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    require(scheme == "file",
      s"LocalCheckpointFileManager handles file: checkpoints only, not $path")
    path
  }

  /** `mode`'s rwx bits as `java.nio` permissions (owner read = bit 8). */
  private def posix(mode: Short): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values.zipWithIndex
      .collect { case (p, i) if (mode & (0x100 >> i)) != 0 => p }.toSet.asJava

  private lazy val fs: FileSystem = {
    val raw = new RawLocalFileSystem {
      override def setPermission(p: Path, permission: FsPermission): Unit =
        Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission.toShort)): Unit
    }
    val conf = new Configuration()
    val local = new LocalFileSystem(raw)
    local.setConf(conf)
    local.initialize(URI.create("file:///"), conf)
    local
  }
}
