package graft.streaming

import java.io.File
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free checkpoint manager keeps the guarantees Spark's
  * checkpoint logs and state stores rely on: atomic publish, no silent
  * overwrite, clean cancel, and checksums verified on read.
  *
  * The manager uses the path's own file system, so it runs here under
  * the Hadoop settings an installed session gives it: the stock `file:`
  * file system on this classpath (Hive's `ProxyLocalFileSystem`) does
  * not rename onto an existing file.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  private lazy val conf: Configuration = {
    graft.Session.install(graft.TestSpark.spark)
    graft.TestSpark.spark.sessionState.newHadoopConf()
  }

  private def fresh(): (LocalCheckpointFileManager, File) = {
    val dir = new File(graft.TempDirs.scoped("lcfm"))
    (new LocalCheckpointFileManager(new Path(dir.toURI), conf), dir)
  }

  private def put(fm: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def get(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Every entry in `dir`, hidden temp and `.crc` files included. */
  private def entries(dir: File): Set[String] = dir.list().toSet

  test("publish is atomic: nothing at the final path until close, no temp after") {
    val (fm, dir) = fresh()
    val p = new Path(dir.toURI.toString + "/1")
    val out = fm.createAtomic(p, false)
    out.write("offsets v1".getBytes(UTF_8))
    out.flush()
    assert(!fm.exists(p))
    assert(!new File(dir, "1").exists())
    out.close()
    assert(get(fm, p) == "offsets v1")
    assert(entries(dir) == Set("1", ".1.crc"))
    assert(fm.list(new Path(dir.toURI)).map(_.getPath.getName).toSeq == Seq("1"))
  }

  test("no-overwrite publish onto an existing file throws and leaves it intact") {
    val (fm, dir) = fresh()
    val p = new Path(dir.toURI.toString + "/1")
    put(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException](put(fm, p, "second", overwrite = false))
    assert(get(fm, p) == "first") // read back against its intact .crc
    assert(entries(dir) == Set("1", ".1.crc"), "the losing publish left its temp file")
    put(fm, p, "third", overwrite = true)
    assert(get(fm, p) == "third")
  }

  test("cancel leaves neither the file nor its temp") {
    val (fm, dir) = fresh()
    val p = new Path(dir.toURI.toString + "/1.delta")
    val out = fm.createAtomic(p, false)
    out.write("state delta".getBytes(UTF_8))
    out.cancel()
    assert(!fm.exists(p))
    assert(entries(dir).isEmpty)
  }

  test("the .crc sibling is written and a corrupted file fails on read") {
    val (fm, dir) = fresh()
    val p = new Path(dir.toURI.toString + "/0")
    put(fm, p, "v1\n{\"batchWatermarkMs\":0}", overwrite = false)
    assert(new File(dir, ".0.crc").length() > 0)
    val f = new File(dir, "0").toPath
    val bytes = Files.readAllBytes(f)
    bytes(0) = (bytes(0) ^ 1).toByte
    Files.write(f, bytes)
    intercept[ChecksumException](get(fm, p))
  }

  test("a non-file: checkpoint goes through its own scheme's file system") {
    val dir = new File(graft.TempDirs.scoped("lcfm"))
    val hc = new Configuration(conf)
    hc.setClass("fs.lcfmtest.impl", classOf[SchemeFs], classOf[FileSystem])
    val fm = new LocalCheckpointFileManager(new Path("lcfmtest", null, dir.getPath), hc)
    put(fm, new Path("lcfmtest", null, dir.getPath + "/1"), "remote", overwrite = false)
    // the scheme's unchecksummed file system wrote it, not the local one
    assert(entries(dir) == Set("1"))
    assert(new String(Files.readAllBytes(new File(dir, "1").toPath), UTF_8) == "remote")
  }

  test("Spark's factory builds this manager from the setting Session.install makes") {
    val (_, dir) = fresh()
    val hc = new Configuration(conf)
    hc.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
    val fm = CheckpointFileManager.create(new Path(dir.toURI), hc)
    assert(fm.isInstanceOf[LocalCheckpointFileManager])
    assert(fm.isLocal)
  }
}

/** The local disk under a scheme of its own (`lcfmtest:`) and without
  * checksums, standing in for a remote file system.
  */
class SchemeFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("lcfmtest:///")
  override def getScheme: String = "lcfmtest"
}
