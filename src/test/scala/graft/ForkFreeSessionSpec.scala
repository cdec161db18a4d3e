package graft

import java.net.URI
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.io.NioLocalFileSystem
import graft.streaming.LocalCheckpointFileManager

/** A session built elsewhere (with `SparkSession.builder`, as a user or
  * a benchmark harness builds one) gets fork-free local I/O from
  * [[Session.install]]: `file:` resolves to [[NioLocalFileSystem]] even
  * though Hadoop's default `file:` instance is already cached, streaming
  * checkpoints use [[LocalCheckpointFileManager]] even for a query
  * started outside `StreamQueries.drain`, and the files written carry
  * the permissions Hadoop's own local file system gives them, under the
  * session's umask.
  */
class ForkFreeSessionSpec extends AnyFunSuite {

  /** A new session on the running context, built by the plain builder. */
  private lazy val spark: SparkSession = {
    val shared = TestSpark.spark
    // Hadoop's stock `file:` file system is in FileSystem's cache already
    FileSystem.get(URI.create("file:///"), shared.sparkContext.hadoopConfiguration)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = try SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
    assert(s ne shared)
    Session.install(s)
    s
  }

  /** A session on the same context that was never installed. */
  private def stock: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "2")
    s
  }

  /** Permissions of every file and directory under `root`, by relative
    * path with file-name ids folded to `#`.
    */
  private def modes(root: String): Map[String, String] = {
    val r = Paths.get(root)
    Files.walk(r).iterator().asScala.filter(_ != r).map { (p: Path) =>
      r.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "#") ->
        java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap
  }

  test("file: resolves to the fork-free file system through the session's Hadoop conf") {
    val hc = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(URI.create("file:///"), hc).isInstanceOf[NioLocalFileSystem])
    assert(new HPath(TempDirs.scoped("ffs_fs")).getFileSystem(hc).isInstanceOf[NioLocalFileSystem])
    assert(!FileSystem.get(URI.create("file:///"), stock.sessionState.newHadoopConf())
      .isInstanceOf[NioLocalFileSystem], "install reached a session it was not given")
  }

  test("Spark's checkpoint factory returns the local manager for the installed session") {
    val dir = new HPath(new java.io.File(TempDirs.scoped("ffs_ckpt")).toURI)
    val fm = CheckpointFileManager.create(dir, spark.sessionState.newHadoopConf())
    assert(fm.isInstanceOf[LocalCheckpointFileManager])
  }

  test("checkpoint files take the session's umask") {
    val s = spark.newSession()
    Session.install(s)
    s.conf.set("fs.permissions.umask-mode", "077")
    val dir = TempDirs.scoped("ffs_umask")
    val fm = CheckpointFileManager.create(new HPath(new java.io.File(dir).toURI), s.sessionState.newHadoopConf())
    val out = fm.createAtomic(new HPath(new java.io.File(dir, "0").toURI), false)
    out.write(1)
    out.close()
    assert(modes(dir) == Map("0" -> "rw-------", ".0.crc" -> "rw-------"))
  }

  test("a parquet write leaves the permissions Hadoop's local file system sets") {
    def write(s: SparkSession): Map[String, String] = {
      val out = TempDirs.scoped("ffs_parquet") + "/t"
      s.range(0, 100, 1, 3).withColumn("k", col("id") % 2)
        .write.partitionBy("k").parquet(out)
      modes(out)
    }
    val forkFree = write(spark)
    assert(forkFree.keySet.exists(_.endsWith(".parquet")) && forkFree.keySet.exists(_.endsWith(".crc")))
    assert(forkFree == write(stock))
  }

  test("a writeStream word count started outside the drain checkpoints with Hadoop's permissions") {
    val src = TempDirs.scoped("ffs_src")
    spark.createDataFrame(Seq("a b a", "c b", "a c d").map(Tuple1(_))).toDF("value")
      .repartition(3).write.mode("overwrite").parquet(src)
    def count(s: SparkSession): Map[String, String] = {
      val ckpt = TempDirs.scoped("ffs_stream_ckpt")
      val words = s.readStream.schema("value STRING").option("maxFilesPerTrigger", 1L)
        .parquet(src).select(explode(split(col("value"), " ")).as("word"))
      val q = words.groupBy("word").count()
        .writeStream.outputMode("update")
        .format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      assert(q.recentProgress.count(_.numInputRows > 0) == 3)
      modes(ckpt)
    }
    val forkFree = count(spark)
    assert(Seq("offsets/2", "commits/2", "state/0/0/3.delta", "state/0/0/.3.delta.crc")
      .forall(forkFree.contains), forkFree.keySet.toSeq.sorted.mkString(", "))
    assert(forkFree == count(stock))
  }
}
