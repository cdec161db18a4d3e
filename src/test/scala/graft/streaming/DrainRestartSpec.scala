package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** A drain stopped after k triggers and restarted on the same checkpoint
  * reaches the batch answer: the restarted query reads its offset log,
  * commit log, file-source log and state-store deltas back through
  * [[LocalCheckpointFileManager]] and continues where the first left off.
  */
class DrainRestartSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf
  private val Files4 = 4

  /** `documents.text` as `Files4` parquet files with ascending mtimes, so
    * a one-file-per-trigger drain takes them in a fixed order.
    */
  private lazy val staged: Seq[java.nio.file.Path] = {
    val tmp = graft.TempDirs.scoped("restart_stage")
    spark.read.parquet(s"$sf/documents.parquet").select(col("text").as("value"))
      .repartition(Files4).write.mode("overwrite").parquet(tmp)
    val parts = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".parquet")).sortBy(_.toString).toSeq
    assert(parts.size == Files4)
    parts.zipWithIndex.foreach { case (p, i) => p.toFile.setLastModified(1000L * (i + 1)) }
    parts
  }

  private def batchAnswer: Set[(String, Long)] =
    Streams.wordCount(spark.read.parquet(staged.map(_.toString): _*)).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet

  test("a drain stopped after k triggers and restarted on its checkpoint equals batch") {
    val key = LocalCheckpointFileManager.ConfKey
    val schema = spark.read.parquet(staged.head.toString).schema
    for (k <- 1 until Files4) {
      val src = Paths.get(graft.TempDirs.scoped(s"restart_src$k"))
      val log = graft.TempDirs.scoped(s"restart_log$k")
      val ckpt = graft.TempDirs.scoped(s"restart_ckpt$k")
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      def arrive(files: Seq[java.nio.file.Path]): Unit = files.foreach { p =>
        val dst = src.resolve(p.getFileName)
        Files.copy(p, dst, StandardCopyOption.COPY_ATTRIBUTES)
      }
      def run(): Long = {
        val counts = Streams.wordCount(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1L).parquet(src.toString))
        StreamQueries.drain(counts, ckpt)(_.outputMode("update")
          .foreachBatch { (batch: DataFrame, id: Long) =>
            seen.add(batch.sparkSession.conf.get(key, "unset"))
            StreamQueries.appendDeltaBatch(batch, id, log)
          }).recentProgress.count(_.numInputRows > 0).toLong
      }
      arrive(staged.take(k))
      assert(run() == k)
      arrive(staged.drop(k))
      assert(run() == Files4 - k, s"k=$k: the restart replayed or skipped input")
      // update mode emits a word's running count; the latest is the largest
      val streamed = spark.read.parquet(log).groupBy("word").agg(max("count"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(streamed == batchAnswer, s"k=$k")
      assert(seen.size == Files4 &&
        seen.toArray.forall(_ == classOf[LocalCheckpointFileManager].getName))
      assert(spark.conf.get(key) == classOf[LocalCheckpointFileManager].getName,
        "the manager is a session setting")
      assert(Files.exists(Paths.get(ckpt, "state", "0")), "no state store was written")
    }
  }
}
