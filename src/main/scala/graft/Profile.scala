package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Per-job profiler main — runs named SparkEntry queries (2 reps: cold
  * then steady) with a listener that records every Spark job's wall
  * time and description, so "where do this query's seconds go" is
  * answered with evidence instead of guesses (guide §1.1 empirical
  * loop; the UI is disabled in this harness, this is its substitute).
  *
  *   sbt "runMain graft.Profile stream_exact_substr sketch_dyadic_range"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.put(js.jobId, (js.time,
          Option(js.properties.getProperty("spark.job.description")).getOrElse("")))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val st = starts.remove(je.jobId)
        if (st != null) jobs.add((je.jobId, je.time - st._1, st._2)): Unit
      }
    })

    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case NonFatal(_) => () }

    for (name <- args; rep <- 1 to 2) {
      jobs.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      val js = {
        import scala.jdk.CollectionConverters._
        jobs.asScala.toSeq.sortBy(_._1)
      }
      val jobSum = js.map(_._2).sum / 1e3
      println(f"PROFILE $name rep$rep wall=$wall%.2f s jobs=${js.size} jobSum=$jobSum%.2f s")
      if (rep == 2) js.foreach { case (id, ms, desc) =>
        println(f"  job $id%4d ${ms / 1e3}%7.3f s  $desc")
      }
    }
    spark.stop()
  }
}
