package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Degrades gracefully under a wall-budget timeout (round-12 item 1a):
  * oracle_sql.json is written BEFORE the query loop, so a run killed
  * mid-sweep still leaves a usable correctness map for every query dump
  * that finished — round 11 lost 393 green queries to an all-or-nothing
  * write order.
  *
  * Optional `SPARK_GRAFT_VERIFY_PAR=N` (round-12 item 6) runs the
  * query loop on a small thread pool sharing the one SparkSession —
  * queries are independent (each writes its own subdirectory) and the
  * scheduler backfills one query's straggler tail with the next query's
  * tasks (optimization guide §2.6). Unset or N≤1 keeps the exact serial
  * behavior the driver invokes.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing args: run only these queries (local iteration);
    // the driver always calls with exactly two args = full registry.
    val only = args.drop(2).toSet
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Written FIRST: a timeout mid-loop must still yield a (mostly
    // complete) correctness map from the dumps already on disk.
    val json = SparkEntry.oracleSqlFor(sfDir)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val targets = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .toSeq.sortBy(_._1)
    def runOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      try {
        spark.sparkContext.setJobDescription(s"verify: $name")
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally spark.sparkContext.setJobDescription(null)
    }
    val par = sys.env.get("SPARK_GRAFT_VERIFY_PAR")
      .flatMap(_.toIntOption).getOrElse(1)
    if (par <= 1) targets.foreach { case (n, fn) => runOne(n, fn) }
    else {
      // job descriptions are thread-local, so each in-flight query is
      // labelled correctly; FIFO scheduling backfills straggler tails
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      val cs = targets.map { case (n, fn) =>
        pool.submit(new Runnable { def run(): Unit = runOne(n, fn) })
      }
      cs.foreach(_.get())
      pool.shutdown()
    }
    spark.stop()
  }
}
