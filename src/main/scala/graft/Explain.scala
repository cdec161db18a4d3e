package graft

import scala.util.control.NonFatal

/** Plan inspection main: dumps the formatted physical plan of each (or
  * one named) SparkEntry query — the feedback loop for pushdown /
  * broadcast / codegen checks (`sbt "runMain graft.Explain [name] [sfDir]"`).
  * Plans come from the bench's session config ([[Session.local]]) at 4
  * cores.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val targets = name match {
      case Some(n) => SparkEntry.queries.filter(_._1 == n)
      case None => SparkEntry.queries
    }
    targets.toSeq.sortBy(_._1).foreach { case (n, fn) =>
      println(s"\n===================== $n =====================")
      try println(fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case NonFatal(e) => println(s"(failed: ${e.getMessage})") }
    }
    spark.stop()
  }
}
