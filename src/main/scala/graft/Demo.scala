package graft

/** Read-only demo main — the engine's analog of the reference's
  * `KafkaStormDemo` (`storm/topologies/KafkaStormDemo.scala:78-86`):
  * spins up a local session and runs the flagship capabilities
  * end-to-end on the smallest SF, printing a compact summary.
  *
  * `sbt "runMain graft.Demo [sfDir]"`
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")

    println(s"== graft demo @ $sfDir")

    val rt = operators.Pipeline.roundTrip(spark, sfDir)
    println(s"codec round-trip: ${rt.count()} records decoded back to identity")

    val wc = operators.TextOps.wordCount(spark, sfDir)
    println("word count (top 5):")
    wc.orderBy(org.apache.spark.sql.functions.col("cnt").desc).limit(5)
      .collect().foreach(r => println(f"  ${r.getString(0)}%-12s ${r.getLong(1)}"))

    val diff = operators.EventOps.lambdaDiff(spark, sfDir)
    val lost = diff.agg(org.apache.spark.sql.functions.sum("lost"))
      .collect()(0).getLong(0)
    println(s"lambda reconciliation: $lost records lost by the speed layer")

    val dups = operators.Dedup.minhashLsh(spark, sfDir).count()
    println(s"minhash LSH: $dups near-duplicate pairs")

    val topk = operators.Similarity.bruteForceTopK(spark, sfDir)
    println(s"similarity: top-5 neighbors for ${topk.select("q_id").distinct().count()} query vectors")

    spark.stop()
  }
}
