package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-point generator: replicate a testdata directory `factor`×,
  * offsetting every entity key by replica·(max+1) so the result is a
  * larger instance of the SAME schema with intact foreign keys — not
  * `factor` disjoint copies glued together from the optimizer's point
  * of view (cross-replica joins stay dense on the shared dimension
  * tables, event timelines overlap, duplicate-text clusters grow
  * `factor`×, exactly as a bigger crawl would look).
  *
  * Usage: runMain graft.tools.ScaleUp <inDir> <outDir> <factor>
  *
  * region/nation stay 1× (dimensions); every fact/entity table explodes
  * a replica index (narrow — no shuffle) and shifts its keys. This is
  * the harness behind SCALING.md's measured 10× point: TESTDATA.md tops
  * out at sf0.1, so the 10× replica is the cheapest honest way to
  * observe how each plan's runtime actually grows.
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, factorS) = args.take(3)
    val spark = graft.Session.local(32)
    try run(spark, inDir, outDir, factorS.toInt)
    finally spark.stop()
  }

  /** Session-borrowing core (the spec drives this; `main` owns its own
    * session lifecycle for CLI use).
    */
  def run(spark: SparkSession, inDir: String, outDir: String,
      factor: Int): Unit = {
    graft.Session.install(spark)
    new java.io.File(outDir).mkdirs()

    def read(t: String): DataFrame =
      graft.Tables.read(spark, s"$inDir/$t.parquet")
    def write(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$outDir/$t.parquet")

    // replica explode: one narrow generator per row, no shuffle
    def reps(df: DataFrame): DataFrame =
      df.withColumn("rep", explode(lit((0 until factor).toArray)))
        .withColumn("rep", col("rep").cast("long"))

    /** max+1 of a key column — the per-replica offset stride. */
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).collect()(0).getLong(0) + 1L

    val (cust, supp, part, ord, li) =
      (read("customer"), read("supplier"), read("part"),
        read("orders"), read("lineitem"))
    val (ev, doc, emb) = (read("events"), read("documents"),
      read("embeddings"))
    val (cS, sS, pS, oS) = (stride(cust, "c_custkey"),
      stride(supp, "s_suppkey"), stride(part, "p_partkey"),
      stride(ord, "o_orderkey"))
    val (eS, uS, dS, vS) = (stride(ev, "event_id"),
      stride(ev, "user_id"), stride(doc, "doc_id"),
      stride(emb, "vec_id"))

    // dimensions: copy through unchanged
    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)

    write(reps(cust)
      .withColumn("c_custkey", col("c_custkey") + col("rep") * cS)
      .drop("rep"), "customer", factor)
    write(reps(supp)
      .withColumn("s_suppkey", col("s_suppkey") + col("rep") * sS)
      .drop("rep"), "supplier", factor)
    write(reps(part)
      .withColumn("p_partkey", col("p_partkey") + col("rep") * pS)
      .drop("rep"), "part", factor)
    write(reps(ord)
      .withColumn("o_orderkey", col("o_orderkey") + col("rep") * oS)
      .withColumn("o_custkey", col("o_custkey") + col("rep") * cS)
      .drop("rep"), "orders", factor)
    write(reps(li)
      .withColumn("l_orderkey", col("l_orderkey") + col("rep") * oS)
      .withColumn("l_partkey", col("l_partkey") + col("rep") * pS)
      .withColumn("l_suppkey", col("l_suppkey") + col("rep") * sS)
      .drop("rep"), "lineitem", 2 * factor)
    // events keep their timestamps: replicas add USERS on the same
    // timeline (sessions/windows per user unchanged, volume ×factor)
    write(reps(ev)
      .withColumn("event_id", col("event_id") + col("rep") * eS)
      .withColumn("user_id", col("user_id") + col("rep") * uS)
      .drop("rep"), "events", factor)
    // documents keep their text: every exact/near-dup cluster grows
    // ×factor, the adversarial case for the dedup family
    write(reps(doc)
      .withColumn("doc_id", col("doc_id") + col("rep") * dS)
      .drop("rep"), "documents", factor)
    write(reps(emb)
      .withColumn("vec_id", col("vec_id") + col("rep") * vS)
      .drop("rep"), "embeddings", factor)

    println(s"SCALEUP done: $inDir x$factor -> $outDir")
  }
}
