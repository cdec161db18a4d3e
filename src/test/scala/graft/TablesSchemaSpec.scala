package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.TestListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, expr, lit}
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.schemaOf` and `Tables.read` give the schema Spark infers for
  * a schema-less `spark.read.parquet`, on every layout the program reads:
  * the fixture files, a TIMESTAMP(MICROS) vintage, a multi-file staged
  * directory, and (through Spark's own inference) a `batch_id=N` delta
  * log; errors are Spark's; and a flat directory's schema costs no job.
  */
class TablesSchemaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.sf

  private def tmp(): String = Files.createTempDirectory("graft_schema").toString

  private def assertSparkSchema(path: String): Unit = {
    val inferred = spark.read.parquet(path).schema
    assert(Tables.schemaOf(spark, path) == inferred, path)
    assert(Tables.read(spark, path).schema == inferred, path)
  }

  test("every fixture table has Spark's inferred schema") {
    Session.install(spark) // nanos-vintage events read as the raw int64
    val tables = new java.io.File(sf).list().filter(_.endsWith(".parquet")).sorted
    assert(tables.length == 10)
    tables.foreach(t => assertSparkSchema(s"$sf/$t"))
  }

  test("a TIMESTAMP(MICROS) events file has Spark's schema and normalizes to nanos") {
    Session.install(spark)
    val out = tmp()
    val key = "spark.sql.parquet.outputTimestampType"
    val before = spark.conf.get(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try spark.range(5).select(col("id").as("event_id"),
        expr("timestamp_micros(1704067200000000 + id * 1000001)").as("ts"),
        (col("id") % 2).as("user_id"))
      .write.mode("overwrite").parquet(out)
    finally spark.conf.set(key, before)
    assertSparkSchema(out)
    assert(Tables.schemaOf(spark, out)("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(Tables.eventsRawNanos(spark, out).where(col("event_id") === 1)
      .select("ts").head().getLong(0) == 1704067201000001000L)
  }

  test("a multi-file staged directory has Spark's schema") {
    val out = tmp()
    Tables.documents(spark, sf).repartition(3).write.mode("overwrite").parquet(out)
    assert(new java.io.File(out).list().count(_.endsWith(".parquet")) == 3)
    assertSparkSchema(out)
  }

  test("a batch_id=N delta log keeps its partition column (Spark's inference)") {
    val out = tmp()
    Seq(1L, 2L).foreach { id =>
      spark.range(3).select(col("id").as("k"), lit("v").as("word"))
        .withColumn("batch_id", lit(id))
        .write.option("partitionOverwriteMode", "dynamic").partitionBy("batch_id")
        .mode("overwrite").parquet(out)
    }
    assertSparkSchema(out)
    assert(Tables.schemaOf(spark, out).fieldNames.toSeq == Seq("k", "word", "batch_id"))
  }

  test("a missing path and an empty directory fail as Spark fails") {
    val empty = tmp()
    Seq(s"$empty/missing.parquet", empty).foreach { p =>
      val expected = intercept[Exception](spark.read.parquet(p).schema).getClass
      assert(intercept[Exception](Tables.schemaOf(spark, p)).getClass == expected, p)
      assert(intercept[Exception](Tables.read(spark, p)).getClass == expected, p)
    }
  }

  test("schemaOf starts no Spark job on a flat directory") {
    val out = tmp()
    Tables.documents(spark, sf).repartition(2).write.mode("overwrite").parquet(out)
    val sc = spark.sparkContext
    val tag = s"graft_schema_${System.nanoTime()}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            Option(p.getProperty("spark.job.tags")).exists(_.contains(tag))))
          jobs.incrementAndGet(): Unit
    }
    def jobsOf(body: => Unit): Int = {
      TestListenerBridge.drain(sc)
      jobs.set(0)
      body
      TestListenerBridge.drain(sc)
      jobs.get()
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      assert(jobsOf(spark.read.parquet(out).schema: Unit) >= 1) // the listener sees inference
      assert(jobsOf(Tables.schemaOf(spark, out): Unit) == 0)
      assert(jobsOf(Tables.read(spark, out).schema: Unit) == 0)
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }
}
