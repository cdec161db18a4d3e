package lambdabench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}

import graft.SparkEntry
import graft.operators.{Pipeline, TextOps}
import graft.streaming.{Sinks, StreamQueries, Streams}

/** Counts operations and survives only non-fatal failures. A failure while
  * the SparkContext is down is not survived: it ends the run.
  */
final class Ops(spark: SparkSession) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def run[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) if !spark.sparkContext.isStopped =>
        failed += 1
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        System.err.println(s"[lambdabench] $name failed: $e")
        None
    }
  }
}

/** One timed pass: its wall time, the input records it consumed, the
  * durations of its operations, per-query durations, layer numbers that
  * the benchmark reads around its own calls, and facts the checks use.
  */
final case class PassOut(seconds: Double, records: Long, opSeconds: Seq[Double],
    queries: Seq[(String, Double)], layer: Map[String, Double], facts: Map[String, Double])

trait Workload {
  /** Session-side staging that belongs to set-up (input row counts). */
  def stage(): Unit
  /** One pass. Timed passes materialise every output to the `noop` sink;
    * the warm-up pass writes them as parquet under `checkOut` instead.
    */
  def pass(ops: Ops, checkOut: Option[String] = None): PassOut
  /** Isolated layer probes, each materialising one public function's output. */
  def probes(ops: Ops): Map[String, Double]
}

object Workload {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Materialise `df`: to `noop`, or as parquet `name` under `checkOut`. */
  def sink(df: DataFrame, name: String, checkOut: Option[String]): Unit = checkOut match {
    case Some(dir) => df.write.mode("overwrite").parquet(s"$dir/$name")
    case None      => noop(df)
  }

  def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = xs.sorted match {
    case Seq()                  => 0.0
    case s if s.size % 2 == 1   => s(s.size / 2)
    case s                      => (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Median of three timings of `body`, each after a memo eviction. */
  def probe(body: => Unit): Double =
    median(Seq.fill(3) { graft.Memo.evictAll(); secondsOf(body)._2 })

  val tweetSchema: StructType = StructType(Seq(StructField("value", BinaryType)))
}

import Workload._

/** Many small triggers: a backlog of Avro tweets drained one file per
  * trigger through decode → record counter → update-mode word count →
  * pooled sink, then the same arrivals as events through the
  * sessionization drain.
  */
final class TweetStream(spark: SparkSession, data: String, work: String) extends Workload {
  import spark.implicits._
  private val tweets = s"$data/tweets"
  private val events = s"$data/events"
  private var nTweets = 0L
  private var nEvents = 0L
  private var passNo = 0

  def stage(): Unit = {
    nTweets = spark.read.parquet(tweets).count()
    nEvents = spark.read.parquet(events).count()
  }

  private def wordCountQuery(ckpt: String): Array[StreamingQueryProgress] = {
    val bytes = spark.readStream.schema(tweetSchema).option("maxFilesPerTrigger", 1L)
      .parquet(tweets).select("value").as[Array[Byte]]
    val counted = Streams.withRecordCounter(Streams.decodeStream(bytes).toDF(), "stats")
    val q = Streams.wordCount(counted.select(col("text").as("value")))
      .writeStream.outputMode("update")
      .foreachBatch((df: DataFrame, id: Long) => Sinks.sendBatch(df, id))
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.recentProgress
  }

  def pass(ops: Ops, checkOut: Option[String]): PassOut = {
    passNo += 1
    val ckpt = s"$work/ckpt/wordcount-$passNo"
    val conn = Sinks.ConnectionPool.connection
    val (sent0, flush0) = (conn.sent.get, conn.flushes.get)
    val t0 = System.nanoTime()
    val progress = ops.run("tweet_wordcount")(wordCountQuery(ckpt)).getOrElse(Array.empty)
    val t1 = System.nanoTime()
    var t2 = t1
    ops.run("session_stats") {
      val df = StreamQueries.sessionStatsStream(spark, events, Some(1))
      t2 = System.nanoTime()
      sink(df, "sessions", checkOut)
    }
    val t3 = System.nanoTime()
    // per-word counts as the word-count query's state store holds them
    checkOut.foreach(dir => ops.run("state_counts") {
      spark.read.format("statestore").load(ckpt)
        .select(col("key.word").as("word"), col("value.count").as("cnt"))
        .write.mode("overwrite").parquet(s"$dir/state_counts")
    })
    val nRecords = progress.flatMap(p => Option(p.observedMetrics.get("stats")))
      .map(_.getAs[Long]("n_records")).sum
    val inRows = progress.map(_.numInputRows).sum
    val triggerS = progress.map(p => p.durationMs.get("triggerExecution").longValue / 1e3)
    PassOut((t3 - t0) / 1e9, nTweets + nEvents, triggerS.toSeq, Nil,
      Map("drain.call_s" -> (t2 - t1) / 1e9, "drain.reconstruct_s" -> (t3 - t2) / 1e9,
        "sinks.rows_sent" -> (conn.sent.get - sent0).toDouble,
        "sinks.flushes" -> (conn.flushes.get - flush0).toDouble,
        "codec.records_in" -> inRows.toDouble,
        "codec.records_dropped" -> (inRows - nRecords).toDouble),
      Map("n_records" -> nRecords.toDouble, "input_rows" -> inRows.toDouble,
        "dropped" -> (inRows - nRecords).toDouble,
        "rows_sent" -> (conn.sent.get - sent0).toDouble,
        "rows_updated" -> progress.flatMap(_.stateOperators).map(_.numRowsUpdated).sum.toDouble,
        "triggers" -> progress.length.toDouble))
  }

  def probes(ops: Ops): Map[String, Double] = {
    val raw = spark.read.parquet(tweets).select("value").as[Array[Byte]]
    ops.run("probe_codec") {
      val decoded = Pipeline.decodeStage(raw).localCheckpoint(eager = true)
      Map("codec.decode_s" -> probe(noop(Pipeline.decodeStage(raw).toDF())),
        "codec.encode_s" -> probe(noop(Pipeline.encodeStage(decoded).toDF())))
    }.getOrElse(Map.empty)
  }
}

/** Few heavy operations: the batch layer recomputed over a master dataset
  * split into many files, plus the streaming twins' few large triggers.
  */
final class LambdaBatch(spark: SparkSession, data: String) extends Workload {
  import spark.implicits._
  private val log = s"$data/tweets"
  private var records = 0L

  def stage(): Unit =
    records = Seq(log, s"$data/events.parquet", s"$data/documents.parquet")
      .map(spark.read.parquet(_).count()).sum

  private def raw = spark.read.schema(tweetSchema).parquet(log).as[Array[Byte]]

  def pass(ops: Ops, checkOut: Option[String]): PassOut = {
    val acc = spark.sparkContext.longAccumulator("corrupt")
    val ops0 = mutable.ArrayBuffer.empty[(String, Double)]
    var call = 0.0
    var reconstruct = 0.0
    def timed(name: String)(body: => Unit): Unit =
      ops.run(name)(secondsOf(body)._2).foreach(s => ops0 += name -> s)
    val t0 = System.nanoTime()
    timed("tweet_wordcount") {
      val wc = Streams.wordCount(
        Pipeline.decodeStage(raw, Some(acc)).select(col("text").as("value")))
      sink(wc, "tweet_wordcount", checkOut)
    }
    val corrupt = acc.value.longValue
    timed("tweet_reencode")(noop(Pipeline.encodeStage(Pipeline.decodeStage(raw)).toDF()))
    LambdaBatch.queries.foreach { q =>
      timed(q)(sink(SparkEntry.queries(q)(spark, data), q, checkOut))
    }
    LambdaBatch.twins.foreach { q =>
      timed(q) {
        val (df, c) = secondsOf(SparkEntry.queries(q)(spark, data))
        val (_, r) = secondsOf(sink(df, q, checkOut))
        call += c; reconstruct += r
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    PassOut(wall, records, ops0.map(_._2).toSeq, ops0.toSeq,
      Map("drain.call_s" -> call, "drain.reconstruct_s" -> reconstruct,
        "codec.records_dropped" -> corrupt.toDouble),
      Map("corrupt" -> corrupt.toDouble))
  }

  def probes(ops: Ops): Map[String, Double] = {
    val codec = ops.run("probe_codec") {
      val decoded = Pipeline.decodeStage(raw).localCheckpoint(eager = true)
      Map("codec.records_in" -> raw.count().toDouble,
        "codec.decode_s" -> probe(noop(Pipeline.decodeStage(raw).toDF())),
        "codec.encode_s" -> probe(noop(Pipeline.encodeStage(decoded).toDF())))
    }
    // the tokenizer over `documents` (Tables.spread decides its fan-out)
    val text = ops.run("probe_text") {
      val docs = graft.Tables.documents(spark, data)
      Map("text.tokens" -> TextOps.tokens(docs).count().toDouble,
        "text.tokenize_s" -> probe(noop(TextOps.tokens(docs))))
    }
    codec.getOrElse(Map.empty) ++ text.getOrElse(Map.empty)
  }
}

object LambdaBatch {
  val queries = Seq("wordcount", "codec_roundtrip", "codec_corrupt_drop", "ev_interval_count",
    "ev_hourly_counts", "ev_lambda_diff")
  val twins = Seq("stream_interval_count")
}
