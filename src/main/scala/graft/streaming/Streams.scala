package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.codec.{Tweet, TweetCodec}

/** Structured Streaming surface — the engine's replacement for the
  * reference's Storm topology and DStream graph (SURVEY.md §3: all three
  * reference entry points collapse to readStream → transforms →
  * writeStream with the analyzer/optimizer replacing hand-built graphs).
  *
  * Streaming semantics mapping:
  *   - Storm per-tuple running counts (`StormSpec.scala:55-61`) ⇒
  *     update-mode aggregation: each trigger emits the updated
  *     (key, count) rows — the per-trigger emission sequence is the
  *     analog of per-tuple emissions.
  *   - Storm `globalGrouping` running total (1,2,3,4) ⇒
  *     `flatMapGroupsWithState` running counter emitting each increment.
  *   - DStream 1 s micro-batches + checkpoint
  *     (`KafkaSparkStreamingSpec.scala:79-82`) ⇒ trigger + checkpoint
  *     location per query; state lives in the state store, not in task
  *     memory, so it survives restarts (strictly stronger than the
  *     reference's at-most-once).
  */
object Streams {

  /** A1 streaming: per-word counts over a stream of text lines.
    * Run in update mode: per-trigger emissions are the running counts.
    * The groupBy implies the same hash shuffle `fieldsGrouping("word")`
    * does in the reference; partial aggregation + state store keep
    * shuffle volume at O(distinct words per trigger).
    */
  def wordCount(lines: DataFrame): DataFrame = {
    graft.Session.install(lines.sparkSession) // fork-free checkpoint and sink I/O
    lines.select(explode(split(lower(col("value")), "\\W+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word")
      .count()
  }

  /** A2 streaming: global running count emitting every increment —
    * the exact `TestGlobalCount` semantic (reference `StormSpec.scala:
    * 58-59,104-105`: inputs a,b,c,d ⇒ emissions 1,2,3,4).
    */
  def runningGlobalCount(lines: Dataset[String]): Dataset[Long] = {
    import lines.sparkSession.implicits._
    lines.groupByKey(_ => 0)
      .flatMapGroupsWithState[Long, Long](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Int, rows: Iterator[String], state: GroupState[Long]) =>
          var n = state.getOption.getOrElse(0L)
          val out = rows.map { _ => n += 1; n }.toList
          state.update(n)
          out.iterator
      }
  }

  /** A5 streaming: watermarked tumbling-window counts per event type.
    * Append mode — a window emits once its watermark passes; late rows
    * beyond the delay are dropped (the late-data semantics the
    * reference never had, SURVEY.md §2.6).
    */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("event_type"), col("cnt"))

  /** P1 streaming decode: bytes → Tweet with drop-malformed — the
    * `AvroDecoderBolt` semantics on an unbounded stream.
    */
  def decodeStream(bytes: Dataset[Array[Byte]]): Dataset[Tweet] = {
    import bytes.sparkSession.implicits._
    bytes.flatMap(TweetCodec.decode(_))
  }

  /** Streaming deduplication: exact dedup on key columns with state
    * bounded by the watermark horizon — the incremental form of the
    * batch `Dedup.exactDedup` (state for a key is dropped once the
    * watermark passes its event time; a duplicate arriving later than
    * the lateness bound would be re-admitted, the standard trade).
    */
  def dedupStream(df: DataFrame, timeCol: String, lateness: String,
      keys: String*): DataFrame =
    df.withWatermark(timeCol, lateness)
      .dropDuplicates(keys :+ timeCol)

  /** A4: observable metric counting rows flowing through the stream —
    * the engine's replacement for the reference's consumed/produced
    * accumulators (`KafkaSparkStreamingSpec.scala:194-197`); surfaced
    * per-trigger in `StreamingQueryProgress.observedMetrics`.
    */
  def withRecordCounter(df: DataFrame, name: String = "stats"): DataFrame =
    df.observe(name, count(lit(1)).as("n_records"))
}
