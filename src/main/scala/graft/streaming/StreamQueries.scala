package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Driver-contract entries that exercise the streaming engine end-to-end:
  * a file-source stream is run to completion with `Trigger.AvailableNow`
  * and the FINAL state is returned — which is exactly batch-SQL
  * expressible, so these streaming queries are DuckDB-oracle-checked
  * like everything else (SURVEY.md §5: "streaming queries are verified
  * on final state").
  *
  * This is the lambda-architecture reconciliation claim made concrete:
  * the speed layer (incremental, stateful, micro-batched) must converge
  * to the batch layer's answer on the same data.
  */
object StreamQueries {

  private def uniq(prefix: String): String =
    prefix + "_" + java.util.UUID.randomUUID().toString.replace("-", "")

  private def ckpt(): String = graft.TempDirs.scoped("graft_ckpt")

  /** The one way the program runs a streaming query: `sink` configures
    * the writer (output mode, sink), and the query drains all available
    * input with `Trigger.AvailableNow` into `checkpoint` (a fresh scoped
    * dir by default) and has terminated when this returns.
    *
    * The session is [[graft.Session.install]]ed first, so the
    * checkpoint's offset log, commit log, file-source log and state
    * store go through [[LocalCheckpointFileManager]] and start no
    * process per file. The drain scopes no setting itself: a registered
    * query's state sizing is the registry's scope ([[queries]]) around
    * the whole query, not something a caller wraps around its drain.
    */
  private[streaming] def drain(df: DataFrame, checkpoint: String = ckpt())(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): StreamingQuery = {
    graft.Session.install(df.sparkSession)
    val q = sink(df.writeStream)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** Read a fixture file for staging, normalizing `events.ts` to the
    * canonical epoch-nanos BIGINT (see [[graft.Tables.eventsRawNanos]])
    * so every staged/streamed copy carries the contract schema
    * regardless of the testdata vintage's physical timestamp type.
    */
  private def stagingFrame(s: SparkSession, path: String) =
    if (path.endsWith("/events.parquet")) graft.Tables.eventsRawNanos(s, path)
    else graft.Tables.read(s, path)

  /** Stage a table as N parquet files so AvailableNow with
    * `maxFilesPerTrigger = 1` genuinely drains it across N triggers —
    * every registered streaming query runs MULTI-trigger, so the state
    * store carries real cross-batch state, not a single replay batch.
    *
    * Memoized per (path, n, content fingerprint): several contract
    * queries drain the same table at the same split, and re-writing the
    * full staged copy per query is pure setup cost (each query still
    * gets its own checkpoint, so sharing the source DIRECTORY is safe —
    * the file-stream source tracks progress per checkpoint, not per
    * directory).
    */
  private val stagedDirs =
    scala.collection.concurrent.TrieMap.empty[(String, Int, String), String]

  private def stageAsDirParts(s: SparkSession, path: String, n: Int): String = {
    graft.Session.install(s) // events read as raw int64 nanos
    val fp = graft.Tables.fingerprintPath(path)
    stagedDirs.getOrElseUpdate((path, n, fp), {
      val d = graft.TempDirs.scoped("graft_stream_src")
      stagingFrame(s, path).repartition(n).write.mode("overwrite").parquet(d)
      d
    })
  }

  /** `path` staged as `parts` files ([[stageAsDirParts]]), or as
    * `parts` identical copies of the whole table when `copies` is set
    * ([[stageAsDirCopies]]), read back as a file stream with the staged
    * files' schema, one file per trigger: the source of every registered
    * streaming query.
    */
  private def stagedStream(s: SparkSession, path: String, parts: Int,
      copies: Boolean = false): DataFrame = {
    val dir =
      if (copies) stageAsDirCopies(s, path, parts) else stageAsDirParts(s, path, parts)
    s.readStream.schema(graft.Tables.schemaOf(s, dir))
      .option("maxFilesPerTrigger", 1).parquet(dir)
  }

  /** Open shuffle-partition scopes per session: (depth, the value from
    * before the outermost scope began).
    */
  private val stateScopes =
    scala.collection.mutable.HashMap.empty[SparkSession, (Int, String)]

  /** Run `body` with the session's shuffle-partition count at `n`.
    * Scopes that overlap on one session (queries run from several
    * threads) share the setting, and the last one to end restores the
    * value from before the first one began.
    */
  private[streaming] def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    stateScopes.synchronized {
      val (depth, before) = stateScopes.getOrElse(s, (0, s.conf.get(key)))
      stateScopes(s) = (depth + 1, before)
      s.conf.set(key, n.toString)
    }
    try body finally stateScopes.synchronized {
      val (depth, before) = stateScopes(s)
      if (depth > 1) stateScopes(s) = (depth - 1, before)
      else { stateScopes -= s; s.conf.set(key, before) }
    }
  }

  /** `obs`'s metrics. They arrive on the listener bus after the action
    * returns, normally within milliseconds. If the optimizer removed the
    * `CollectMetrics` node, Spark 4.1 still completes the observation,
    * with an empty map, so such a metric is missing from the map. If no
    * completion arrives in 2 minutes (an event the bus dropped), this
    * throws a `TimeoutException`.
    */
  private def observed(obs: org.apache.spark.sql.Observation): Map[String, Any] = {
    scala.concurrent.Await.ready(obs.future, scala.concurrent.duration.Duration(2, "min"))
    obs.get
  }

  /** One delta-log batch write: the micro-batch's rows land in the
    * `batch_id=<id>` partition via DYNAMIC partition overwrite, so a
    * replayed batch (failure before the checkpoint commit) REPLACES its
    * own partition instead of appending a duplicate copy — idempotent
    * for both update-mode and append-mode logs. Package-visible so the
    * replay spec can drive it directly.
    */
  private[streaming] def appendDeltaBatch(batch: DataFrame, id: Long,
      log: String): Unit =
    batch.withColumn("batch_id", lit(id))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .mode("overwrite")
      .parquet(log)

  /** The scale-safe streaming sink used by EVERY registered streaming
    * query (the `stream_mv_counts` pattern promoted to the default): each
    * trigger's emitted rows land in a parquet delta log partitioned by
    * batch id — an idempotent, replay-safe write ([[appendDeltaBatch]])
    * that never materializes final state in driver memory the way a
    * complete-mode memory sink does. The final view is reconstructed
    * latest-batch-wins per key (update mode), or as the plain union of
    * batches (append mode, `keyCols` empty). At 100× keyspace both the
    * log write and the reconstruction are distributed; the driver holds
    * nothing.
    */
  private def runDeltaLog(df: DataFrame, mode: String,
      keyCols: Seq[String]): DataFrame = {
    val s = df.sparkSession
    val log = graft.TempDirs.scoped("graft_delta_log")
    drain(df)(_.outputMode(mode).foreachBatch { (batch: DataFrame, id: Long) =>
      appendDeltaBatch(batch, id, log)
    })
    // explicit schema: a query whose every trigger emitted zero rows
    // leaves an empty log dir, which must reconstruct as an EMPTY
    // frame, not a schema-inference error (e.g. an arriving snapshot
    // with no same-batch near-dups)
    val raw = s.read
      .schema(df.schema.add("batch_id", org.apache.spark.sql.types.LongType))
      .parquet(log)
    if (keyCols.isEmpty) raw.drop("batch_id")
    else {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("batch_id").desc)
      raw.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
        .drop("__rn", "batch_id")
    }
  }

  /** Streaming word count over `documents`, drained across multiple
    * triggers (update mode ⇒ each trigger emits only the words it
    * changed, with their cumulative counts from the state store); the
    * delta-log reconstruction must equal the batch word count's answer.
    */
  def streamWordCount(s: SparkSession, dir: String): DataFrame = {
    val lines = stagedStream(s, s"$dir/documents.parquet", 2)
      .select(col("text").as("value"))
    runDeltaLog(Streams.wordCount(lines), "update", Seq("word"))
      .withColumnRenamed("count", "cnt")
  }

  /** Streaming interval count over `events` — the A5 query shape on the
    * incremental engine, final state compared against the batch oracle.
    */
  def streamIntervalCount(s: SparkSession, dir: String): DataFrame = {
    val lo = 1704844800000000000L // 2024-01-10T00:00:00Z in epoch nanos
    val hi = 1705708800000000000L // 2024-01-20T00:00:00Z
    val ev = stagedStream(s, s"$dir/events.parquet", 2)
      .filter(col("ts") >= lo && col("ts") < hi)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    runDeltaLog(ev, "update", Seq("event_type"))
  }

  /** Per-user sessionization state: sessions fully closed by the
    * watermark (counts only) plus the still-open session intervals
    * (start, end, nEvents — sorted, disjoint by more than the gap).
    * State size is O(open sessions per user), the answer's own
    * granularity — NOT O(buffered events), which is what a
    * sort-and-fold-per-batch design would need to be order-robust.
    */
  case class SessionState(closedSessions: Long, closedEvents: Long,
      open: List[(Long, Long, Long)])

  /** Merge a batch of event timestamps (any order) into gap-separated
    * session intervals. Sessionization is connected components on the
    * time line (adjacent iff gap ≤ 30 min), so interval merging is
    * ORDER-INDEPENDENT — events may arrive shuffled across triggers and
    * the result is identical to the batch sorted-gap fold. This is what
    * makes the streaming query converge to `EventOps.sessionStatsSql`
    * under any trigger split (the round-2 version sorted only within a
    * batch and was correct only for single-trigger replays).
    */
  private[streaming] def mergeIntervals(open: List[(Long, Long, Long)],
      batch: Array[Long], gapNs: Long): List[(Long, Long, Long)] = {
    java.util.Arrays.sort(batch)
    val all = (open.iterator ++ batch.iterator.map(t => (t, t, 1L)))
      .toArray.sortBy(iv => (iv._1, iv._2))
    if (all.isEmpty) return Nil
    val out = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long)]
    var cur = all(0)
    var i = 1
    while (i < all.length) {
      val nx = all(i)
      if (nx._1 - cur._2 <= gapNs)
        cur = (cur._1, math.max(cur._2, nx._2), cur._3 + nx._3)
      else { out += cur; cur = nx }
      i += 1
    }
    out += cur
    out.toList
  }

  /** Streaming sessionization through `flatMapGroupsWithState`: per-user
    * open-session intervals merged incrementally (order-independent, see
    * [[mergeIntervals]]), with watermark-gated closing — an interval
    * whose end is more than the session gap below the event-time
    * watermark can never merge with a future on-time event (all future
    * events have ts ≥ watermark, and no open interval can extend back
    * past the watermark either), so it collapses to O(1) closed
    * counters. `disorderBound` is the watermark delay — the contract for
    * how out-of-order the input may be; events later than that get the
    * standard watermark treatment (their session accounting may already
    * be closed). The registered query uses a delay wider than the
    * fixture's time span, so the bounded replay is exact under ANY file
    * order — which the multi-trigger shuffled-order spec pins.
    *
    * Closing runs inside data batches only, and the function never sets
    * a timeout, so the query declares `NoTimeout`: an event-time timeout
    * would only add a trailing no-data micro-batch that calls the
    * function for no key. The watermark reaches the function either way.
    */
  def sessionStatsStream(s: SparkSession, srcDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      disorderBound: String = "365 days",
      closedCounter: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val reader0 = s.readStream.schema(graft.Tables.schemaOf(s, srcDir))
    val reader = maxFilesPerTrigger.fold(reader0)(n =>
      reader0.option("maxFilesPerTrigger", n.toLong))
    val ev = reader.parquet(srcDir)
      .select($"user_id", $"ts".as("ts_ns"), // raw nanos long (schema col name is ts)
        expr("timestamp_micros(ts div 1000)").as("ts_t"))
      .withWatermark("ts_t", disorderBound)
      .as[(Long, Long, java.sql.Timestamp)]
    val gapNs = 1800L * 1000000000L
    val out = ev.groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, (Long, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)],
            state: GroupState[SessionState]) =>
          val st = state.getOption.getOrElse(SessionState(0L, 0L, Nil))
          val merged =
            mergeIntervals(st.open, rows.map(_._2).toArray, gapNs)
          val wmNs = state.getCurrentWatermarkMs() * 1000000L
          val (closed, open) =
            if (wmNs > 0) merged.partition(_._2 + gapNs < wmNs)
            else (Nil, merged)
          closedCounter.foreach(_.add(closed.size))
          val next = SessionState(
            st.closedSessions + closed.size,
            st.closedEvents + closed.map(_._3).sum,
            open)
          state.update(next)
          Iterator((user,
            next.closedSessions + open.size,
            next.closedEvents + open.map(_._3).sum))
      }
      .toDF("user_id", "n_sessions", "n_events")
    runDeltaLog(out, "update", Seq("user_id"))
      .select("user_id", "n_sessions", "n_events")
  }

  /** Driver-contract entry: events staged as 4 shuffled files drained
    * one per trigger — sessions genuinely accumulate across 4 state-store
    * updates with arbitrary cross-batch time order, and the final view
    * still equals the batch lag-gap sessionization oracle.
    */
  def streamSessionStats(s: SparkSession, dir: String): DataFrame =
    sessionStatsStream(s, stageAsDirParts(s, s"$dir/events.parquet", 4),
      maxFilesPerTrigger = Some(1))

  /** Stream-stream interval join as a driver-contract query: purchases
    * join every click by the same user within the preceding hour, both
    * sides arriving as independent file streams with watermarks (the
    * state-cleanup contract), append mode. With AvailableNow over the
    * staged input the emitted set is exactly the batch interval join —
    * the DuckDB oracle. Timestamps are truncated to µs on BOTH sides
    * (DuckDB reads the nanos parquet column truncated to µs), so the
    * interval comparisons are exact integer µs comparisons.
    */
  def streamClickAttribution(s: SparkSession, dir: String): DataFrame =
    clickAttribution(s, dir, "inner")

  /** Purchases joined to the same user's clicks in the preceding hour,
    * as a `joinType` stream-stream join with both sides watermarked at
    * 2 hours, drained append-mode. Each side is its own stream over the
    * one-file staged events.
    */
  private def clickAttribution(s: SparkSession, dir: String,
      joinType: String): DataFrame = {
    import s.implicits._
    def src(): DataFrame = stagedStream(s, s"$dir/events.parquet", 1)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("timestamp_micros(ts div 1000)").as("tsu"))
    val p = src().where($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id".as("p_user"),
        $"tsu".as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val c = src().where($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id".as("c_user"),
        $"tsu".as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val joined = p.join(c,
      expr("""p_user = c_user AND
             |c_ts <= p_ts AND c_ts >= p_ts - INTERVAL 1 HOUR""".stripMargin),
      joinType)
      .select($"purchase_id", $"click_id")
    // append mode: each trigger's newly-joinable pairs land in the delta
    // log once; the final view is the plain union of batches
    runDeltaLog(joined, "append", Nil)
  }

  val streamClickAttributionSql: String =
    """SELECT p.event_id AS purchase_id, c.event_id AS click_id
      |FROM events p JOIN events c ON p.user_id = c.user_id
      |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
      |  AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR""".stripMargin

  /** Stream-stream LEFT OUTER join — the subtle half of streaming join
    * semantics: matched pairs emit immediately (the inner results), but
    * a NULL-padded row for an unmatched purchase can only emit once the
    * watermark proves no future click can still match (all future
    * c_ts ≥ wm > p_ts), i.e. on state eviction. Under AvailableNow the
    * final no-data batch advances the watermark to max-event-time − 2 h
    * and flushes exactly the evictable unmatched rows; purchases
    * younger than that horizon remain in state and legitimately never
    * emit — the oracle restates that boundary explicitly
    * (click IS NOT NULL OR p_ts below the final watermark), which is
    * the contract a downstream consumer of an outer streaming join must
    * understand at any scale.
    */
  def streamAttributionOuter(s: SparkSession, dir: String): DataFrame =
    clickAttribution(s, dir, "left_outer")

  /** The oracle's watermark term restates Spark's exactly: each side's
    * watermark tracks the max event time OF THAT FILTERED SIDE (the
    * `withWatermark` sits after the type filter), the global watermark
    * is the min of the two, and event-time stats are floored to
    * milliseconds before the delay is subtracted. An oracle written
    * against max(ts) over ALL events would over-evict — the global max
    * is usually a non-purchase/non-click event the stream never saw.
    */
  val streamAttributionOuterSql: String =
    """WITH purch AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |clk AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      |wm AS (
      |  SELECT (least(
      |      (SELECT max(epoch_ns(ts)) FROM purch),
      |      (SELECT max(epoch_ns(ts)) FROM clk)
      |    ) // 1000000 - 7200000) * 1000 AS wm_us)
      |SELECT p.event_id AS purchase_id, c.event_id AS click_id
      |FROM purch p LEFT JOIN clk c ON p.user_id = c.user_id
      |  AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
      |WHERE c.event_id IS NOT NULL
      |   OR epoch_ns(p.ts) // 1000 < (SELECT wm_us FROM wm)""".stripMargin

  /** Streaming exact dedup over `documents`: the batch dedup's
    * (hash, norm) keep-min aggregation on the incremental engine,
    * complete mode — per-key aggregation is arrival-order-insensitive
    * (unlike streaming dropDuplicates, which keeps the first arrival),
    * so the final state equals the batch `dedup_exact` oracle under any
    * trigger split. Extends the lambda-convergence claim to the dedup
    * family.
    */
  def streamDedupExact(s: SparkSession, dir: String): DataFrame = {
    val docs = stagedStream(s, s"$dir/documents.parquet", 2)
      .select(col("doc_id"),
        trim(regexp_replace(lower(col("text")), "\\s+", " ")).as("norm"))
      .groupBy(graft.functions.FnvHash64.fnv_hash64(col("norm")).as("text_hash"),
        col("norm"))
      .agg(min(col("doc_id")).as("kept_doc_id"),
        count(lit(1)).as("n_copies"))
    runDeltaLog(docs, "update", Seq("text_hash", "norm"))
      .select("kept_doc_id", "n_copies")
  }

  /** Streaming hourly windowed counts — the time-window aggregation on
    * the incremental engine (tumbling `window()` + watermark). Update
    * mode (not append) because the trailing window never closes under a
    * bounded replay: the watermark stops at max-event-time − delay, so
    * append would hold back the final hour forever; update emits every
    * changed window each trigger and latest-batch-wins reconstruction
    * yields the final per-window counts — the batch `ev_hourly_counts`
    * oracle.
    */
  def streamHourlyCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lo = 1704412800000000000L // 2024-01-05T00:00:00Z epoch nanos
    val hi = 1704499200000000000L // 2024-01-06T00:00:00Z
    val ev = stagedStream(s, s"$dir/events.parquet", 2)
      .filter(col("ts") >= lo && col("ts") < hi)
      .select(col("event_type"),
        expr("timestamp_micros(ts div 1000)").as("ts_t"))
      .withWatermark("ts_t", "365 days") // > fixture span: shuffled-file
      // replay must not drop the out-of-order tail as late
      .groupBy(window($"ts_t", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("cnt"))
      .select(date_format($"window.start", "yyyy-MM-dd HH:mm").as("hour"),
        $"event_type", $"cnt")
    runDeltaLog(ev, "update", Seq("hour", "event_type"))
  }

  /** Incremental materialized-view maintenance — the lambda serving
    * layer as a contract query. The events stream is staged as FOUR
    * files and drained with `maxFilesPerTrigger = 1`, so the update-mode
    * aggregation genuinely runs across multiple triggers; each trigger's
    * changed keys (with their cumulative counts from the state store)
    * are APPENDED to a parquet delta log stamped with the batch id — an
    * idempotent, replay-safe sink write (re-running a batch rewrites the
    * same rows). The view is reconstructed as latest-batch-wins per key
    * and must equal the batch aggregate — the oracle.
    */
  def streamMvCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val agg = stagedStream(s, s"$dir/events.parquet", 4)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("cnt"))
    runDeltaLog(agg, "update", Seq("event_type"))
      .select($"event_type", $"cnt")
  }

  val streamMvCountsSql: String =
    """SELECT event_type, count(*) AS cnt
      |FROM events GROUP BY event_type""".stripMargin

  /** Streaming HyperLogLog — cardinality maintenance as an update-mode
    * register table: each micro-batch folds its rows into the fixed
    * (event_type, idx) registers with MAX (the HLL merge IS max, so
    * update-mode streaming state is the sketch — bounded at 4096 longs
    * per key no matter how many events stream past, the canonical
    * "distinct users right now" dashboard shape). The drained register
    * table finalizes through the SAME closing expression as the batch
    * sketch and must equal it bit-for-bit — the oracle IS the batch
    * `sketch_hll_users` SQL, making the lambda-reconciliation claim
    * for an approximate, mergeable state for the first time (counts
    * and sessions prove it for exact state).
    */
  def streamHllUsers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (idx, mv) = graft.operators.Sketches.hllRowSignals($"user_id")
    val regs = stagedStream(s, s"$dir/events.parquet", 4)
      .select($"event_type", idx.as("idx"), mv.as("mv"))
      .groupBy($"event_type", $"idx")
      .agg(max($"mv").as("m_val"))
    val table = runDeltaLog(regs, "update", Seq("event_type", "idx"))
      .select($"event_type", $"idx", $"m_val")
    val est = graft.operators.Sketches.hllFinalize(table, Seq("event_type"))
    val exact = graft.Tables.events(s, dir)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("exact_users"))
    exact.join(est, "event_type")
      .select($"event_type", $"exact_users", $"hll_est", $"n_regs")
  }

  /** Streaming LSH signature ingest: the vector-pipeline shape where
    * embeddings stream in and their multi-table hyperplane signatures
    * are computed AT INGEST (the native `hyperplane_sigs` codegen
    * expression running inside the micro-batch plan — feature
    * computation is a stateless narrow map, so the stream needs no state
    * store at all), landing in the append-mode delta log that a
    * downstream near-dup/ANN index consumes incrementally. Final log ==
    * the batch signature table, which the oracle restates with the
    * size-derived planes as literals.
    */
  def streamEmbeddingSigs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (npt, planes) = graft.operators.Similarity.ndParams(s, dir)
    val ev = stagedStream(s, s"$dir/embeddings.parquet", 2)
      .select($"vec_id",
        posexplode(graft.functions.HyperplaneSigs.sigs(
          $"embedding", planes, graft.operators.Similarity.NdTables, npt))
          .as(Seq("t", "sig")))
    runDeltaLog(ev, "append", Nil)
  }

  /** Train batch, score stream — the model-apply-at-ingest contract:
    * the k-means centroids come from the BATCH fit
    * ([[graft.operators.KMeans.trainedCentroids]], memoized per corpus
    * fingerprint — the model artifact), and every streamed vector is
    * scored by a STATELESS narrow map (k literal centroid arrays, k
    * sequential-fold distances, argmin via `array_min` over
    * (d, k) structs — deterministic ties, no state store, no window).
    * Only the 8-key cluster-count aggregate holds state. Drained log ==
    * one batch assignment of the whole collection against the final
    * centroids, which the oracle restates by unrolling the fit plus one
    * extra assignment pass.
    */
  def streamKmeansAssign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = graft.operators.KMeans.trainedCentroids(s, dir)
    val scored = cents.map { case (k, c) =>
      struct(
        aggregate(
          zip_with($"embedding", typedlit(c),
            (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
          lit(0.0), (acc, x) => acc + x).as("d"),
        lit(k).as("k"))
    }
    val counts = stagedStream(s, s"$dir/embeddings.parquet", 2)
      .select(array_min(array(scored: _*)).getField("k").as("cluster"))
      .groupBy($"cluster")
      .agg(count(lit(1)).as("n_vecs"))
    runDeltaLog(counts, "update", Seq("cluster"))
      .select($"cluster", $"n_vecs")
  }

  /** Streaming IVF-PQ index ingestion — building the composed ANN
    * index ([[graft.operators.Similarity.ivfPqTopK]]) incrementally at
    * arrival time: each streamed vector is coarse-assigned to its
    * inverted-file cell AND product-quantized, both as STATELESS narrow
    * maps against the memoized model artifacts (coarse centroids as
    * literal arrays folded with the same left-to-right zip_with the
    * batch kernel uses; codes via the native `pq_encode` codegen
    * expression). Only the per-cell rollup holds state: (n_vecs,
    * positional-checksum sum) — an order-independent integer pair, so
    * the drained log equals one batch pass exactly, which the generated
    * oracle restates with the identical parameter doubles. At 100 TB
    * this is the shape that matters: ingest cost is O(row) with zero
    * shuffle before the K-row state, and cell counts are precisely the
    * inverted-list length histogram an index server needs for probe
    * planning.
    */
  def streamIvfPqIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val Sim = graft.operators.Similarity
    val icents = Sim.ivfCentroids(s, dir)
    val cbs = Sim.pqCodebooks(s, dir)
    val scored = icents.zipWithIndex.map { case (c, k) =>
      struct(
        aggregate(
          zip_with($"embedding", typedlit(c.toSeq),
            (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
          lit(0.0), (acc, x) => acc + x).as("d"),
        lit(k).as("k"))
    }
    val checksum = aggregate(
      zip_with(
        graft.functions.PqEncode.pq_encode($"embedding", cbs),
        typedlit(Sim.PqChecksumMults.toSeq),
        (c, m) => c.cast("long") * m),
      lit(0L), (a, x) => a + x)
    val cells = stagedStream(s, s"$dir/embeddings.parquet", 2)
      .select(array_min(array(scored: _*)).getField("k").as("cell"),
        checksum.as("csum"))
      .groupBy($"cell")
      .agg(count(lit(1)).as("n_vecs"), sum($"csum").as("code_checksum"))
    runDeltaLog(cells, "update", Seq("cell"))
      .select($"cell", $"n_vecs", $"code_checksum")
  }

  /** Per-bucket LSH state: the (doc_id, signature) members seen so far
    * in one band bucket. Bounded by construction — LSH band keys spread
    * the corpus across O(distinct signatures) buckets, so membership is
    * the bucket's collision count, not the corpus; [[NearDupMaxBucket]]
    * hard-caps it as backpressure against a degenerate key (at which
    * point the bucket is saturated and further members are compared but
    * not retained — production would also TTL members by event-time
    * watermark once the upstream guarantees bounded disorder).
    */
  case class NearDupState(members: List[(Long, Array[Long])])

  val NearDupMaxBucket = 4096

  /** Estimated Jaccard of two MinHash signatures: the share of equal slots. */
  private def estJaccard(a: Array[Long], b: Array[Long]): Double = {
    var m = 0; var i = 0
    while (i < a.length) { if (a(i) == b(i)) m += 1; i += 1 }
    m.toDouble / a.length
  }

  /** Streaming MinHash-LSH near-dup dedup — the keep/drop decision made
    * AT INGEST, across triggers, with per-bucket bounded state:
    * signatures are computed in the micro-batch plan (the same native
    * `minhash_sig` codegen expression the batch pipeline uses — a
    * stateless narrow map), each document fans out to its 16 band-bucket
    * keys, and a `flatMapGroupsWithState` keyed on the bucket compares
    * each arrival against the bucket's members, emitting a DROP decision
    * (victim = larger doc_id, witness = smaller) whenever the full-
    * signature estimated Jaccard clears the batch pipeline's 0.5 bar.
    *
    * Drop decisions are MONOTONE facts (a near-dup pair, once both sides
    * have arrived, stays a near-dup forever), so they append to the
    * delta log and the final keep set — every document minus the
    * distinct victims — is arrival-order-independent and equals the
    * batch [[graft.operators.Dedup.minhashLsh]] keep set exactly: same
    * shingles, same 64 permutations, same banding, same verification
    * threshold, which is what the DuckDB oracle restates.
    */
  def streamNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val bands = graft.functions.Hashing.Bands
    val rpb = graft.functions.Hashing.RowsPerBand
    val sigs = stagedStream(s, s"$dir/documents.parquet", 4)
      .select($"doc_id",
        graft.functions.MinHashSigExpr.minhash_sig($"text").as("sig"))
      .where($"sig".isNotNull)
    // band index folded into the key so cross-band value collisions
    // can't alias (the batch join keys on (band, bucket) identically)
    val bandKeys = array((0 until bands).map { b =>
      concat_ws(":", lit(b.toString) +:
        (1 to rpb).map(r => element_at($"sig", b * rpb + r).cast("string")): _*)
    }: _*)
    val keyed = sigs
      .select($"doc_id", $"sig", explode(bandKeys).as("bkey"))
      .select($"bkey", $"doc_id", $"sig")
      .as[(String, Long, Array[Long])]
    val drops = keyed.groupByKey(_._1)
      .flatMapGroupsWithState[NearDupState, (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[(String, Long, Array[Long])],
            state: GroupState[NearDupState]) =>
          var members = state.getOption.map(_.members).getOrElse(Nil)
          val out = scala.collection.mutable.ListBuffer.empty[(Long, Long, Double)]
          rows.foreach { case (_, docId, sig) =>
            members.foreach { case (mId, mSig) =>
              if (mId != docId) {
                val e = estJaccard(sig, mSig)
                if (e >= 0.5)
                  out += ((math.max(docId, mId), math.min(docId, mId), e))
              }
            }
            if (members.size < NearDupMaxBucket)
              members = (docId, sig) :: members
          }
          state.update(NearDupState(members))
          out.iterator
      }
      .toDF("victim_doc_id", "witness_doc_id", "est_jaccard")
    val victims = runDeltaLog(drops, "append", Nil)
      .select($"victim_doc_id").distinct()
    graft.Tables.documents(s, dir).select($"doc_id")
      .join(victims, $"doc_id" === $"victim_doc_id", "left_anti")
      .select($"doc_id".as("kept_doc_id"))
  }

  /** Stage a table as N IDENTICAL file copies — a duplicated feed (the
    * at-least-once upstream a streaming dedup exists to absorb). Keyed
    * negative-n in the memo so it can't collide with the repartition
    * staging above.
    */
  private def stageAsDirCopies(s: SparkSession, path: String, n: Int): String = {
    import java.nio.file._
    val fp = graft.Tables.fingerprintPath(path)
    stagedDirs.getOrElseUpdate((path, -n, fp), {
      // normalize once through the staging frame (events.ts → nanos
      // BIGINT), then duplicate the single written part file n times
      val one = Paths.get(stageAsDirParts(s, path, 1))
      val part = Files.list(one).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      val d = Paths.get(graft.TempDirs.scoped("graft_stream_src"))
      (1 to n).foreach { i =>
        Files.copy(part, d.resolve(s"copy_$i.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      }
      d.toString
    })
  }

  /** Stream-static enrichment join — the dimension-lookup shape: the
    * events stream joins a STATIC per-user profile (computed from the
    * batch table) each micro-batch, then aggregates enriched counts.
    * No join state store at all: the static side is re-planned per
    * trigger and (when small) broadcast — at 100 TB of stream the state
    * cost is still only the downstream aggregate's keyspace, which is
    * why enrichment joins should be stream-static, not stream-stream,
    * whenever the dimension is slowly-changing.
    */
  def streamStaticEnrich(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val profile = graft.Tables.events(s, dir)
      .groupBy($"user_id")
      .agg((count(lit(1)) >= 30).as("heavy"))
    val ev = stagedStream(s, s"$dir/events.parquet", 2)
      .join(profile, Seq("user_id"))
      .groupBy($"event_type", $"heavy")
      .agg(count(lit(1)).as("cnt"))
    runDeltaLog(ev, "update", Seq("event_type", "heavy"))
  }

  val streamStaticEnrichSql: String =
    """WITH prof AS (
      |  SELECT user_id, count(*) >= 30 AS heavy
      |  FROM events GROUP BY user_id)
      |SELECT e.event_type, p.heavy, CAST(count(*) AS BIGINT) AS cnt
      |FROM events e JOIN prof p USING (user_id)
      |GROUP BY 1, 2""".stripMargin

  /** Watermark-bounded streaming dedup: the input is deliberately a
    * DUPLICATED feed (two identical file copies drained one per
    * trigger — an at-least-once upstream), and
    * `dropDuplicatesWithinWatermark` must emit each event exactly once.
    * Unlike plain `dropDuplicates`, whose key state grows forever, the
    * within-watermark variant EVICTS state older than the watermark —
    * the only shape whose state is bounded on an unbounded stream,
    * which is the difference between a demo and a deployable dedup at
    * 100 TB/day. The fixture watermark exceeds the replay span, so
    * bounded-state semantics coincide with exact global dedup and the
    * batch table is the oracle.
    */
  def streamDropdupWatermark(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val deduped = stagedStream(s, s"$dir/events.parquet", 2, copies = true)
      .select($"event_id", $"event_type",
        expr("timestamp_micros(ts div 1000)").as("ts_t"))
      .withWatermark("ts_t", "365 days")
      .dropDuplicatesWithinWatermark("event_id")
    runDeltaLog(deduped.select($"event_id", $"event_type"), "append", Nil)
  }

  val streamDropdupWatermarkSql: String =
    "SELECT event_id, event_type FROM events"

  /** Streaming leaderboard — incrementally maintained top-k: the
    * per-user counts live in the update-mode state store across
    * triggers; each trigger's changed users land in the delta log, the
    * view is reconstructed latest-wins, and the top-10 (deterministic
    * tie-break on user_id) is taken AT READ. The expensive part —
    * maintaining millions of per-key counts — is the incremental state;
    * the top-k is a cheap partial-heap pass over the reconstructed
    * view. Keeping the rank OUT of the streaming graph is the point:
    * ranking is not incrementally maintainable in update mode (a key
    * can leave the top-k when another grows), so the engine keeps the
    * maintainable state and defers the order-by to the serving read,
    * which is exactly the lambda-serving split `stream_mv_counts`
    * established.
    */
  def streamTopkUsers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val agg = stagedStream(s, s"$dir/events.parquet", 4)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("cnt"))
    runDeltaLog(agg, "update", Seq("user_id"))
      .orderBy($"cnt".desc, $"user_id".asc)
      .limit(10)
  }

  val streamTopkUsersSql: String =
    """SELECT user_id, cnt FROM (
      |  SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id)
      |ORDER BY cnt DESC, user_id LIMIT 10""".stripMargin

  /** Start-position / rate control for the file source — the analogs of
    * the reference spout's earliest/latest start offset and bounded
    * max-pending knobs
    * (/root/reference/src/main/scala/com/miguno/kafkastorm/storm/topologies/KafkaStormDemo.scala:31-57):
    *
    *   - `maxFilesPerTrigger` bounds every micro-batch; AvailableNow
    *     still drains all input, but across MULTIPLE triggers — bounded
    *     in-flight state instead of one unbounded replay batch.
    *   - `latestFirst = true` starts consumption from the NEWEST files
    *     (the "latest offset" start position).
    *
    * Returns the final word-count state plus the number of non-empty
    * triggers and their per-trigger input sizes, so specs can assert
    * genuinely incremental progress and latest-first ordering.
    */
  def rateLimitedWordCount(s: SparkSession, srcDir: String,
      maxFilesPerTrigger: Int,
      latestFirst: Boolean = false): (DataFrame, Array[Long]) = {
    val lines = s.readStream.schema(graft.Tables.schemaOf(s, srcDir))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("latestFirst", latestFirst)
      .parquet(srcDir)
      .select(col("text").as("value"))
    val name = uniq("sq")
    val q = drain(Streams.wordCount(lines))(
      _.outputMode("complete").format("memory").queryName(name))
    val perTrigger = q.recentProgress.map(_.numInputRows).filter(_ > 0)
    (s.table(name), perTrigger)
  }

  /** Streaming bot-traffic flags — the abuse filter maintained AT
    * INGEST instead of by a batch sweep: per-user per-minute burst
    * counts live in `flatMapGroupsWithState` keyed by user, and every
    * trigger re-emits the users it touched with their cumulative
    * burst profile (update mode → the delta log keeps latest-per-user).
    * With AvailableNow over the staged input the reconstruction
    * converges to exactly the batch [[graft.operators.EventOps
    * .botFlags]] answer — the DuckDB oracle.
    *
    * State is the per-user minute→count map: bounded by a user's
    * ACTIVE minutes, which is the right production shape too (a
    * timeout would expire minutes past the flagging horizon; at the
    * driver fixture every minute is in-horizon, so no timeout is set
    * and convergence is exact).
    */
  def streamBotFlags(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val ev = stagedStream(s, s"$dir/events.parquet", 4)
      .selectExpr("user_id", "ts div 60000000000 AS minute")
      .as[(Long, Long)]
    val flags = ev.groupByKey(_._1)
      .flatMapGroupsWithState[Map[Long, Long], (Long, Long, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[(Long, Long)],
            state: GroupState[Map[Long, Long]]) =>
          val updated = it.foldLeft(state.getOption.getOrElse(Map.empty[Long, Long])) {
            case (m, (_, minute)) => m.updated(minute, m.getOrElse(minute, 0L) + 1L)
          }
          state.update(updated)
          Iterator((user, updated.values.sum, updated.size.toLong,
            updated.values.max))
      }
      .toDF("user_id", "n_events", "active_minutes", "max_per_min")
      .selectExpr("user_id", "n_events", "active_minutes", "max_per_min",
        "floor(CAST(n_events AS DOUBLE) / active_minutes * 1e6 + 0.5) / 1e6 AS mean_per_active_min",
        s"max_per_min >= ${graft.operators.EventOps.BotBurstPerMin} AS is_bot")
    runDeltaLog(flags, "update", Seq("user_id"))
  }

  /** Streaming funnel — per-user stage progress (first view / click /
    * purchase nanos) maintained as an update-mode conditional-min
    * aggregate across triggers: the state store holds three longs per
    * user no matter how many events stream past, each trigger emits
    * only the users it advanced, and the latest-wins delta-log
    * reconstruction is the per-user stage table the batch funnel
    * derives in one pass. The final ordered-stage summary must equal
    * batch `ev_funnel` — the oracle IS that query's SQL. At production
    * keyspace the state is user-count-bounded (the funnel dashboard
    * shape); the registry's state sizing ([[queries]]) is the knob.
    */
  def streamFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perUser = stagedStream(s, s"$dir/events.parquet", 4)
      .groupBy($"user_id")
      .agg(
        min(when($"event_type" === "view", $"ts")).as("t_view"),
        min(when($"event_type" === "click", $"ts")).as("t_click"),
        min(when($"event_type" === "purchase", $"ts")).as("t_purchase"))
    runDeltaLog(perUser, "update", Seq("user_id"))
      .agg(
        count(lit(1)).as("n_users"),
        count(when($"t_view".isNotNull, 1)).as("viewed"),
        count(when($"t_view" < $"t_click", 1)).as("clicked_after_view"),
        count(when($"t_view" < $"t_click" && $"t_click" < $"t_purchase", 1))
          .as("purchased_after_funnel"))
  }

  /** Streaming Count-Min heavy hitters — the counter-TABLE variant of
    * [[streamHllUsers]]'s mergeable-state claim: each micro-batch folds
    * its token occurrences into the fixed d×w counter grid with SUM
    * (CMS merge IS cell-wise addition, so update-mode streaming state
    * is the sketch — bounded at 4×1024 longs no matter how much text
    * streams past). The drained counter table closes through the SAME
    * probe/min stage as the batch sketch and must equal it exactly —
    * the oracle IS the batch `sketch_cms_heavy` SQL.
    */
  def streamCmsHeavy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counters = graft.Tables.spread(stagedStream(s, s"$dir/documents.parquet", 4), "doc_id")
      .select(explode(split(lower($"text"), "\\s+")).as("tok"))
      .where($"tok" =!= "")
      .select($"tok",
        explode(sequence(lit(0), lit(graft.operators.Sketches.CmsD - 1)))
          .as("j"))
      .select($"j", graft.operators.Sketches.cmsCell($"j", $"tok").as("cell"))
      .groupBy($"j", $"cell")
      .agg(count(lit(1)).as("cnt"))
    val table = runDeltaLog(counters, "update", Seq("j", "cell"))
      .select($"j", $"cell", $"cnt")
    graft.operators.Sketches.cmsFinalize(s, dir, table)
  }

  /** Streaming dyadic range-count sketch — `sketch_dyadic_range`'s
    * counter table maintained AT INGEST: each micro-batch aggregates
    * its events PER MINUTE FIRST (round 12 — the batch build's "hash
    * the keyspace, not the corpus" move, which the streaming twin had
    * skipped: the levels × d fan-out now runs per DISTINCT minute in
    * the batch, ~80× fewer exploded rows than per event), fans the
    * minute counts out through the SAME shared narrow map as the batch
    * build, and appends the batch's (j, level, slot) counter DELTA to
    * the idempotent delta log. CMS merge IS cell-wise addition, so the
    * summed log equals the batch counter table exactly under any
    * trigger split (sums commute — the same additive-state argument as
    * before; the per-batch pre-aggregation is legal for exactly the
    * same reason). This keeps the 100 TB dashboard shape: the ingest
    * never touches history, counter state stays ≤ levels·d·w cells,
    * and ANY time range is answerable from ≤ 2·levels·d counter reads
    * once the trigger's delta is merged. Closed by the same probe
    * finalize as the batch query; the oracle IS that query's SQL.
    *
    * (The two-stage aggregate — per-minute, then per-cell — is why
    * this runs in `foreachBatch` over a stateless stream rather than
    * as one update-mode aggregate: chained stateful aggregations are
    * not allowed in a streaming query, and the per-batch delta log is
    * the same replay-safe state the weighted-Jaccard engine documents.)
    */
  def streamDyadicRange(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{StructType, LongType}
    val Sk = graft.operators.Sketches
    val cntLog = graft.TempDirs.scoped("graft_dyadic_cntlog")
    val cntSchema = new StructType()
      .add("j", LongType).add("level", LongType).add("slot", LongType)
      .add("cnt", LongType).add("batch_id", LongType)
    val perEvent = stagedStream(s, s"$dir/events.parquet", 4)
      .selectExpr(s"ts DIV ${Sk.DyadicMinuteNs} AS b")
    drain(perEvent)(_.outputMode("append").foreachBatch { (batch: DataFrame, id: Long) =>
      val bcnt = batch.groupBy(col("b")).agg(count(lit(1)).as("n"))
      val delta = Sk.dyadicCounterRows(bcnt)
        .groupBy(col("j"), col("level"), col("slot"))
        .agg(sum(col("n")).as("cnt"))
      appendDeltaBatch(delta, id, cntLog)
    })
    val table = s.read.schema(cntSchema).parquet(cntLog)
      .groupBy($"j", $"level", $"slot").agg(sum($"cnt").as("cnt"))
    Sk.dyadicFinalize(s, dir, table)
  }

  /** Streaming incremental near-dup admission — the STREAMING form of
    * [[graft.operators.Dedup.dedupIncremental]], closing the
    * batch/stream pair for the growing-corpus shape: an already-admitted
    * corpus sits behind its band-bucket index (a static table — at
    * 100 TB the bucket-partitioned materialization `dedup_incremental`
    * documents) and the new crawl snapshot ARRIVES as a stream. Two
    * verdicts per arriving doc, exactly the batch rule:
    *
    *   - `dup_corpus` — a stream-STATIC equi-join of the arriving doc's
    *     band keys against the corpus index, verified at estimated
    *     Jaccard ≥ 0.5 inline (both signature arrays are in-row after
    *     the join, so verification is stateless row math — no state
    *     store involvement at all for this side).
    *   - `dup_batch` — same-snapshot smaller-id witnesses via
    *     [[streamNearDup]]'s bucket-keyed `flatMapGroupsWithState`:
    *     state is the bucket's arrived members, each arrival pairs
    *     against them, and a verified pair always indicts its LARGER id
    *     (max/min emit), which makes the verdict arrival-order
    *     INDEPENDENT — a doc arriving before its smaller-id witness is
    *     still indicted when the witness lands, so the drained log
    *     equals the batch first-wins rule.
    *
    * Both sides drain to append-mode delta logs; the reconstruction
    * joins them under the full arriving-doc list and must equal batch
    * `dedup_incremental` row-for-row — the oracle IS that query's SQL.
    * State is bounded by band-bucket occupancy of the SNAPSHOT only
    * (the corpus never enters the state store), which is the production
    * admission shape: per-snapshot cost |batch| × bucket occupancy,
    * never corpus × corpus.
    */
  def streamDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val bands = graft.functions.Hashing.Bands
    val rpb = graft.functions.Hashing.RowsPerBand
    val k = graft.functions.Hashing.MinhashK
    val m = graft.operators.Dedup.IncrModulus
    val r = graft.operators.Dedup.IncrIncomingRes
    def bandKeys(sig: org.apache.spark.sql.Column) =
      array((0 until bands).map { b =>
        concat_ws(":", lit(b.toString) +:
          (1 to rpb).map(x => element_at(sig, b * rpb + x).cast("string")): _*)
      }: _*)
    val verified =
      s"""CAST(size(filter(zip_with(sig, sig_old, (x, y) -> x = y),
         | v -> v)) AS DOUBLE) / $k >= 0.5""".stripMargin
    // static corpus side: signatures + band-bucket index, built once and
    // CACHED — a stream-static join re-evaluates the static plan every
    // micro-batch otherwise (at 100 TB this side is the materialized
    // bucket-partitioned index table, not a recompute)
    val corpusIdx = graft.Tables.documents(s, dir)
      .where($"doc_id" % m < r)
      .select($"doc_id".as("doc_old"),
        graft.functions.MinHashSigExpr.minhash_sig($"text").as("sig_old"))
      .where($"sig_old".isNotNull)
      .select($"doc_old", $"sig_old", explode(bandKeys($"sig_old")).as("bkey"))
      .cache()
    // arriving snapshot: row-local signatures, exploded to band keys
    def incomingBuckets() = stagedStream(s, s"$dir/documents.parquet", 4)
      .where($"doc_id" % m === r)
      .select($"doc_id",
        graft.functions.MinHashSigExpr.minhash_sig($"text").as("sig"))
      .where($"sig".isNotNull)
      .select($"doc_id", $"sig", explode(bandKeys($"sig")).as("bkey"))
    // both verdict branches union into ONE streaming query (one
    // trigger sequence, one delta log) — the stateless corpus join and
    // the stateful batch pairing read their own copy of the source
    val corpusSide = incomingBuckets().join(corpusIdx, "bkey")
      .where(expr(verified))
      .select($"doc_id".as("doc_new"), lit("corpus").as("side"))
    val batchSide = incomingBuckets().select($"bkey", $"doc_id", $"sig")
      .as[(String, Long, Array[Long])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[NearDupState, (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[(String, Long, Array[Long])],
            state: GroupState[NearDupState]) =>
          var members = state.getOption.map(_.members).getOrElse(Nil)
          val out = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
          rows.foreach { case (_, docId, sig) =>
            members.foreach { case (mId, mSig) =>
              if (mId != docId && estJaccard(sig, mSig) >= 0.5)
                out += ((math.max(docId, mId), math.min(docId, mId)))
            }
            if (members.size < NearDupMaxBucket)
              members = (docId, sig) :: members
          }
          state.update(NearDupState(members))
          out.iterator
      }.toDF("doc_new", "witness")
      .select($"doc_new", lit("batch").as("side"))
    val log = runDeltaLog(corpusSide.union(batchSide), "append", Nil)
    val dupC = log.where($"side" === "corpus").select($"doc_new")
      .distinct().withColumn("dc", lit(true))
    val dupB = log.where($"side" === "batch").select($"doc_new")
      .distinct().withColumn("db", lit(true))
    graft.Tables.documents(s, dir)
      .where($"doc_id" % m === r)
      .select($"doc_id",
        graft.functions.MinHashSigExpr.minhash_sig($"text").as("sig"))
      .where($"sig".isNotNull)
      .select($"doc_id".as("doc_new"))
      .join(dupC, Seq("doc_new"), "left")
      .join(dupB, Seq("doc_new"), "left")
      .select($"doc_new",
        coalesce($"dc", lit(false)).as("dup_corpus"),
        coalesce($"db", lit(false)).as("dup_batch"),
        (!coalesce($"dc", lit(false)) && !coalesce($"db", lit(false)))
          .as("keep"))
  }

  /** Events' per-hour counts (`t` = hours since the epoch, `c`) kept
    * as update-mode state and drained latest-per-hour: the sufficient
    * state of the hourly time-series queries, which close over it with
    * the same finalize as their batch twins.
    */
  private def hourlyCountState(s: SparkSession, dir: String): DataFrame = {
    val counts = stagedStream(s, s"$dir/events.parquet", 4)
      .selectExpr("ts div 3600000000000 AS t")
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    runDeltaLog(counts, "update", Seq("t"))
  }

  /** Events' per-(event_type, day) counts (`cnt`) kept as update-mode
    * state and drained latest-per-key: the daily counterpart of
    * [[hourlyCountState]].
    */
  private def dailyCountState(s: SparkSession, dir: String): DataFrame = {
    val counts = stagedStream(s, s"$dir/events.parquet", 4)
      .selectExpr("event_type",
        "CAST(timestamp_micros(ts div 1000) AS DATE) AS day")
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("cnt"))
    runDeltaLog(counts, "update", Seq("event_type", "day"))
  }

  /** Streaming ACF — the hourly count state maintained at ingest
    * (update mode: each trigger re-emits only the hours it advanced;
    * state is one long per ACTIVE hour, the dashboard-counter shape),
    * then the drained latest-per-hour log closes through the IDENTICAL
    * finalize as batch [[graft.operators.TimeSeries.acf]]
    * (`acfFromCounts` is shared code, not a re-implementation) — the
    * lambda claim for a DERIVED statistic: maintaining the sufficient
    * state incrementally and computing the statistic at read time must
    * equal the batch pass. Oracle IS `ev_acf`'s SQL.
    */
  def streamAcf(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.acfFromCounts(hourlyCountState(s, dir))

  /** Streaming Poisson burst monitor — the [[streamAcf]] shape applied
    * to the alerting statistic: update-mode hourly count state, drained
    * latest-per-hour, closed through the SHARED
    * `poissonBurstFromCounts` finalize — maintaining the sufficient
    * state at ingest and evaluating the Anscombe burst rule at read
    * time must equal the batch sweep. Oracle IS `ev_poisson_burst`'s
    * SQL. (The per-trigger emission is the live dashboard feed; the
    * contract checks its converged state.)
    */
  def streamPoissonBurst(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.poissonBurstFromCounts(hourlyCountState(s, dir))

  /** Streaming EWMA — the [[streamAcf]] shape applied to the smoothed
    * volume line every live dashboard draws: per-(type, day) counter
    * state in update mode at ingest, drained latest-per-key, closed
    * through the SHARED `ewmaFromCounts` finalize (the truncated
    * decimal-weight convolution). Maintaining the daily counters
    * incrementally and convolving at read time must equal the batch
    * sweep. Oracle IS `ev_ewma`'s SQL.
    */
  def streamEwma(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.TimeSeries.ewmaFromCounts(dailyCountState(s, dir)
      .select($"event_type", $"day", $"cnt".cast("decimal(8,0)").as("cnt")))
  }

  /** Streaming changepoint — the [[streamEwma]] state (per-(type, day)
    * counters in update mode) closed through the SHARED
    * `changepointFromCounts` finalize: zero-fill + CUSUM argmax at
    * read time over incrementally-maintained daily counters must equal
    * the batch detector. Oracle IS `ev_changepoint`'s SQL.
    */
  def streamChangepoint(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.changepointFromCounts(dailyCountState(s, dir))

  /** Streaming histogram-quantile sketch — the [[streamCmsHeavy]]
    * shape applied to order statistics: per-bucket counters (the
    * fixed-memory mergeable state of the two-phase quantile algorithm,
    * `sketch_hist_quantiles`'s phase 2) maintained in update mode at
    * ingest, then the drained counter table closed through the SHARED
    * `histEstFromCounts` finalize — the estimates read off the
    * incrementally-built histogram must equal the batch pass's.
    * Bucket edges are the known value bounds broadcast at start (the
    * D5 serde/LUT pattern — a 1-row min/max, like the k-means
    * centroid frame); the total N the estimate needs comes from the
    * shared 1-row stats frame at read time, never from driver state.
    */
  def streamHistQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val buckets = graft.operators.Sketches.HistBuckets
    val bounds = graft.operators.Sketches.histStats(s, dir).head
    val (lo, hi) = (bounds.getDouble(0), bounds.getDouble(1))
    val width = (hi - lo) / buckets
    val counters = stagedStream(s, s"$dir/lineitem.parquet", 4)
      .select($"l_extendedprice".cast("double").as("v"))
      .select(least(floor(($"v" - lo) / width), lit(buckets - 1))
        .cast("int").as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("cnt"))
    val state = runDeltaLog(counters, "update", Seq("bucket"))
      .select($"bucket", $"cnt")
    graft.operators.Sketches.histEstFromCounts(state,
      graft.operators.Sketches.histStats(s, dir))
  }

  /** Streaming PACF — the [[streamAcf]] state (update-mode hourly
    * counts) closed through acfFromCounts AND the shared
    * Durbin–Levinson finalize: the lambda claim pushed one derivation
    * deeper (incremental sufficient state + a two-stage read-time
    * computation equals the batch pass). Oracle IS `ev_pacf`'s SQL.
    */
  def streamPacf(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.pacfFromAcf(graft.operators.TimeSeries.acfFromCounts(hourlyCountState(s, dir)))

  /** Streaming AR forecast — the [[streamPacf]] shape carried to the
    * end of the Box–Jenkins chain: update-mode hourly-count state,
    * drained latest-per-hour, closed through the SHARED
    * `arForecastFromCounts` finalize (ladder fit + h-step projection).
    * The h = 1..6 forecasts read off the incrementally-maintained
    * state must equal the batch pass's. Oracle IS `ev_ar_forecast`'s
    * SQL.
    */
  def streamArForecast(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.arForecastFromCounts(hourlyCountState(s, dir))

  /** Streaming PSI drift monitor — the monitor every production
    * feature pipeline keeps running, as incremental state: update-mode
    * per-bin counters carrying BOTH period counts (conditional sums on
    * the event timestamp — the reference/current split is a property
    * of the ROW, so one grouped state serves both sides), drained
    * latest-per-bin and closed through the SHARED
    * [[graft.operators.DataQuality.driftFromBinCounts]] finalize
    * (10-bin scaffold, totals re-derived from the counters, smoothed
    * PSI terms). The read-time close over incrementally-maintained
    * state must equal the batch `dq_value_drift` pass; oracle IS that
    * query's SQL.
    */
  def streamValueDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val D = graft.operators.DataQuality
    val counts = stagedStream(s, s"$dir/events.parquet", 4)
      .select($"ts".as("ts_ns"), least(lit(9L),
        floor($"value" / D.DriftBinW).cast("long")).as("bin"))
      .groupBy($"bin").agg(
        sum(when($"ts_ns" < D.DriftSplitNs, 1L).otherwise(0L)).as("n_ref"),
        sum(when($"ts_ns" >= D.DriftSplitNs, 1L).otherwise(0L)).as("n_cur"))
    D.driftFromBinCounts(runDeltaLog(counts, "update", Seq("bin")))
  }

  /** Streaming temperature mix — the multilingual sampling weights
    * maintained as INCREMENTAL state over a growing corpus: update-mode
    * per-language doc/token counters (one grouped state; token counts
    * are the same whitespace-token rule as the batch census), drained
    * latest-per-language and closed through the SHARED
    * [[graft.operators.Curation.temperatureMixFromCounts]] finalize
    * (p^τ tempering, renormalize, boost). The read-time close must
    * equal the batch `curate_temperature_mix` pass; oracle IS that
    * query's SQL.
    */
  def streamTemperatureMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = stagedStream(s, s"$dir/documents.parquet", 2)
      .selectExpr("lang",
        "size(filter(split(lower(text), '\\\\s+'), t -> t <> '')) AS n_toks")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_toks").as("n_tokens"))
    graft.operators.Curation.temperatureMixFromCounts(
      runDeltaLog(counts, "update", Seq("lang")))
  }

  /** Streaming CDC ingest — chunk-at-ingest, census-at-read: the
    * narrow chunking kernel (`Dedup.cdcChunkRows`) runs inside each
    * micro-batch (the expensive per-byte work happens ONCE per
    * document as it arrives), chunk metadata lands in an append-mode
    * delta log (stateless — chunking is per-row), and the read-time
    * close runs the SHARED `cdcCensus` finalize over the accumulated
    * log. Must equal the batch `dedup_cdc_chunks` pass; oracle IS that
    * query's SQL.
    */
  def streamCdcChunks(s: SparkSession, dir: String): DataFrame = {
    val chunks = graft.operators.Dedup.cdcChunkRows(
      stagedStream(s, s"$dir/documents.parquet", 2)
        .select(col("doc_id"), col("text")))
    graft.operators.Dedup.cdcCensus(
      runDeltaLog(chunks, "append", Seq.empty))
  }

  /** Streaming LTTB — the live-dashboard shape: update-mode hourly
    * count state drained latest-per-hour and closed through the SHARED
    * `lttbFromCounts` finalize (the 12-point downsample a monitoring
    * read path serves). Must equal the batch `ev_lttb_downsample`
    * pass; oracle IS that query's SQL.
    */
  def streamLttb(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.lttbFromCounts(hourlyCountState(s, dir))

  /** Streaming MAD anomaly monitor — update-mode per-(type, day)
    * counters drained and closed through the SHARED
    * `anomalyMadFromCounts` finalize (gap-fill, exact medians, robust
    * scores). Must equal the batch `ev_anomaly_mad` pass; oracle IS
    * that query's SQL.
    */
  def streamAnomalyMad(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.anomalyMadFromCounts(dailyCountState(s, dir))

  /** The (asset_id, shingle) keys of the documents matching `assets`,
    * decoded per micro-batch by `shingles` and kept as cross-trigger
    * update-mode state (arrival-order-insensitive: the streaming form of
    * the batch path's per-asset DISTINCT), drained latest-per-key.
    */
  private def assetShingleState(s: SparkSession, dir: String, assets: String,
      shingles: (Long, String) => Iterator[(Long, Long)]): DataFrame = {
    import s.implicits._
    val sh = stagedStream(s, s"$dir/documents.parquet", 4)
      .where(assets)
      .select($"doc_id", $"text")
      // per-batch decode fan-out: one staged file per trigger = ONE
      // scan task; hash-spread arrivals so the payload decode that
      // follows runs on every core (Tables.spread, guide §2.5)
      .transform(df => graft.Tables.spread(df, "doc_id"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) => shingles(id, text) })
      .toDF("asset_id", "shingle")
      .groupBy($"asset_id", $"shingle").agg(count(lit(1)).as("n_occ"))
    runDeltaLog(sh, "update", Seq("asset_id", "shingle")).select("asset_id", "shingle")
  }

  /** Audio shingle state: WAV windows of every third document. */
  private def audioShingleState(s: SparkSession, dir: String): DataFrame =
    assetShingleState(s, dir, "doc_id % 3 = 1", (id, text) =>
      graft.operators.Multimodal.audioShingleRows(id, graft.operators.Multimodal.audioAssetPayload(id, text)))

  /** Video shingle state: AVI frame trigrams of every document. */
  private def videoShingleState(s: SparkSession, dir: String): DataFrame =
    assetShingleState(s, dir, "true", (id, text) =>
      graft.operators.Multimodal.videoShingleRows(id, graft.operators.Multimodal.videoAssetPayload(id, text)))

  /** Streaming audio near-dup — `mm_audio_neardup` on the incremental
    * engine: audio assets arrive across triggers (same deterministic
    * payload generation + genuine RIFF/WAV decode per micro-batch via
    * [[graft.operators.Multimodal.audioAssetPayload]]/
    * [[graft.operators.Multimodal.audioShingleRows]]), and the
    * stateful work is the cross-trigger per-(asset, shingle)
    * occurrence aggregation — update mode, arrival-order-insensitive,
    * the streaming form of the batch path's per-asset window DISTINCT.
    * The drained state IS the distinct window-key table, and the
    * finalize runs the SAME inverted-index pair join
    * ([[graft.operators.Multimodal.audioNeardupPairs]] — window-count
    * Jaccard and stop-shingle df-cut included), so the result equals
    * the batch answer under any trigger split; the oracle IS that
    * query's SQL.
    */
  def streamAudioNeardup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.audioNeardupPairs(s, audioShingleState(s, dir))

  /** Per-trigger cost ledger for the incremental ExactSubstr engine
    * ([[substrSpanLogRun]]): (batch_id, new posting rows, accumulated
    * posting rows, pairs touched, span rows written, seconds). Cleared
    * at query start; read by the scaling notes / specs to show
    * per-trigger cost tracks ARRIVALS (+ the bounded one-shot crossing
    * repair), never a re-finalize of the full accumulated pair join.
    */
  private[graft] val substrTriggerLog =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long, Long, Double)]

  /** Bytes-read ledger for the BUCKETED posting log (round-12 item 3):
    * (batch_id, pruned posting-log bytes — only the gram-hash buckets
    * this trigger's arrivals touch, total accumulated posting-log
    * bytes). Proves per-trigger input is bounded by touched buckets,
    * not the full accumulated log.
    */
  private[graft] val substrBytesLog =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]

  /** Gram-hash bucket count for the ExactSubstr delta logs
    * (`SPARK_GRAFT_SUBSTR_BUCKETS`, default 8). Partitioning the
    * posting/stats logs by `pmod(gh, B)` lets each trigger's
    * accumulated-log reads PRUNE to the buckets its arrivals touch —
    * O(touched buckets), not O(accumulated log). At contract SF every
    * trigger carries thousands of distinct grams, so 8 buckets keeps
    * the per-batch file count small while the partition layout (and
    * the pruning machinery) is exactly the production shape; at real
    * ingest scale B is sized so arrivals touch a small fraction
    * (10⁴–10⁵ buckets for a 100 TB corpus index). Tests override via
    * [[substrLogBucketsOverride]] to demonstrate pruning locally.
    */
  private[streaming] def substrLogBuckets: Int =
    substrLogBucketsOverride.getOrElse(
      sys.env.get("SPARK_GRAFT_SUBSTR_BUCKETS")
        .flatMap(_.toIntOption).filter(_ > 0).getOrElse(8))

  private[graft] var substrLogBucketsOverride: Option[Int] = None

  /** The incremental ExactSubstr streaming engine shared by
    * [[streamExactSubstr]] and [[streamSubstrSavings]] — round 11
    * completes the verdict's item-4 family (after `stream_ppjoin` and
    * `stream_weighted_jaccard`): the close no longer re-runs the full
    * posting join over all drained state; EACH trigger emits exactly
    * the span delta its arrivals cause.
    *
    * ONE kinded delta log partitioned (batch_id, kind, ghb) — round 12
    * folded the former four logs into a single write action per
    * trigger and BUCKETED the gram-keyed kinds by `pmod(gh, B)`
    * (idempotent replay: each batch overwrites its own partitions,
    * accumulated reads exclude batch ids ≥ current, so a replayed
    * batch recomputes the identical delta). kind 0 is the posting log
    * (the accumulated index), kind 2 the span log, kind 3 the
    * TOUCHED-PAIR ledger, and kind 1 the per-gram STATS log — each
    * batch's additive (occ, df) contribution, summed at read so the
    * eligibility stats never re-aggregate the full posting log (the
    * production state-store accretion SCALING.md's round-11 notes
    * trail; exactly maintainable because docs are trigger-complete, so
    * df is additive). Accumulated reads PRUNE to the arrivals' buckets
    * ([[substrLogBuckets]]); [[substrBytesLog]] records the pruned vs
    * total posting-log bytes per trigger.
    * The touched ledger is what makes retraction
    * expressible — ExactSubstr's corpus-wide occurrence cut
    * ([[graft.operators.Dedup.ExactSubstrOccCut]]) is monotone-
    * CROSSING, so a boilerplate gram appearing in later arrivals can
    * remove a previously-emitted old-pair span; the trigger recomputes
    * those dirty pairs (possibly to an EMPTY span set) and stamps them
    * touched, and the close reconstructs latest-touch-wins per pair:
    * span rows survive only from the batch that last touched their
    * pair ([[graft.operators.Dedup.substrTriggerDelta]] has the full
    * sufficiency argument). Equals the batch pass under any trigger
    * split (`ExactSubstrStreamSpec`, including a forced-crossing
    * fixture at a tiny cut).
    */
  /** File-size sum of the accumulated posting partitions (kind=0,
    * batch_id < beforeId) a read restricted to `buckets` touches —
    * i.e. exactly the input a bucket-pruned scan lists. `None` = all
    * buckets (the unpruned total). Driver-side directory walk, no
    * Spark job.
    */
  private def substrOccBytes(log: String, beforeId: Long,
      buckets: Option[Set[Long]]): Long = {
    val root = new java.io.File(log)
    Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith("batch_id="))
      .filter(_.getName.drop(9).toLongOption.exists(_ < beforeId))
      .flatMap(b => Option(new java.io.File(b, "kind=0").listFiles())
        .getOrElse(Array.empty[java.io.File]))
      .filter(g => g.getName.startsWith("ghb=") &&
        buckets.forall(bs => g.getName.drop(4).toLongOption.exists(bs)))
      .flatMap(g => Option(g.listFiles()).getOrElse(Array.empty[java.io.File]))
      .map(_.length()).sum
  }

  private def substrSpanLogRun(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{StructType, LongType}
    // ONE kinded, bucketed delta log (round 12; was four separate logs
    // = four write actions per trigger): rows are tagged by `kind` and
    // partitioned (batch_id, kind, ghb) so each trigger commits every
    // delta — postings, stats, spans, touched pairs — in a SINGLE
    // write action, and accumulated reads prune by kind AND by the
    // gram-hash buckets the arrivals touch (ghb = pmod(gh, B); spans/
    // touched are pair-keyed, not gram-keyed, and ride bucket 0).
    //   kind 0 occ:   c1=doc_id, c2=pos,   c3=gh
    //   kind 1 stats: c1=gh,     c2=occ_d, c3=df_d
    //   kind 2 span:  c1=doc_a,  c2=doc_b, c3=start_a, c4=start_b,
    //                 c5=span_tokens
    //   kind 3 touch: c1=doc_a,  c2=doc_b
    val log = graft.TempDirs.scoped("graft_substr_log")
    val B = substrLogBuckets
    val logSchema = new StructType()
      .add("c1", LongType).add("c2", LongType).add("c3", LongType)
      .add("c4", LongType).add("c5", LongType)
      .add("batch_id", LongType).add("kind", LongType).add("ghb", LongType)
    substrTriggerLog.clear()
    substrBytesLog.clear()
    // accumulated posting-row count for the ledger as a driver-side
    // running sum (was an O(accumulated) count() action every trigger)
    var accRows = 0L
    val occ = graft.operators.Dedup.exactSubstrOcc(s,
      stagedStream(s, s"$dir/documents.parquet", 4)
        .select($"doc_id", $"text"))
    drain(occ)(_.outputMode("append").foreachBatch { (batch: DataFrame, id: Long) =>
      val t0 = System.nanoTime()
      val newOcc = batch.localCheckpoint()
      // the arrivals' gram-hash buckets + row count, one cheap job
      // over the checkpointed batch (≤ B rows to the driver)
      val bstats = newOcc
        .groupBy(pmod(col("gh"), lit(B.toLong)).as("ghb"))
        .agg(count(lit(1)).as("n")).collect()
      val nNew = bstats.map(_.getLong(1)).sum
      val buckets = bstats.map(_.getLong(0)).toSet
      val acc = s.read.schema(logSchema).parquet(log)
        .where(col("batch_id") < id)
      // replay-proof accumulated views: a failed batch's own partial
      // partitions (write landed, checkpoint commit didn't) are
      // excluded, so the recompute sees the exact pre-batch state.
      // BUCKET-PRUNED (partition pruning on ghb): only the buckets
      // this trigger's arrivals touch are listed/read — the delta
      // function needs old postings/stats only for new-batch grams
      // outside the rare repair branch.
      val oldOccPruned = acc
        .where(col("kind") === 0 && col("ghb").isin(buckets.toSeq: _*))
        .select(col("c1").as("doc_id"), col("c2").as("pos"),
          col("c3").as("gh"))
      // accreted per-gram (occ, df): the prior batches' stats DELTAS
      // summed — O(distinct grams in touched buckets) pre-aggregated
      // rows (df is additive because docs are trigger-complete; the
      // delta function documents the sufficiency argument)
      val oldStatsPruned = acc
        .where(col("kind") === 1 && col("ghb").isin(buckets.toSeq: _*))
        .groupBy(col("c1").as("gh"))
        .agg(sum(col("c2")).as("o_occ"), sum(col("c3")).as("o_df"))
      // UNpruned views for the repair branch only — lazy, so a
      // non-crossing trigger never reads them
      val oldOccFull = acc.where(col("kind") === 0)
        .select(col("c1").as("doc_id"), col("c2").as("pos"),
          col("c3").as("gh"))
      val oldStatsFull = acc.where(col("kind") === 1)
        .groupBy(col("c1").as("gh"))
        .agg(sum(col("c2")).as("o_occ"), sum(col("c3")).as("o_df"))
      val (touched, spans, statsDelta) =
        graft.operators.Dedup.substrTriggerDelta(s, oldOccPruned, newOcc,
          oldStats0 = Some(oldStatsPruned),
          fullOld0 = Some((oldOccFull, oldStatsFull)))
      // ONE write action commits all four deltas (was four separate
      // jobs): tag, pad to the 5-column superset, union, repartition
      // by (kind, ghb) so each partition dir gets one file
      def tag(df: DataFrame, kind: Int, cols: Seq[String],
          ghbCol: org.apache.spark.sql.Column): DataFrame =
        df.select(
          (cols.map(col).padTo(5, lit(null).cast("long"))
            .zipWithIndex.map { case (c, i) => c.as(s"c${i + 1}") }) ++
            Seq(lit(kind.toLong).as("kind"), ghbCol.as("ghb")): _*)
      val unified =
        tag(newOcc, 0, Seq("doc_id", "pos", "gh"),
          pmod(col("gh"), lit(B.toLong)))
        .unionByName(tag(statsDelta, 1, Seq("gh", "occ_d", "df_d"),
          pmod(col("gh"), lit(B.toLong))))
        .unionByName(tag(spans, 2, Seq("doc_a", "doc_b", "start_a",
          "start_b", "span_tokens"), lit(0L)))
        .unionByName(tag(touched, 3, Seq("doc_a", "doc_b"), lit(0L)))
      // ledger counts ride the write action itself as observed
      // metrics (round 13; was a read-back job over the just-written
      // partition — guide §1: the measurement must not be a job)
      val obs = new org.apache.spark.sql.Observation
      unified.withColumn("batch_id", lit(id))
        .observe(obs,
          count(when(col("kind") === 2, 1L)).as("n_span"),
          count(when(col("kind") === 3, 1L)).as("n_touch"))
        .repartition(col("kind"), col("ghb"))
        .write
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "kind", "ghb")
        .mode("overwrite")
        .parquet(log)
      // a metric the optimizer removed with its CollectMetrics node
      // (e.g. over an empty relation) is missing from the map: it reads as 0
      val written = observed(obs)
      substrTriggerLog.add((id, nNew, accRows,
        written.getOrElse("n_touch", 0L).asInstanceOf[Long],
        written.getOrElse("n_span", 0L).asInstanceOf[Long],
        (System.nanoTime() - t0) / 1e9)): Unit
      substrBytesLog.add((id,
        substrOccBytes(log, id, Some(buckets)),
        substrOccBytes(log, id, None))): Unit
      accRows += nNew
    })
    // latest-touch-wins reconstruction: a pair's spans come from the
    // last batch that touched it; a dirty recompute that came back
    // empty left ledger rows but no span rows — the tombstone
    val done = s.read.schema(logSchema).parquet(log)
    val lastTouch = done.where(col("kind") === 3)
      .groupBy(col("c1").as("doc_a"), col("c2").as("doc_b"))
      .agg(max(col("batch_id")).as("batch_id"))
    done.where(col("kind") === 2)
      .select(col("c1").as("doc_a"), col("c2").as("doc_b"),
        col("c3").as("start_a"), col("c4").as("start_b"),
        col("c5").as("span_tokens"), col("batch_id"))
      .join(lastTouch, Seq("doc_a", "doc_b", "batch_id"), "left_semi")
      .drop("batch_id")
  }

  /** Streaming ExactSubstr — `dedup_exact_substr` at INGEST with an
    * INCREMENTAL per-trigger finalize (see [[substrSpanLogRun]]):
    * documents arrive across triggers, each micro-batch runs the SAME
    * stateless row-local posting expressions
    * ([[graft.operators.Dedup.exactSubstrOcc]] — tokenize, k-gram,
    * md5-60 hash) and emits exactly the span delta its arrivals cause
    * (new-pair spans + the bounded occurrence-cut-crossing repair).
    * The reconstructed pair-latest log provably equals the batch
    * answer under any trigger split; the oracle IS that query's SQL.
    */
  def streamExactSubstr(s: SparkSession, dir: String): DataFrame =
    substrSpanLogRun(s, dir)

  /** Streaming duplicate-token measurement — `dedup_substr_savings`
    * at INGEST: the SAME incremental span engine as
    * [[streamExactSubstr]] ([[substrSpanLogRun]]), closed by the
    * savings finalize (reconstructed spans → per-doc interval union →
    * per-source ratio against the statically-read corpus — the
    * stream-static enrichment shape). The removal-fraction dashboard a
    * continuous-ingest dedup stack serves; equals the batch query
    * under any trigger split; the oracle IS that query's SQL.
    */
  def streamSubstrSavings(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.substrSavingsFromSpans(s, dir,
      substrSpanLogRun(s, dir))

  /** Streaming audio containment — `mm_audio_containment` on the
    * incremental engine: the SAME cross-trigger per-(asset, shingle)
    * update-mode state [[streamAudioNeardup]] maintains (arrival-order
    * insensitive, the streaming form of the batch DISTINCT), closed by
    * the CONTAINMENT finalize instead of the Jaccard one — proof that
    * the streaming window state generalizes across every set-overlap
    * measure, not just the one it was built for. Final state equals the
    * batch `mm_audio_containment` under any trigger split; the oracle
    * IS that query's SQL.
    */
  def streamAudioContainment(s: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.audioContainmentPairs(s, audioShingleState(s, dir))

  /** Streaming image-in-video containment — `mm_image_in_video` on the
    * incremental engine, and the first CROSS-MODAL streaming state:
    * each arriving document contributes its still-image signature
    * (when it carries a decodable BMP) AND its per-frame video
    * signatures (genuine AVI walk), tagged by modality into ONE
    * update-mode state keyed (kind, asset, frame) — one row per frame
    * so repeated in-clip signatures keep their multiplicity, which the
    * matched-frame COUNT semantics require. The drained state splits
    * by modality and runs the SAME masked-lane signature join
    * ([[graft.operators.Multimodal.imageInVideoPairs]]); final answer
    * equals the batch query under any trigger split; the oracle IS
    * that query's SQL.
    */
  def streamImageInVideo(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sigs = stagedStream(s, s"$dir/documents.parquet", 4)
      .select($"doc_id", $"text")
      // per-batch decode fan-out: one staged file per trigger = ONE
      // scan task; hash-spread arrivals so the payload decode that
      // follows runs on every core (Tables.spread, guide §2.5)
      .transform(df => graft.Tables.spread(df, "doc_id"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val img: Iterator[(Int, Long, Long, Long)] =
          if (id % 3 == 0)
            graft.operators.Multimodal
              .decodeBmp(graft.operators.Multimodal.imageAssetPayload(id, text))
              .iterator.map { case (_, _, luma, _) => (0, id, 0L, luma) }
          else Iterator.empty
        val frames = graft.operators.Multimodal
          .decodeAviFrames(graft.operators.Multimodal.videoAssetPayload(id, text))
          .iterator.flatMap(_._4.map { case (fi, _, _, px) =>
            (1, id, fi.toLong, px)
          })
        img ++ frames
      })
      .toDF("kind", "asset_id", "frame_idx", "sig")
      .groupBy($"kind", $"asset_id", $"frame_idx").agg(max($"sig").as("sig"))
    val keys = runDeltaLog(sigs, "update", Seq("kind", "asset_id", "frame_idx"))
    graft.operators.Multimodal.imageInVideoPairs(
      keys.where($"kind" === 0)
        .selectExpr("asset_id AS image_id", "sig AS luma_sum"),
      keys.where($"kind" === 1)
        .selectExpr("asset_id AS video_id", "sig AS px_sum"))
  }

  /** Streaming video containment — the video twin of
    * [[streamAudioContainment]]: the cross-trigger (asset, shingle)
    * frame-trigram state of [[streamVideoNeardup]], closed by the
    * containment finalize. Equals the batch `mm_video_containment`
    * under any trigger split; the oracle IS that query's SQL.
    */
  def streamVideoContainment(s: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.videoContainmentPairs(s, videoShingleState(s, dir))

  /** Streaming video near-dup — `mm_video_neardup` on the incremental
    * engine, identical contract shape to [[streamAudioNeardup]]: AVI
    * containers decoded per micro-batch (genuine walk via
    * [[graft.operators.Multimodal.videoShingleRows]]), cross-trigger
    * per-(asset, shingle) update-mode state is the streaming form of
    * the batch DISTINCT, and the drained state runs the shared pair
    * join — final answer equals the batch query under any trigger
    * split; the oracle IS that query's SQL.
    */
  def streamVideoNeardup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.videoNeardupPairs(s, videoShingleState(s, dir))

  /** Per-trigger cost ledger for [[streamPpjoin]]'s incremental
    * finalize: (batch_id, new token rows, accumulated token rows,
    * pairs emitted this trigger, seconds). Cleared at query start;
    * read by the scaling notes / specs to show per-trigger cost tracks
    * ARRIVALS × emitted pairs (the exact-enumeration lower bound), not
    * a re-finalize of accumulated pair volume.
    */
  private[graft] val ppjoinTriggerLog =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long, Double)]

  /** Streaming PPJoin — `dedup_ppjoin` at INGEST, with an INCREMENTAL
    * per-trigger finalize (round-11: the close no longer re-joins the
    * full accumulated state): documents arrive across triggers, each
    * micro-batch runs the SAME row-local distinct trigram shingling
    * ([[graft.operators.InvertedIndex.ShingleSetExpr]]); the
    * cross-trigger state is a batch-id-partitioned token delta log (the
    * accumulated inverted index), and EACH trigger emits exactly the
    * qualifying pairs involving its new documents by probing only the
    * new docs' prefixes against the full prefix index
    * ([[graft.operators.InvertedIndex.ppjoinNewPairs]] — df ordering,
    * prefix cut, positional bound and both integer thresholds
    * re-derived per trigger, which keeps the pigeonhole lossless).
    * Pair accretion is append-only and replay-idempotent (each batch
    * overwrites its own partition; the accumulated-index read excludes
    * batch ids ≥ the current one, so a replayed batch recomputes the
    * identical pairs). The unioned pair log provably equals the batch
    * pass under any trigger split (`ExactSubstrStreamSpec`); the
    * oracle IS that query's brute-force SQL.
    */
  def streamPpjoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{StructType, LongType, StringType, DoubleType}
    val tokLog = graft.TempDirs.scoped("graft_ppjoin_toklog")
    val pairLog = graft.TempDirs.scoped("graft_ppjoin_pairlog")
    val tokSchema = new StructType()
      .add("doc_id", LongType).add("token", StringType)
      .add("batch_id", LongType)
    val pairSchema = new StructType()
      .add("doc_a", LongType).add("doc_b", LongType)
      .add("shared", LongType).add("n_a", LongType).add("n_b", LongType)
      .add("jaccard", DoubleType).add("batch_id", LongType)
    ppjoinTriggerLog.clear()
    val tok = graft.Tables.spread(stagedStream(s, s"$dir/documents.parquet", 4), "doc_id")
      .selectExpr("doc_id", graft.operators.InvertedIndex.ToksExpr)
      .where("size(toks) >= 3")
      .selectExpr("doc_id", graft.operators.InvertedIndex.ShingleSetExpr)
    // accumulated-index row count carried as a driver-side running sum
    // (batches of one AvailableNow run arrive in order, each once):
    // the ledger's former `acc.count()` re-scanned the FULL token log
    // every trigger — an O(accumulated) action spent on a diagnostic
    // (guide §1: don't let the measurement become the cost)
    var accRows = 0L
    drain(tok)(_.outputMode("append").foreachBatch { (batch: DataFrame, id: Long) =>
      val t0 = System.nanoTime()
      val newTok = batch.select("doc_id", "token").localCheckpoint()
      // replay-proof accumulated index: a failed batch's own partial
      // token partition (write landed, checkpoint commit didn't) is
      // excluded, so the recompute sees the exact pre-batch state
      val acc = s.read.schema(tokSchema).parquet(tokLog)
        .where(col("batch_id") < id).select("doc_id", "token")
      val newPairs = graft.operators.InvertedIndex.ppjoinNewPairs(
        s, acc.unionByName(newTok), newTok.select("doc_id").distinct())
      // ledger counts ride the two delta writes as observed metrics
      // (round 13; was one read-back count job + one count job per
      // trigger — guide §1: the measurement must not be a job)
      val obsP = new org.apache.spark.sql.Observation
      val obsT = new org.apache.spark.sql.Observation
      appendDeltaBatch(newPairs.observe(obsP,
        count(lit(1)).as("n")), id, pairLog)
      appendDeltaBatch(newTok.observe(obsT,
        count(lit(1)).as("n")), id, tokLog)
      val nPairs = observed(obsP).getOrElse("n", 0L).asInstanceOf[Long]
      val nNew = observed(obsT).getOrElse("n", 0L).asInstanceOf[Long]
      ppjoinTriggerLog.add((id, nNew,
        accRows, nPairs, (System.nanoTime() - t0) / 1e9)): Unit
      accRows += nNew
    })
    s.read.schema(pairSchema).parquet(pairLog).drop("batch_id")
  }

  /** Streaming weighted Jaccard — `dedup_weighted_jaccard` at INGEST:
    * documents arrive across triggers, each micro-batch explodes its
    * NON-distinct trigrams, and the cross-trigger state is the
    * per-(doc_id, shingle) OCCURRENCE COUNT (update-mode aggregation —
    * arrival-order-insensitive, the streaming form of the batch count
    * table). The drained state closes through the SAME multiset pair
    * join ([[graft.operators.Dedup.weightedJaccardFromCounts]]), so
    * the final answer equals the batch query under any trigger split;
    * the oracle IS that query's SQL.
    */
  def streamWeightedJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.{StructType, LongType, StringType, DoubleType}
    val cntLog = graft.TempDirs.scoped("graft_wjacc_cntlog")
    val pairLog = graft.TempDirs.scoped("graft_wjacc_pairlog")
    val cntSchema = new StructType()
      .add("doc_id", LongType).add("shingle", StringType)
      .add("cnt", LongType).add("batch_id", LongType)
    val pairSchema = new StructType()
      .add("doc_a", LongType).add("doc_b", LongType)
      .add("shared_min", LongType).add("wjaccard", DoubleType)
      .add("batch_id", LongType)
    // stateless stream: occurrence counting happens per batch inside
    // foreachBatch (docs are trigger-complete), so the ONLY state is
    // the count delta log — no redundant state-store copy
    val sh = graft.Tables.spread(stagedStream(s, s"$dir/documents.parquet", 4), "doc_id")
      .selectExpr("doc_id", graft.operators.Dedup.WeightedToksExpr)
      .where("size(toks) >= 3")
      .selectExpr("doc_id", graft.operators.Dedup.WeightedShingleExplodeExpr)
    drain(sh)(_.outputMode("append").foreachBatch { (batch: DataFrame, id: Long) =>
      val newCnt = batch
        .groupBy(col("doc_id"), col("shingle"))
        .agg(count(lit(1)).as("cnt")).localCheckpoint()
      val acc = s.read.schema(cntSchema).parquet(cntLog)
        .where(col("batch_id") < id).select("doc_id", "shingle", "cnt")
      val newPairs = graft.operators.Dedup.weightedJaccardNewPairs(
        s, acc.unionByName(newCnt), newCnt.select("doc_id").distinct())
      appendDeltaBatch(newPairs, id, pairLog)
      appendDeltaBatch(newCnt, id, cntLog)
    })
    s.read.schema(pairSchema).parquet(pairLog).drop("batch_id")
  }

  /** Streaming image near-dup — `mm_phash_pairs` at INGEST, completing
    * the streaming near-dup arrival form across all three modalities:
    * images arrive across triggers, each micro-batch decodes its BMPs
    * to the 4×16-bit aHash chunks
    * ([[graft.operators.Multimodal.ahashChunks]] over the regenerated
    * payload), cross-trigger state is one row per asset (update-mode
    * max over the constant chunk values — arrival-order-insensitive),
    * and the drained state closes through the SAME multi-index hamming
    * join ([[graft.operators.Multimodal.phashPairsFromChunks]]) — the
    * final answer equals the batch pairs under any trigger split; the
    * oracle IS that query's SQL.
    */
  def streamImageNeardup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val chunks = stagedStream(s, s"$dir/documents.parquet", 4)
      .select($"doc_id", $"text")
      // per-batch decode fan-out: one staged file per trigger = ONE
      // scan task; hash-spread arrivals so the payload decode that
      // follows runs on every core (Tables.spread, guide §2.5)
      .transform(df => graft.Tables.spread(df, "doc_id"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        if (id % 3 != 0) Iterator.empty
        else graft.operators.Multimodal
          .ahashChunks(graft.operators.Multimodal.imageAssetPayload(id, text))
          .iterator.map(c => (id, c(0), c(1), c(2), c(3)))
      })
      .toDF("asset_id", "c0", "c1", "c2", "c3")
      .groupBy($"asset_id")
      .agg(max($"c0").as("c0"), max($"c1").as("c1"),
        max($"c2").as("c2"), max($"c3").as("c3"))
    val keys = runDeltaLog(chunks, "update", Seq("asset_id"))
    graft.operators.Multimodal.phashPairsFromChunks(s,
      keys.select("asset_id", "c0", "c1", "c2", "c3"))
  }

  /** Streaming image cluster maintenance — `mm_image_clusters` at
    * INGEST: the same per-asset chunk state as [[streamImageNeardup]]
    * plus the resolution keep-weight, drained through the SAME
    * pairs → connected components → keeper finalize
    * ([[graft.operators.Multimodal.imageClustersFromChunks]]). The
    * production shape: the stream maintains the cheap per-asset
    * fingerprints continuously; family resolution runs as a periodic
    * batch finalize over the state snapshot. Equals the batch clusters
    * under any trigger split; the oracle IS that query's SQL.
    */
  def streamImageClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val chunks = stagedStream(s, s"$dir/documents.parquet", 4)
      .select($"doc_id", $"text")
      // per-batch decode fan-out: one staged file per trigger = ONE
      // scan task; hash-spread arrivals so the payload decode that
      // follows runs on every core (Tables.spread, guide §2.5)
      .transform(df => graft.Tables.spread(df, "doc_id"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        if (id % 3 != 0) Iterator.empty
        else {
          val payload = graft.operators.Multimodal.imageAssetPayload(id, text)
          graft.operators.Multimodal.ahashChunksDims(payload)
            .map { case (c, w, h) =>
              (id, c(0), c(1), c(2), c(3), w.toLong * h)
            }.iterator
        }
      })
      .toDF("asset_id", "c0", "c1", "c2", "c3", "nw")
      .groupBy($"asset_id")
      .agg(max($"c0").as("c0"), max($"c1").as("c1"),
        max($"c2").as("c2"), max($"c3").as("c3"), max($"nw").as("nw"))
    val keys = runDeltaLog(chunks, "update", Seq("asset_id"))
    graft.operators.Multimodal.imageClustersFromChunks(s,
      keys.select("asset_id", "c0", "c1", "c2", "c3", "nw"))
  }

  /** Shuffle partitions every registered streaming query runs at. */
  val StatePartitions = 8

  /** The registered streaming queries. Each runs with the shuffle-
    * partition count sized to the query's STATE volume rather than the
    * session's batch default: a stateful micro-batch commits one
    * state-store delta per shuffle partition per trigger, so at
    * contract-fixture state volume (≤ a few thousand keys; a
    * stream-stream join keeps four stores per partition) 32 partitions
    * is pure per-trigger overhead. At production keyspace this number
    * goes UP; it is per-query state sizing either way. The scope covers
    * the whole body, drains included, and ends before the caller reads
    * the returned frame, so the delta-log reconstruction runs at the
    * session's own setting.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val bodies = Map[String, (SparkSession, String) => DataFrame](
      "stream_image_clusters" -> (streamImageClusters _),
      "stream_image_neardup" -> (streamImageNeardup _),
      "stream_weighted_jaccard" -> (streamWeightedJaccard _),
      "stream_ppjoin" -> (streamPpjoin _),
      "stream_video_neardup" -> (streamVideoNeardup _),
      "stream_audio_neardup" -> (streamAudioNeardup _),
      "stream_audio_containment" -> (streamAudioContainment _),
      "stream_exact_substr" -> (streamExactSubstr _),
      "stream_substr_savings" -> (streamSubstrSavings _),
      "stream_video_containment" -> (streamVideoContainment _),
      "stream_image_in_video" -> (streamImageInVideo _),
      "stream_anomaly_mad" -> (streamAnomalyMad _),
      "stream_lttb" -> (streamLttb _),
      "stream_cdc_chunks" -> (streamCdcChunks _),
      "stream_temperature_mix" -> (streamTemperatureMix _),
      "stream_value_drift" -> (streamValueDrift _),
      "stream_ar_forecast" -> (streamArForecast _),
      "stream_hist_quantiles" -> (streamHistQuantiles _),
      "stream_pacf" -> (streamPacf _),
      "stream_poisson_burst" -> (streamPoissonBurst _),
      "stream_ewma" -> (streamEwma _),
      "stream_changepoint" -> (streamChangepoint _),
      "stream_acf" -> (streamAcf _),
      "stream_dedup_incremental" -> (streamDedupIncremental _),
      "stream_cms_heavy" -> (streamCmsHeavy _),
      "stream_funnel" -> (streamFunnel _),
      "stream_bot_flags" -> (streamBotFlags _),
      "stream_embedding_sigs" -> (streamEmbeddingSigs _),
      "stream_kmeans_assign" -> (streamKmeansAssign _),
      "stream_ivfpq_ingest" -> (streamIvfPqIngest _),
      "stream_wordcount" -> (streamWordCount _),
      "stream_interval_count" -> (streamIntervalCount _),
      "stream_session_stats" -> (streamSessionStats _),
      "stream_dedup_exact" -> (streamDedupExact _),
      "stream_neardup" -> (streamNearDup _),
      "stream_click_attribution" -> (streamClickAttribution _),
      "stream_attribution_outer" -> (streamAttributionOuter _),
      "stream_mv_counts" -> (streamMvCounts _),
      "stream_hll_users" -> (streamHllUsers _),
      "stream_hourly_counts" -> (streamHourlyCounts _),
      "stream_static_enrich" -> (streamStaticEnrich _),
      "stream_dropdup_watermark" -> (streamDropdupWatermark _),
      "stream_dyadic_range" -> (streamDyadicRange _),
      "stream_topk_users" -> (streamTopkUsers _))
    bodies.map { case (name, body) =>
      name -> ((s: SparkSession, dir: String) =>
        withStatePartitions(s, StatePartitions)(body(s, dir)))
    }
  }

  def oracles(dir: String): Map[String, String] = {
    // the signature-ingest oracle embeds the size-derived planes for the
    // EXPLICIT dir (memo hit or deterministic recompute) — same doubles
    // the ingest query used for that collection
    val (npt, planes) = graft.operators.Similarity.ndParamsFor(dir)
    val (icents, cbs) = graft.operators.Similarity.ivfPqParamsFor(dir)
    baseOracles +
      ("stream_embedding_sigs" ->
        graft.operators.Similarity.embeddingSigsSql(npt, planes)) +
      ("stream_ivfpq_ingest" ->
        graft.operators.Similarity.ivfPqIngestSql(icents, cbs))
  }

  private def baseOracles: Map[String, String] = Map(
    // final streaming state must equal the batch answers
    "stream_audio_neardup" -> graft.operators.Multimodal.audioNeardupSql,
    "stream_audio_containment" -> graft.operators.Multimodal.audioContainmentSql,
    "stream_exact_substr" -> graft.operators.Dedup.exactSubstrSql,
    "stream_ppjoin" -> graft.operators.InvertedIndex.ppjoinSql,
    "stream_weighted_jaccard" -> graft.operators.Dedup.weightedJaccardSql,
    "stream_image_neardup" -> graft.operators.Multimodal.phashPairsSql,
    "stream_image_clusters" -> graft.operators.Multimodal.imageClustersSql,
    "stream_substr_savings" -> graft.operators.Dedup.substrSavingsSql,
    "stream_video_containment" -> graft.operators.Multimodal.videoContainmentSql,
    "stream_image_in_video" -> graft.operators.Multimodal.imageInVideoSql,
    "stream_video_neardup" -> graft.operators.Multimodal.videoNeardupSql,
    "stream_hist_quantiles" -> graft.operators.Sketches.histEstimateSql,
    "stream_value_drift" -> graft.operators.DataQuality.dqValueDriftSql,
    "stream_temperature_mix" -> graft.operators.Curation.temperatureMixSql,
    "stream_cdc_chunks" -> graft.operators.Dedup.cdcChunksSql,
    "stream_lttb" -> graft.operators.TimeSeries.lttbSql,
    "stream_anomaly_mad" -> graft.operators.TimeSeries.anomalyMadSql,
    "stream_pacf" -> graft.operators.TimeSeries.pacfSql,
    "stream_ar_forecast" -> graft.operators.TimeSeries.arForecastSql,
    "stream_poisson_burst" -> graft.operators.TimeSeries.poissonBurstSql,
    "stream_ewma" -> graft.operators.TimeSeries.ewmaDailySql,
    "stream_changepoint" -> graft.operators.TimeSeries.changepointSql,
    "stream_acf" -> graft.operators.TimeSeries.acfSql,
    "stream_dedup_incremental" -> graft.operators.Dedup.dedupIncrementalSql,
    "stream_funnel" -> graft.operators.EventOps.funnelSql,
    "stream_cms_heavy" -> graft.operators.Sketches.cmsHeavySql,
    "stream_dyadic_range" -> graft.operators.Sketches.dyadicRangeCountSql,
    "stream_bot_flags" -> graft.operators.EventOps.botFlagsSql,
    "stream_wordcount" -> graft.operators.TextOps.wordCountSql,
    "stream_kmeans_assign" -> graft.operators.KMeans.streamAssignSql,
    "stream_interval_count" -> graft.operators.EventOps.intervalCountSql,
    "stream_session_stats" -> graft.operators.EventOps.sessionStatsSql,
    "stream_dedup_exact" -> graft.operators.Dedup.exactDedupSql,
    // keep set = documents minus the larger side of every verified
    // near-dup pair — the batch MinHash-LSH pipeline restated whole
    "stream_neardup" ->
      s"""SELECT d.doc_id AS kept_doc_id FROM documents d
         |WHERE d.doc_id NOT IN (
         |  SELECT doc_b FROM (${graft.operators.Dedup.minhashLshSql}) p)""".stripMargin,
    "stream_click_attribution" -> streamClickAttributionSql,
    "stream_attribution_outer" -> streamAttributionOuterSql,
    "stream_mv_counts" -> streamMvCountsSql,
    "stream_hll_users" -> graft.operators.Sketches.hllUsersSql,
    "stream_hourly_counts" -> graft.operators.EventOps.hourlyCountsSql,
    "stream_static_enrich" -> streamStaticEnrichSql,
    "stream_dropdup_watermark" -> streamDropdupWatermarkSql,
    "stream_topk_users" -> streamTopkUsersSql)
}
