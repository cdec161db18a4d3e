package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** File-format source/sink surface beyond parquet: CSV and JSON with
  * explicit schemas (schema-on-read is never inferred in the engine —
  * the reference's schemas are compile-time, SURVEY.md §1).
  *
  * Each query is a full write→read round-trip: the parquet table is
  * exported to the format under test, read back with a declared schema,
  * and aggregated. The oracle runs on the original parquet — so the
  * round-trip must be lossless for the hash compare to pass (doubles
  * survive CSV because Spark writes round-trippable shortest-form
  * decimals; timestamps are excluded — they are format-fragile and
  * tested in parquet paths).
  */
object FileSources {

  private def tmp(prefix: String): String = graft.TempDirs.scoped(prefix)

  private val eventsLite = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** CSV round-trip: export → schema-on-read import → aggregate. */
  def csvRoundTrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = tmp("graft_csv")
    Tables.events(s, dir)
      .select($"event_id", $"user_id", $"event_type", $"value")
      .write.mode("overwrite").option("header", "true").csv(out)
    s.read.schema(eventsLite).option("header", "true").csv(out)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("cnt"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("sum_value"),
        countDistinct($"user_id").as("n_users"))
  }

  val csvRoundTripSql: String =
    """SELECT event_type, count(*) AS cnt,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |  count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY event_type""".stripMargin

  /** Malformed-record handling at the file-source boundary — the
    * reference's P1 (drop-and-count) vs P2 (surface the failure)
    * dichotomy applied to schema-on-read sources
    * (reference `storm/bolts/AvroDecoderBolt.scala:58-77` vs
    * `storm/serialization/AvroScheme.scala:35-80`): a staged CSV dir
    * holds the valid export PLUS a planted file of 3 unparseable lines.
    * PERMISSIVE mode keeps every row and routes failures to the
    * `_corrupt_record` column (counted, never failing the job);
    * DROPMALFORMED re-reads the same dir and must yield exactly the
    * valid rows. Both modes' counts land in one result so the oracle
    * pins the full contract: n_valid from the source table, n_bad = 3,
    * dropmalformed == n_valid, and the value sum proves corrupt rows
    * contribute nothing to aggregates.
    */
  def csvBadRecords(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = tmp("graft_badcsv")
    Tables.events(s, dir)
      .select($"event_id", $"user_id", $"event_type", $"value")
      .write.mode("overwrite").csv(out)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out, "part-99999-planted-bad.csv"),
      "bad,bad,planted,bad\nbad,bad,planted,bad\nbad,bad,planted,bad\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val withCorrupt = StructType(eventsLite.fields :+
      StructField("_corrupt_record", StringType))
    val permissive = s.read.schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(out)
      .agg(count(when($"_corrupt_record".isNull, 1)).as("n_valid"),
        count(when($"_corrupt_record".isNotNull, 1)).as("n_bad"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("sum_value"))
    // the aggregate MUST touch a typed column: CSV column pruning means a
    // bare count(*) parses nothing, so malformed fields are never seen
    // and DROPMALFORMED drops nothing — the planted rows fail on the
    // double-typed value field only when it is actually parsed
    val dropped = s.read.schema(eventsLite)
      .option("mode", "DROPMALFORMED").csv(out)
      .agg(count(lit(1)).as("n_dropmalformed"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("drop_sum"))
    permissive.crossJoin(dropped)
  }

  val csvBadRecordsSql: String =
    """SELECT count(*) AS n_valid, CAST(3 AS BIGINT) AS n_bad,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |  count(*) AS n_dropmalformed,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS drop_sum
      |FROM events""".stripMargin

  /** JSON-lines round-trip: same contract through the JSON reader. */
  def jsonRoundTrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = tmp("graft_json")
    Tables.documents(s, dir)
      .select($"doc_id", $"lang", $"source", $"n_chars")
      .write.mode("overwrite").json(out)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    s.read.schema(schema).json(out)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"),
        countDistinct($"source").as("n_sources"))
  }

  val jsonRoundTripSql: String =
    """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  count(DISTINCT source) AS n_sources
      |FROM documents GROUP BY lang""".stripMargin

  /** JSON extraction from an embedded payload column: `events.props`
    * holds a JSON object; pull a typed field out with from_json (the
    * schema-applied decode P2 analog for text payloads).
    */
  def jsonExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val props = StructType(Seq(StructField("k", LongType)))
    Tables.events(s, dir)
      .select($"event_type", from_json($"props", props).getField("k").as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("cnt"), sum($"k").as("sum_k"))
  }

  val jsonExtractSql: String =
    """SELECT event_type, count(*) AS cnt,
      |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
      |FROM events GROUP BY event_type""".stripMargin

  /** Hive-style partitioned layout: write events partitioned by day,
    * read back with a day predicate — the query planner prunes to the
    * matching directories before any file is opened (`PartitionFilters`
    * in the scan). This is the layout that turns a 100 TB scan into a
    * per-day scan; asserted in the spec, oracle-checked for counts.
    */
  def partitionedLayout(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = tmp("graft_part")
    Tables.events(s, dir)
      .select($"event_id", $"event_type", $"value",
        date_format(date_trunc("day", $"ts"), "yyyy-MM-dd").as("dt"))
      .write.mode("overwrite").partitionBy("dt").parquet(out)
    // the partition directory column comes back type-inferred as DATE;
    // filter on it raw (pruning), cast to string only at the output
    Tables.read(s, out)
      .where($"dt" >= "2024-01-05" && $"dt" < "2024-01-08")
      .groupBy($"dt".cast("string").as("dt"), $"event_type")
      .agg(count(lit(1)).as("cnt"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("sum_value"))
  }

  val partitionedLayoutSql: String =
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS dt,
      |  event_type, count(*) AS cnt,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE strftime(date_trunc('day', ts), '%Y-%m-%d') >= '2024-01-05'
      |  AND strftime(date_trunc('day', ts), '%Y-%m-%d') < '2024-01-08'
      |GROUP BY 1, 2""".stripMargin

  /** ORC round-trip: the columnar alternative to parquet Spark ships
    * natively. Decimal money values survive exactly (stored as decimal,
    * not re-parsed text); DuckDB never reads the ORC — its oracle runs
    * on the original parquet, which the round-trip must reproduce.
    */
  def orcRoundTrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = tmp("graft_orc")
    Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_returnflag",
        $"l_quantity", $"l_extendedprice")
      .write.mode("overwrite").orc(out)
    s.read.orc(out)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("cnt"),
        sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("sum_price"),
        countDistinct($"l_orderkey").as("n_orders"))
  }

  val orcRoundTripSql: String =
    """SELECT l_returnflag, count(*) AS cnt,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  count(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Plain-text round-trip: the corpus exported one document per line
    * via the text writer, read back with the text source, aggregated.
    * Line counts and character mass must survive — the ingestion path
    * for raw text dumps (the most common LLM-corpus landing format).
    */
  def textRoundTrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = tmp("graft_text")
    Tables.documents(s, dir).select($"text")
      .write.mode("overwrite").text(out)
    s.read.text(out)
      .agg(count(lit(1)).as("n_lines"),
        sum(length($"value")).as("sum_chars"))
  }

  val textRoundTripSql: String =
    """SELECT count(*) AS n_lines,
      |  CAST(sum(length(text)) AS BIGINT) AS sum_chars
      |FROM documents""".stripMargin

  /** Gzip-compressed text round-trip — raw crawl corpora (WET-style
    * dumps) arrive exactly like this. Gzip is NOT splittable: each
    * .txt.gz is one task regardless of size, so the writer's file count
    * IS the read parallelism — the operational reason a 100 TB pipeline
    * re-containers gzip text into parquet/zstd on first touch (the
    * `src_parquet_zstd_roundtrip` path). Verified by an
    * order-independent CONTENT fingerprint (sum of per-line md5-60 over
    * a 38-digit decimal), not just counts — a dropped or duplicated
    * line anywhere in the compressed stream fails the oracle.
    */
  def textGzip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = tmp("graft_textgz")
    Tables.documents(s, dir).select($"text")
      .write.option("compression", "gzip").mode("overwrite").text(out)
    s.read.text(out)
      .agg(count(lit(1)).as("n_lines"),
        sum(length($"value")).as("sum_chars"),
        sum(conv(substring(md5($"value"), 1, 15), 16, 10)
          .cast("decimal(38,0)")).cast("string").as("content_fp"))
  }

  val textGzipSql: String =
    """SELECT count(*) AS n_lines,
      |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
      |  CAST(CAST(sum(CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT))
      |    AS DECIMAL(38,0)) AS VARCHAR) AS content_fp
      |FROM documents""".stripMargin

  /** Opaque-file ingestion via the `binaryFile` source — how encoded
    * media lands in the engine when it arrives as loose object-store
    * files rather than rows: the corpus is written out as text files,
    * then scanned back as whole binary blobs (path, length, content).
    * The byte mass must equal the source text's UTF-8 bytes plus one
    * newline per document, independent of how many files the writer
    * produced — which is exactly what makes the check file-layout-proof
    * and the source suitable for multimodal payload ingestion
    * ([[graft.operators.Multimodal]] consumes the same shape).
    */
  def binaryFileScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = tmp("graft_binfile")
    Tables.documents(s, dir).select($"text")
      .write.mode("overwrite").text(out)
    s.read.format("binaryFile").option("pathGlobFilter", "*.txt")
      .load(out)
      .agg(sum($"length").as("total_bytes"))
  }

  val binaryFileScanSql: String =
    """SELECT CAST(sum(strlen(text)) + count(*) AS BIGINT) AS total_bytes
      |FROM documents""".stripMargin

  /** Parquet zstd round-trip — codec control on the write path (zstd is
    * the default choice for cold 100 TB corpora: ~30% smaller than
    * snappy at similar scan cost); the read back must be bit-lossless
    * including decimals-in-doubles.
    */
  def parquetZstdRoundTrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = tmp("graft_zstd")
    Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_partkey", $"l_quantity", $"l_extendedprice")
      .write.mode("overwrite").option("compression", "zstd").parquet(out)
    Tables.read(s, out)
      .agg(count(lit(1)).as("n_rows"),
        sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum($"l_extendedprice".cast("decimal(18,2)")).cast("double")
          .as("sum_price"),
        countDistinct($"l_orderkey").as("n_orders"))
  }

  val parquetZstdRoundTripSql: String =
    """SELECT count(*) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  count(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem""".stripMargin

  /** Schema evolution across parquet batches — the 100 TB lake reality
    * that a static-schema reader breaks on: an early writer produced
    * (event_id, user_id), a later one added event_type, and one scan
    * must read both vintages. `mergeSchema` unions the footers into the
    * widest schema; rows from the old vintage surface the added column
    * as NULL. The aggregate pins exactly that contract: total rows,
    * NULL-backfilled old rows, and the distinct types contributed only
    * by the new vintage. The oracle restates the vintage split from the
    * source table (even event_ids were written old-style).
    */
  def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = tmp("graft_evolve")
    val ev = Tables.events(s, dir).select($"event_id", $"user_id", $"event_type")
    ev.filter($"event_id" % 2 === 0).select($"event_id", $"user_id")
      .write.mode("overwrite").parquet(s"$out/v1")
    ev.filter($"event_id" % 2 === 1)
      .write.mode("overwrite").parquet(s"$out/v2")
    s.read.option("mergeSchema", "true").parquet(s"$out/v1", s"$out/v2")
      .agg(count(lit(1)).as("n_rows"),
        count(when($"event_type".isNull, 1)).as("n_backfilled"),
        countDistinct($"event_type").as("n_types"))
  }

  val schemaEvolutionSql: String =
    """SELECT count(*) AS n_rows,
      |  count(CASE WHEN event_id % 2 = 0 THEN 1 END) AS n_backfilled,
      |  count(DISTINCT CASE WHEN event_id % 2 = 1 THEN event_type END) AS n_types
      |FROM events""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "src_schema_evolution" -> (schemaEvolution _),
    "src_parquet_zstd_roundtrip" -> (parquetZstdRoundTrip _),
    "src_text_roundtrip" -> (textRoundTrip _),
    "src_binaryfile_scan" -> (binaryFileScan _),
    "src_csv_roundtrip" -> (csvRoundTrip _),
    "src_csv_badrecords" -> (csvBadRecords _),
    "src_json_roundtrip" -> (jsonRoundTrip _),
    "src_json_extract" -> (jsonExtract _),
    "src_orc_roundtrip" -> (orcRoundTrip _),
    "src_partitioned_layout" -> (partitionedLayout _),
    "src_text_gzip" -> (textGzip _))

  def oracles: Map[String, String] = Map(
    "src_schema_evolution" -> schemaEvolutionSql,
    "src_parquet_zstd_roundtrip" -> parquetZstdRoundTripSql,
    "src_text_roundtrip" -> textRoundTripSql,
    "src_binaryfile_scan" -> binaryFileScanSql,
    "src_csv_roundtrip" -> csvRoundTripSql,
    "src_csv_badrecords" -> csvBadRecordsSql,
    "src_json_roundtrip" -> jsonRoundTripSql,
    "src_json_extract" -> jsonExtractSql,
    "src_orc_roundtrip" -> orcRoundTripSql,
    "src_partitioned_layout" -> partitionedLayoutSql,
    "src_text_gzip" -> textGzipSql)
}
