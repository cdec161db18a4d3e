package graft

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (see TESTDATA.md)
  * and the one parquet reader of the program.
  *
  * Spark infers a schema-less parquet read's schema with a Spark job
  * (`ParquetUtils.inferSchema` → `SchemaMergeUtils.mergeSchemasInParallel`)
  * that reads one footer. [[read]] and [[schemaOf]] get the same schema
  * on the driver instead: they list the path, take the first data file
  * by path (Spark's rule when schemas are not merged), and convert its
  * footer with Spark's own converter under the session's settings, so
  * the scan starts with a declared schema and no inference job. Where
  * that rule is not the whole of Spark's ([[footerSchema]]) they leave
  * the read to Spark, so its schema and its errors stay Spark's. The
  * footer is read on every call: nothing is cached. Catalyst still
  * prunes columns at the scan.
  */
object Tables {

  /** `path`'s parquet, scanned with the schema Spark would infer. */
  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  /** The schema of `spark.read.parquet(path)`, without its inference job. */
  def schemaOf(spark: SparkSession, path: String): StructType =
    footerSchema(spark, path).getOrElse(spark.read.parquet(path).schema)

  /** Spark's inferred schema of `path`, from one footer read on the
    * driver, when `path` is one parquet file or a flat directory of them.
    * None, so that Spark infers it, for a glob, schema merging, no data
    * file, any error, or an entry that makes Spark's listing more than a
    * flat list of data files: a subdirectory (`k=v` partitions) or a
    * `_`-name Spark reads (`_metadata`, `_common_metadata`,
    * `_spark_metadata`, a `_k=v` partition). Names Spark's file index
    * hides (`.x`, `x._COPYING_`, `_SUCCESS`) are skipped.
    */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    if (path.exists("{}[]*?\\".contains(_)) ||
        spark.sessionState.conf.isParquetSchemaMergingEnabled) None
    else try {
      val conf = spark.sessionState.newHadoopConf()
      val root = new Path(path)
      val leaves = root.getFileSystem(conf).listStatus(root).toSeq.filterNot { f =>
        val n = f.getPath.getName
        n.startsWith(".") || n.endsWith("._COPYING_") || n == "_SUCCESS"
      }
      if (leaves.isEmpty || leaves.exists(f => f.isDirectory || f.getPath.getName.startsWith("_")))
        None
      else {
        val first = leaves.minBy(_.getPath.toString)
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(first, conf), SKIP_ROW_GROUPS)
        val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
        Some(ColumnBridge.asNullable(ParquetFileFormat.readSchemaFromFooter(
          new Footer(first.getPath, footer), converter)))
      }
    } catch { case NonFatal(_) => None }

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  /** Raw `events` rows with `ts` normalized to the engine's canonical
    * epoch-NANOS BIGINT, whatever the fixture vintage wrote:
    *   - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it,
    *     so `nanosAsLong` reads it as the raw int64 — already nanos;
    *   - parquet TIMESTAMP(MICROS) (newer testdata vintages): read as a
    *     timestamp (NTZ inference OFF so the stored micros surface as
    *     tz-independent epoch micros — verified equal to DuckDB
    *     `epoch_us` under both UTC and non-UTC session zones) and
    *     multiply to nanos.
    * Column order is preserved so staged/streamed copies keep the
    * contract schema `(event_id, ts BIGINT, user_id, event_type, value,
    * props)`.
    */
  def eventsRawNanos(s: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    Session.install(s)
    val df = read(s, path)
    df.schema.fields.find(_.name == "ts") match {
      case Some(f) if f.dataType == org.apache.spark.sql.types.LongType => df
      case Some(_) =>
        df.select(df.columns.map {
          case "ts" => expr("unix_micros(ts) * 1000L").as("ts")
          case c    => col(c)
        }: _*)
      case None => df
    }
  }

  /** `events` with the raw int64 nanos exposed as `ts_ns` and a µs
    * `ts` timestamp. On nanos-native fixtures `ts_ns` IS the scan
    * column (plain int64 comparison → pushed to the scan + row-group
    * min/max pruning) and `ts` is derived; on micros-native vintages
    * `ts` stays the NATIVE scan column (timestamp predicates push
    * down) and `ts_ns` is the derived projection. Both layouts yield
    * identical values (`ts == timestamp_micros(ts_ns div 1000)`
    * exactly, since micros fixtures carry no sub-µs digits).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    // user predicates on the derived ts_ns still push down to the scan
    // (NanosRangePushdown)
    Session.install(s)
    val df = t(s, d, "events")
    if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumnRenamed("ts", "ts_ns")
        .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
    else {
      // mirror the nanos-vintage column order exactly:
      // (event_id, ts_ns, user_id, event_type, value, props, ts)
      val renamed = df.columns.toSeq.map {
        case "ts" => expr("unix_micros(ts) * 1000L").as("ts_ns")
        case c    => col(c)
      }
      df.select(renamed :+ col("ts"): _*)
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Scale-adaptive scan fan-out (optimization guide §2.5 "repartition
    * immediately after the read" for low-parallelism sources): the
    * fixture tables are SINGLE-ROW-GROUP parquet files, so a scan —
    * and with it every per-row map stage before the first exchange
    * (tokenize, k-gram, md5, payload decode) — plans as ONE task no
    * matter how many cores the session has; byte-range splitting can't
    * help because a parquet split only yields the row groups whose
    * midpoint it contains. When the planned scan parallelism is below
    * the session default, redistribute rows by a DETERMINISTIC hash of
    * the row key before the heavy map work (deterministic, not
    * round-robin, per guide §2.5's retry-duplication warning); at
    * production split counts (row groups ≫ cores) the condition is
    * false and this is the identity — no extra exchange. On a
    * STREAMING frame partition counts aren't knowable at plan time, so
    * the fan-out is unconditional: each micro-batch pays one hash
    * shuffle of its raw arrival rows (at the session's state-sized
    * shuffle partitioning) so the gram/decode fan-out that follows —
    * which dwarfs the raw bytes — runs on every core instead of one
    * task per source file.
    */
  def spread(df: DataFrame, key: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (df.isStreaming) df.repartition(col(key))
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions >= target) df
      else df.repartition(target, col(key))
    }
  }

  /** Cheap content fingerprint of `$dir/$name.parquet` (file or
    * directory tree): folds every file's path, size, and mtime. Used to
    * key the per-dir parameter memos (LSH plane counts, IVF centroids,
    * PQ codebooks, SimHash chunk shape) so that rewriting a fixture path
    * within one JVM invalidates the derived parameters instead of
    * silently reusing the old data's — a driver-side metadata walk, no
    * data read.
    */
  def fingerprint(dir: String, name: String): String =
    fingerprintPath(s"$dir/$name.parquet")

  def fingerprintPath(path: String): String = {
    def fold(f: java.io.File, acc: Long): Long =
      if (f.isDirectory) {
        // listFiles() returns null (not empty) on IO/permission errors —
        // fold a distinct marker so an unreadable dir never fingerprints
        // equal to an empty one
        val kids = Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        val withCount = acc * 1000003L ^ (kids.length + 1).toLong
        kids.sortBy(_.getName).foldLeft(withCount)((a, c) => fold(c, a))
      } else {
        // nanosecond mtime where the filesystem provides it: a same-length
        // rewrite within one coarse-mtime tick must still change the print
        val mtimeNanos =
          try java.nio.file.Files.getLastModifiedTime(f.toPath)
            .to(java.util.concurrent.TimeUnit.NANOSECONDS)
          catch { case _: java.io.IOException => f.lastModified() }
        var h = acc
        h = h * 1000003L ^ f.getPath.hashCode.toLong
        h = h * 1000003L ^ f.length()
        h = h * 1000003L ^ mtimeNanos
        h
      }
    val root = new java.io.File(path)
    if (!root.exists()) "absent"
    else java.lang.Long.toHexString(fold(root, 0xcbf29ce484222325L))
  }
}
