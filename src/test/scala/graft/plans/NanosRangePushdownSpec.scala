package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

/** The ts_ns range-predicate rewrite: user filters on the DERIVED
  * epoch-nanos column must reach the parquet scan as timestamp
  * PushedFilters, and every comparison must stay boundary-exact —
  * including nanos literals that are NOT multiples of 1000, where the
  * ceil/floor choice is what keeps the rewrite lossless.
  */
class NanosRangePushdownSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  val sf = graft.TestSpark.sf

  private def ev = graft.Tables.events(spark, sf)

  private lazy val allNs: Array[Long] =
    ev.select("ts_ns").collect().map(_.getLong(0))

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  test("ts_ns range filter pushes down as timestamp bounds on the scan") {
    val lo = allNs.min + 1234567L
    val hi = allNs.max - 1234567L
    val df = ev.filter(col("ts_ns") >= lo && col("ts_ns") < hi)
    val p = plan(df)
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("GreaterThanOrEqual(ts,") &&
      pushed.contains("LessThan(ts,"), s"not pushed:\n$pushed")
    // and no residual arithmetic comparison survives in the FILTER
    // condition (the Project still computes ts_ns for output — that's
    // the column's job; only the predicate must be rewritten)
    val cond = p.linesIterator.find(_.trim.startsWith("Condition")).getOrElse("")
    assert(!cond.contains("unix_micros"),
      s"rewrite left the derived form in the filter: $cond")
  }

  test("every comparison is boundary-exact for non-multiple-of-1000 literals") {
    // pick a literal straddling a real value: data is µs-precision, so
    // every ts_ns is a multiple of 1000 — probe ±1 and ±999 around one
    val v = allNs.sorted.apply(allNs.length / 2)
    for (l <- Seq(v - 999L, v - 1L, v, v + 1L, v + 999L, v + 1000L)) {
      def n(pred: org.apache.spark.sql.Column): Long = ev.filter(pred).count()
      assert(n(col("ts_ns") >= l) == allNs.count(_ >= l).toLong, s">= $l")
      assert(n(col("ts_ns") > l) == allNs.count(_ > l).toLong, s"> $l")
      assert(n(col("ts_ns") <= l) == allNs.count(_ <= l).toLong, s"<= $l")
      assert(n(col("ts_ns") < l) == allNs.count(_ < l).toLong, s"< $l")
      assert(n(col("ts_ns") === l) == allNs.count(_ == l).toLong, s"= $l")
      // mirrored literal-first forms
      assert(n(org.apache.spark.sql.functions.lit(l) <= col("ts_ns")) ==
        allNs.count(_ >= l).toLong, s"$l <= ts_ns")
      assert(n(org.apache.spark.sql.functions.lit(l) > col("ts_ns")) ==
        allNs.count(_ < l).toLong, s"$l > ts_ns")
    }
  }

  test("NOT(ts_ns = non-multiple) is null-correct for a nullable ts") {
    // The EqualTo→never rewrite fires at ANY depth of the condition via
    // transformUp; under NOT(...) a naked FALSE would flip semantics
    // for null rows (NOT(NULL)=NULL drops, NOT(FALSE)=TRUE keeps). The
    // fixture ts is non-null, so build a 3-row frame with a null.
    import spark.implicits._
    graft.Session.install(spark)
    val df = Seq(Some("2024-01-10 00:00:00"), Some("2024-01-11 00:00:00"),
        None).toDF("s")
      .selectExpr("CAST(s AS TIMESTAMP) AS ts")
      .selectExpr("ts", "unix_micros(ts) * 1000 AS ts_ns")
    val l = 1704844800000000001L // non-multiple of 1000
    // standard SQL: non-null rows -> NOT(FALSE)=TRUE kept; null row ->
    // NOT(NULL)=NULL dropped
    val kept = df.filter(!(col("ts_ns") === l))
    assert(kept.count() == 2L, "null ts row must drop under NOT(=)")
    assert(kept.filter(col("ts").isNull).count() == 0L)
    // the plain equality stays 0-rows (never true, null drops too)
    assert(df.filter(col("ts_ns") === l).count() == 0L)
    // and the rewrite DID fire — no derived arithmetic survives in the
    // optimized filter condition
    val p = kept.queryExecution.optimizedPlan.toString
    assert(!p.contains("unix_micros") || !p.contains("= " + l),
      s"rewrite did not fire:\n$p")
  }

  test("null-bearing PARQUET events variant: rule-on row sets match standard semantics end-to-end") {
    // The registered fixtures have non-null ts; this writes a variant
    // WITH nulls through parquet (so the rule faces a real scan, with
    // pushdown in play) and pins every rewrite family's row set against
    // counts computed from the raw data.
    import spark.implicits._
    graft.Session.install(spark)
    val dir = java.nio.file.Files.createTempDirectory("nulls_ts").toString
    val rows = Seq(Some("2024-01-10 01:02:03.000004"),
      Some("2024-01-12 00:00:00"), None, Some("2024-01-14 23:59:59.999999"),
      None)
    rows.toDF("s").selectExpr("CAST(s AS TIMESTAMP) AS ts")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .selectExpr("ts", "unix_micros(ts) * 1000 AS ts_ns")
    val micros = Seq(1704848523000004L, 1705017600000000L, 1705276799999999L)
    val mid = 1705017600000000L * 1000L + 1L // non-multiple of 1000
    def n(c: org.apache.spark.sql.Column): Long = df.filter(c).count()
    assert(n(col("ts_ns") >= mid) == micros.count(_ * 1000L >= mid).toLong)
    assert(n(col("ts_ns") < mid) == micros.count(_ * 1000L < mid).toLong)
    assert(n(col("ts_ns") === mid) == 0L)
    // NOT(=): non-null rows kept, null rows dropped (NOT(NULL) = NULL)
    assert(n(!(col("ts_ns") === mid)) == 3L)
    // NOT over a range predicate: null rows must also drop
    assert(n(!(col("ts_ns") >= mid)) == micros.count(_ * 1000L < mid).toLong)
    // IS NULL survives untouched
    assert(n(col("ts_ns").isNull) == 2L)
  }

  test("interval count through ts_ns equals the tsLit-form registered query") {
    val lo = 1704844800000000000L // 2024-01-10T00:00:00Z nanos
    val hi = 1705708800000000000L // 2024-01-20T00:00:00Z nanos
    val viaNs = ev.filter(col("ts_ns") >= lo && col("ts_ns") < hi)
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaTs = graft.operators.EventOps.intervalCount(spark, sf)
      .select("event_type", "cnt")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaNs == viaTs)
  }
}
