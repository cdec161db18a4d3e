package lambdabench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import Workload.median

/** One benchmark run of one workload in this JVM.
  *
  * Usage: Main --workload W --data DIR --work DIR --seconds N --trace 0|1
  *
  * Set-up (session start, staging, the warm-up pass) is timed from JVM
  * start. Timed passes then repeat until `--seconds` have passed and at
  * least [[MinPasses]] have run, each starting with `graft.Memo.evictAll()`;
  * each pass's [[Cost]] is read around it. With `--trace 1`, untraced and
  * traced passes alternate, and layer probes run after them. The warm-up
  * pass writes its outputs for the checks; every other pass uses the
  * `noop` sink.
  *
  * The result is one JSON object, printed as the last line of stdout. A
  * fatal error (an OOM, a stopped SparkContext)
  * prints what was measured so far, marked `"partial": true`, and exits 3.
  */
object Main {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Timed passes a run makes at least, so that a median over passes never
    * rests on one or two.
    */
  val MinPasses = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> a("workload"), "nproc" -> Runtime.getRuntime.availableProcessors,
      "load_start" -> loadavg(), "partial" -> true)
    val code =
      try { run(a, result); result("partial") = false; 0 }
      catch {
        case t: Throwable =>
          result("error") = t.toString
          System.err.println(s"[lambdabench] run ended early: $t")
          3
      }
    result("load_end") = loadavg()
    println(Json(result))
    System.out.flush()
    // Spark leaves non-daemon threads behind; end the JVM explicitly
    System.exit(code)
  }

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
    catch { case _: java.io.IOException => "unknown" }

  /** Heap in use after full collections. Blocks of RDDs that a pass left
    * unreachable are dropped by the ContextCleaner once a collection has
    * found them, so a second collection after a short pause measures what
    * the program really retains.
    */
  private def heapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The settings of graft.Bench's session, at local[nproc]. */
  private def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "1200s")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** DuckDB oracle SQL of the measured queries, taken from the modules that
    * register them (the same strings `SparkEntry.oracleSqlFor` collects,
    * without the parameter fits that other queries' oracles need).
    */
  private val oracleSql: Map[String, String] = {
    import graft.operators._
    Map("wordcount" -> TextOps.wordCountSql,
      "stream_interval_count" -> EventOps.intervalCountSql) ++
      Pipeline.oracles ++ EventOps.oracles
  }

  private def run(a: Map[String, String], result: mutable.Map[String, Any]): Unit = {
    val (work, data) = (a("work"), a("data"))
    val spark = session(Runtime.getRuntime.availableProcessors, work)
    result("session_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val ops = new Ops(spark)
    val w: Workload = a("workload") match {
      case "tweet_stream" => new TweetStream(spark, data, work)
      case "lambda_batch" => new LambdaBatch(spark, data)
      case other          => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try measure(a, result, w, ops, new Trace(spark))
    finally {
      result("attempted") = ops.attempted
      result("failed") = ops.failed
      result("failures") = ops.failures.toSeq
    }
    if (w.isInstanceOf[LambdaBatch])
      result("oracle_sql") = (LambdaBatch.queries ++ LambdaBatch.twins)
        .flatMap(q => oracleSql.get(q).map(q -> _)).toMap
    spark.stop()
  }

  private def measure(a: Map[String, String], result: mutable.Map[String, Any],
      w: Workload, ops: Ops, trace: Trace): Unit = {
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    w.stage()
    graft.Memo.evictAll()
    val warm0 = System.nanoTime()
    // the warm-up pass writes its outputs for the checks at the end
    w.pass(ops, Some(s"${a("work")}/out"))
    result("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3
    result("warmup_s") = (System.nanoTime() - warm0) / 1e9

    val untraced = mutable.ArrayBuffer.empty[(PassOut, Cost)]
    val tracedPasses = mutable.ArrayBuffer.empty[(PassOut, Map[String, Double])]
    // every timed pass starts after the same full collections
    var heap = heapMb()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (untraced.size < MinPasses || (traced && tracedPasses.isEmpty) || elapsed < seconds) {
      val tracedNow = traced && untraced.size > tracedPasses.size
      if (tracedNow) { trace.attach(); trace.reset() }
      graft.Memo.evictAll()
      val wall0 = System.currentTimeMillis()
      val c0 = Cost.now()
      val p = w.pass(ops)
      val cost = Cost.now() - c0
      if (tracedNow) {
        tracedPasses += p -> trace.snapshot(wall0, System.currentTimeMillis())
        trace.detach()
      } else untraced += p -> cost
      heap = heap.max(heapMb())
      val passes = untraced.toSeq.map(_._1)
      val costs = untraced.toSeq.map(_._2)
      result("passes") = passes.size
      result("pass_s_all") = passes.map(_.seconds)
      result("pass_s") = median(passes.map(_.seconds))
      result("records_per_s") = median(passes.map(p => p.records / p.seconds))
      result("op_s_p50") = median(passes.flatMap(_.opSeconds))
      result("alloc_mb") = median(costs.map(_.allocMb))
      result("read_mb") = median(costs.map(_.readMb))
      result("write_mb") = median(costs.map(_.writeMb))
      result("cost_all") = costs.map(c => Seq(c.allocMb, c.readMb, c.writeMb))
      result("heap_mb") = heap
      result("facts") = passes.map(_.facts)
      result("query_s") = passes.flatMap(_.queries).groupBy(_._1).map { case (q, xs) =>
        q -> median(xs.map(_._2)) }
    }

    if (traced) {
      val layers = mutable.LinkedHashMap.empty[String, Double]
      val perPass = tracedPasses.toSeq.map { case (p, snap) =>
        snap ++ p.layer ++ p.queries.map { case (q, s) => s"query.${q}_s" -> s }
      }
      perPass.flatMap(_.keys).distinct.foreach(k =>
        layers(k) = median(perPass.flatMap(_.get(k))))
      layers ++= w.probes(ops)
      // one pass that reuses the memo caches the previous pass filled
      layers("memo.warm_pass_s") = w.pass(ops).seconds
      layers("bench.trace_overhead") =
        median(tracedPasses.toSeq.map(_._1.seconds)) / median(untraced.toSeq.map(_._1.seconds))
      Seq("pass_s", "records_per_s", "op_s_p50").foreach(k =>
        layers(s"bench.$k") = result(k).asInstanceOf[Double])
      result("traced_pass_s_all") = tracedPasses.toSeq.map(_._1.seconds)
      result("layers") = layers
    }
  }
}

/** What a pass costs the process, read around it: heap allocated by all
  * threads (those that ended during the pass too), and bytes moved through
  * read and write calls (`rchar`, `wchar` of /proc/self/io: input scans,
  * shuffle files, checkpoints, state-store files, logs). Unlike times, they
  * barely move when other tenants of the host slow the machine down.
  */
final case class Cost(allocMb: Double, readMb: Double, writeMb: Double) {
  def -(o: Cost): Cost = Cost(allocMb - o.allocMb, readMb - o.readMb, writeMb - o.writeMb)
}

object Cost {
  private val threads =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  def now(): Cost = {
    val io = scala.io.Source.fromFile("/proc/self/io")
    val kv = try io.getLines().map(_.split(":\\s+")).collect { case Array(k, v) => k -> v.toLong }.toMap
      finally io.close()
    Cost(threads.getTotalThreadAllocatedBytes / 1048576.0, kv("rchar") / 1048576.0,
      kv("wchar") / 1048576.0)
  }
}

/** Minimal JSON writer for the result object. */
object Json {
  def apply(v: Any): String = v match {
    case null                   => "null"
    case s: String              => quote(s)
    case b: Boolean             => b.toString
    case d: Double              => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int                 => n.toString
    case n: Long                => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]        => xs.map(apply).mkString("[", ",", "]")
    case other                  => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }
}
