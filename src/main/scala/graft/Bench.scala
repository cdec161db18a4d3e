package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

/** Benchmark main — times every SparkEntry query at the given SF and
  * prints ONE JSON line (driver contract).
  *
  * Methodology: results are materialized through the `noop` writer, not
  * `count()` — count lets Catalyst prune the plan to nothing for scans,
  * which would "benchmark" the metadata reader. A single warm-up query
  * absorbs JVM/codegen startup so per-query numbers reflect steady
  * state.
  *
  * Each query runs SPARK_GRAFT_BENCH_REPS times (default 3) and the
  * reported per-query figure is the MEDIAN — single-run numbers on this
  * machine swing by ±60% (round-4 adjudicated a 3.6× phantom regression
  * on `q_cube_flags` that re-benched at 1.1 s), so the median is the
  * robust round-over-round signal. The headline `value` is the sum of
  * medians; `wall` is the actual elapsed wall-clock for everything that
  * ran (including warm-up and all reps). Memoized stages (dedup label
  * tables, IVF/PQ codebooks) pay their build cost in rep 1 of the first
  * consumer — that cost is visible in `wall` and in the per-rep dump in
  * BENCH_FULL.json, while medians show the steady (materialize-once)
  * production shape.
  *
  * With query names (`sbt "runMain graft.Bench q01_pricing_summary …"`)
  * only those run, through the same warm-up and reps, with a listener
  * that records every Spark job's wall time and description: each rep
  * prints its time and job total, the last rep its per-job lines, so
  * "where do this query's seconds go" is answered with evidence. A
  * named run prints the headline line but leaves BENCH_FULL.json alone.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = args.toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // Opt-in for large scale factors (the 10× replica): evict the memo
    // caches + force a cleaner pass between query FAMILIES, so one
    // family's checkpoint blocks never stay pinned through every later
    // family. Off by default — at sf0.1 the memoized steady-state
    // medians are the point. With this on, a full 10× registry pass
    // fits the default heap in ONE session (the r10 refresh needed a
    // two-session composite at 8g); without it, give sbt -mem 65536.
    val evictBetweenFamilies = sys.env.get("SPARK_GRAFT_BENCH_EVICT").contains("1")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val jobs = new JobLog
    if (only.nonEmpty) spark.sparkContext.addSparkListener(jobs)

    // Machine-load fingerprint (verdict r10 item 7): benches on this
    // box swing with concurrent load (a +36% uniform shift under a
    // parallel DuckDB 10× oracle pass was adjudicated by hand in r10);
    // recording loadavg + process count at start/end makes future
    // anchor comparisons mechanically adjudicable.
    def loadFingerprint(): String = {
      val la = try {
        val s = new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
        val p = s.split("\\s+") // 1m 5m 15m running/total lastpid
        s"""\"load1\":${p(0)},\"load5\":${p(1)},\"load15\":${p(2)},\"procs\":\"${p(3)}\""""
      } catch { case _: Throwable => "\"load1\":-1" }
      la
    }
    val loadStart = loadFingerprint()

    def run(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }
    // One GC-then-retry per failed rep: the only failure ever observed in
    // a full sweep was a TASK-level aggregate OOM on the transient
    // allocation spike right after a family's memo-artifact rebuild (r10
    // 10× refresh, rep 3 of the same query clean) — recoverable machine
    // state, not a query defect. A genuine failure fails twice and still
    // reports -1; the retry is a fresh honest measurement and is logged.
    def runRetrying(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t = run(name, fn)
      if (t >= 0) t
      else {
        System.err.println(s"[bench] $name: GC + one retry after failed rep")
        System.gc()
        run(name, fn)
      }
    }

    // JVM + codegen warm-up (not reported per-query), plus one touch per
    // bench-SF input table (file listing + parquet footer caches) so the
    // alphabetically-first query doesn't absorb the cold-start costs
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case NonFatal(_) => () }
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try Tables.read(spark, s"$sfDir/$t.parquet").limit(1)
        .write.format("noop").mode("overwrite").save()
      catch { case NonFatal(_) => () }
    }

    val wallT0 = System.nanoTime()
    // Memoized-artifact build attribution: Memo.cached logs build
    // seconds per family; draining after each query pins every build to
    // the query whose rep 1 paid it, so a 0.02 s median on a memo-riding
    // query is mechanically distinguishable from a genuinely cheap one.
    Memo.drainBuildLog(): Unit // discard warm-up-attributed builds
    val memoBuilds = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def family(n: String): String = n.takeWhile(_ != '_')

    // Locale-pinned formatting: f"$v%.3f" follows the JVM default locale
    // and would emit "0,833" (invalid JSON) under comma-decimal locales.
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def toJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")

    // Completed (query -> reps) accumulate here as the sweep runs, so a
    // wall-budget kill can still report everything measured so far
    // (round-12 item 1b: BENCH_r11.json was rc=124/"parsed": null with
    // ~300 queries already measured). Plain Seq snapshots under `lock`.
    val lock = new Object
    val completed = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Double])]

    /** Format + emit the contract outputs from whatever has completed:
      * the full per-query dump to BENCH_FULL and the ONE-line headline
      * JSON to stdout. Pure in-memory formatting — safe to call from a
      * shutdown hook while the SparkContext is going down.
      */
    def emitAll(partial: Boolean): Unit = {
      val allReps = lock.synchronized(completed.toList)
      val memoSnap = lock.synchronized(memoBuilds.toSeq)
      val results = allReps.map { case (name, ts) =>
        val ok = ts.filter(_ >= 0).sorted
        name -> (if (ok.isEmpty) -1.0 else ok(ok.size / 2))
      }
      val wall = (System.nanoTime() - wallT0) / 1e9
      val total = results.map(_._2).filter(_ >= 0).sum
      // failed count is surfaced in the headline line — a broken query
      // must never read as a speedup (its -1 is excluded from the total)
      val failed = results.count(_._2 < 0)
      // Full per-query map goes to a repo file: the driver's stdout
      // capture keeps only a ~2KB tail, so a single line with the whole
      // registry never survives to BENCH_r{N}.json ("parsed": null in
      // rounds 1-3). The headline line stays under that window.
      def repsJson: String = allReps.map { case (k, ts) =>
        "\"" + k + "\":[" + ts.map(fmt).mkString(",") + "]"
      }.mkString("{", ",", "}")
      // family@firstPayingQuery -> build seconds (paid once per run; the
      // per-query medians are steady-state, this is the amortized cost)
      val memoJson = memoSnap.map { case (k, v) =>
        "\"" + k + "\":" + fmt(v)
      }.mkString("{", ",", "}")
      val loadEnd = loadFingerprint()
      val loadJson = s"""{"start":{$loadStart},"end":{$loadEnd},"evict":${evictBetweenFamilies}}"""
      val fullJson =
        s"""{"metric":"total","value":${fmt(total)},"unit":"sec","wall":${fmt(wall)},"reps":$reps,"failed":$failed,"partial":$partial,"nQueries":${results.size},"load":$loadJson,"memo_build":$memoJson,"queries":${toJson(results)},"queryReps":$repsJson,"sf":"$sfDir"}"""
      if (only.isEmpty)
        try Files.writeString(Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "BENCH_FULL.json")), fullJson + "\n")
        catch { case e: Throwable => System.err.println(s"[bench] full dump failed: ${e.getMessage}") }

      // Headline subset for the one-line contract output: slowest queries
      // dominate the total, so report the top cost centers plus the
      // per-family medians — enough for round-over-round comparison inside
      // the tail window; full numbers are in BENCH_FULL.json.
      val ok = results.filter(_._2 >= 0)
      val slowest = ok.sortBy(-_._2).take(24)
      val fams = ok.groupBy { case (n, _) => family(n) }.toSeq.sortBy(_._1).map {
        case (f, rs) =>
          val ts = rs.map(_._2).sorted
          ("fam_" + f, ts(ts.size / 2))
      }
      val headline = (slowest ++ fams).distinct
      println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","wall":${fmt(wall)},"reps":$reps,"failed":$failed,"partial":$partial,"nQueries":${results.size},"load":$loadJson,"full":${if (only.isEmpty) "\"BENCH_FULL.json\"" else "null"},"queries":${toJson(headline)},"sf":"$sfDir"}""")
    }

    // The graceful-degradation hook (round-12 item 1b): a driver-side
    // `timeout` SIGTERM still runs JVM shutdown hooks, so the contract
    // JSON line for every completed query is emitted even when the sweep
    // exceeds the wall budget — rc=124 must parse, never "parsed": null.
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val hook = new Thread(() => if (!done.get()) {
      try emitAll(partial = true)
      catch { case e: Throwable =>
        System.err.println(s"[bench] partial emit failed: ${e.getMessage}")
      }
    })
    Runtime.getRuntime.addShutdownHook(hook)

    // All reps of a query run back-to-back: rep 1 absorbs any cold cache,
    // reps 2-3 measure steady state; the median of 3 discards the one
    // outlier either way.
    val targets = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    var prevFamily = ""
    targets.foreach { case (name, fn) =>
      if (evictBetweenFamilies && family(name) != prevFamily) {
        Memo.evictAll()
        // SYNCHRONOUS reclamation: dropping references and waiting on
        // the async ContextCleaner leaves the old family's checkpoint
        // blocks resident exactly while the next family's artifact
        // rebuild allocates — the transient 2x spike that OOM'd a 10x
        // sweep even at 60g. At a family boundary no query is running
        // and every cross-query frame holder (the memo caches) was
        // just cleared, so every persistent RDD is garbage by
        // construction — unpersist them all, blocking.
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        System.gc()
      }
      prevFamily = family(name)
      spark.sparkContext.setJobDescription(s"bench: $name")
      val ts = (1 to reps).map { rep =>
        jobs.clear()
        val t = runRetrying(name, fn)
        if (only.nonEmpty) jobs.report(name, rep, t, perJob = rep == reps)
        t
      }
      spark.sparkContext.setJobDescription(null)
      lock.synchronized {
        Memo.drainBuildLog().foreach { case (fam, sec) =>
          val k = s"$fam@$name"
          memoBuilds.update(k, memoBuilds.getOrElse(k, 0.0) + sec)
        }
        completed += (name -> ts)
      }
    }
    emitAll(partial = false)
    done.set(true)
    try Runtime.getRuntime.removeShutdownHook(hook)
    catch { case _: IllegalStateException => () } // already shutting down
    spark.stop()
  }
}

/** Wall time and description of every Spark job since the last `clear`. */
private final class JobLog extends SparkListener {
  private val starts = new ConcurrentHashMap[Int, (Long, String)]
  private val ended = new ConcurrentLinkedQueue[(Int, Long, String)]

  override def onJobStart(js: SparkListenerJobStart): Unit =
    starts.put(js.jobId, (js.time,
      Option(js.properties.getProperty("spark.job.description")).getOrElse("")))
  override def onJobEnd(je: SparkListenerJobEnd): Unit = {
    val st = starts.remove(je.jobId)
    if (st != null) ended.add((je.jobId, je.time - st._1, st._2)): Unit
  }

  def clear(): Unit = ended.clear()

  def report(name: String, rep: Int, wall: Double, perJob: Boolean): Unit = {
    val js = ended.asScala.toSeq.sortBy(_._1)
    val jobSum = js.map(_._2).sum / 1e3
    println(f"PROFILE $name rep$rep wall=$wall%.2f s jobs=${js.size} jobSum=$jobSum%.2f s")
    if (perJob) js.foreach { case (id, ms, desc) =>
      println(f"  job $id%4d ${ms / 1e3}%7.3f s  ${desc.linesIterator.mkString(" ")}")
    }
  }
}
