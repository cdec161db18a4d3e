package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

import graft.io.NioLocalFileSystem
import graft.plans.{AsOfJoinStrategy, NanosRangePushdown, PushPartialTopK, TopKPerKeyStrategy}
import graft.streaming.LocalCheckpointFileManager

/** The one place the engine's SparkSession is built and its session
  * setup is installed. Every main runs on [[local]], so plan dumps,
  * per-job profiles, correctness dumps and the bench all describe the
  * same engine config; the library entry points that need a rule, a
  * parquet setting or fork-free local I/O call [[install]], so a session
  * built elsewhere (a user's, or a benchmark's own) gets the same setup
  * on first use.
  */
object Session {

  /** The engine's planner strategies, in install order; [[install]] and
    * [[GraftExtensions]] both add exactly these.
    */
  val strategies: Seq[SparkStrategy] = Seq(TopKPerKeyStrategy, AsOfJoinStrategy)

  /** The engine's optimizer rules, in install order, shared the same way. */
  val optimizerRules: Seq[Rule[LogicalPlan]] = Seq(PushPartialTopK, NanosRangePushdown)

  /** A `local[cpus]` session with the bench's settings and the engine's
    * rules installed.
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // localCheckpoint blocks from finished queries are reclaimed by
      // the ContextCleaner only after a driver GC notices the RDD is
      // unreachable; the default periodic-GC interval (30 min) lets
      // hundreds of queries' blocks pile up in a single-JVM sweep
      .config("spark.cleaner.periodicGC.interval", "2min")
      // local-mode liveness: the "executor" IS this JVM, so the
      // heartbeat check can only FALSE-positive — a long stop-the-world
      // GC (or a host stall; shared hosts have shown multi-minute freezes
      // under memory pressure) exceeds the 120 s default and shuts the
      // context down mid-sweep (observed once at 10×: 148.9 s without
      // heartbeats → executor removed → every later query dead). On a
      // real cluster these guards matter; in one process they are pure
      // downside — give them sweep-sized headroom.
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "1200s")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    install(spark)
    spark
  }

  /** Installs the engine's planner strategies and optimizer rules
    * (each at most once, appended in this order) and the session
    * settings:
    *   - `nanosAsLong`: Spark's vectorized reader rejects parquet
    *     TIMESTAMP(NANOS), so it is read as the raw int64 nanos;
    *   - NTZ inference off, so TIMESTAMP(MICROS) vintages surface as
    *     tz-independent epoch micros (see [[Tables.eventsRawNanos]]);
    *   - fork-free local I/O: `file:` resolves to [[NioLocalFileSystem]]
    *     and checkpoints go through [[LocalCheckpointFileManager]], so no
    *     parquet write, checkpoint log or state-store file forks `chmod`
    *     or `readlink`. Hadoop caches one `file:` file system per user
    *     whatever `fs.file.impl` says, and it may be cached already, so
    *     the session bypasses that cache.
    * Idempotent, and safe from concurrent query threads.
    */
  def install(spark: SparkSession): Unit = synchronized {
    val x = spark.experimental
    strategies.filterNot(x.extraStrategies.contains)
      .foreach(r => x.extraStrategies = x.extraStrategies :+ r)
    optimizerRules.filterNot(x.extraOptimizations.contains)
      .foreach(r => x.extraOptimizations = x.extraOptimizations :+ r)
    Seq("spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true",
      LocalCheckpointFileManager.ConfKey -> classOf[LocalCheckpointFileManager].getName)
      .foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
