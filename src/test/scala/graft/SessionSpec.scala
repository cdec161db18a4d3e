package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{AsOfJoinStrategy, NanosRangePushdown, PushPartialTopK, TopKPerKeyStrategy}
import graft.streaming.LocalCheckpointFileManager

/** One session factory and one installer: every session in `src/main`
  * is built by [[Session.local]], and the engine's planner rules reach a
  * session only through [[Session.install]].
  */
class SessionSpec extends AnyFunSuite {
  private val sessionFile = SourceLines.root.resolve("graft/Session.scala")

  /** `pattern`'s matches in `src/main` outside the `allowed` lines of Session.scala. */
  private def offenders(pattern: scala.util.matching.Regex, allowed: Int => Boolean): Seq[String] =
    SourceLines.files.flatMap { f =>
      for {
        (l, n) <- SourceLines.code(f)
        if pattern.findFirstIn(l).isDefined
        if !(f == sessionFile && allowed(n))
      } yield s"${SourceLines.root.relativize(f)}:$n ${l.trim}"
    }

  /** The session settings that make local I/O fork-free. */
  private val ForkFreeKeys = Seq(
    "fs.file.impl" -> classOf[graft.io.NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true",
    LocalCheckpointFileManager.ConfKey -> classOf[LocalCheckpointFileManager].getName)

  test("SparkSession.builder appears in src/main only in graft/Session.scala") {
    val found = offenders("""SparkSession\s*\.\s*[bB]uilder""".r, _ => true)
    assert(found.isEmpty, "sessions must be built by graft.Session.local:\n" + found.mkString("\n"))
  }

  test("the experimental rule lists are assigned only in Session.install") {
    val found = offenders("""\b(extraStrategies|extraOptimizations)\s*(:\+|\+\+|\+)?=(?!=)""".r,
      SourceLines.defLines(sessionFile, "install").contains)
    assert(found.isEmpty, "planner rules must be installed by graft.Session.install:\n" +
      found.mkString("\n"))
  }

  test("fs.file.impl and the checkpoint manager are set only in Session.install") {
    val found = offenders("""fs\.file\.impl|checkpointFileManagerClass|\bConfKey\b""".r,
      SourceLines.defLines(sessionFile, "install").contains)
      .filterNot(l => l.startsWith("graft/streaming/LocalCheckpointFileManager.scala") &&
        l.contains("val ConfKey ="))
    assert(found.isEmpty, "fork-free local I/O is a session setting of graft.Session.install:\n" +
      found.mkString("\n"))
  }

  test("install twice leaves each rule in the lists exactly once, in order") {
    val s = TestSpark.spark.newSession()
    Session.install(s)
    Session.install(s)
    val x = s.experimental
    assert(x.extraStrategies == Seq(TopKPerKeyStrategy, AsOfJoinStrategy))
    assert(x.extraOptimizations == Seq(PushPartialTopK, NanosRangePushdown))
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(s.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
    ForkFreeKeys.foreach { case (k, v) => assert(s.conf.get(k) == v, k) }
  }

  test("a local(n) session carries the bench's settings and the engine's rules") {
    // one SparkContext per JVM: with the shared test session set aside,
    // the builder makes a new session on the running context, and that
    // session's conf holds every setting the builder was given
    val shared = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = try Session.local(3) finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
    assert(s ne shared)
    (Seq(
      "spark.master" -> "local[3]",
      "spark.sql.shuffle.partitions" -> "3",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.cleaner.periodicGC.interval" -> "2min",
      "spark.executor.heartbeatInterval" -> "60s",
      "spark.network.timeout" -> "1200s",
      "spark.ui.enabled" -> "false"
    ) ++ ForkFreeKeys).foreach { case (k, v) => assert(s.conf.get(k) == v, k) }
    assert(s.experimental.extraStrategies == Seq(TopKPerKeyStrategy, AsOfJoinStrategy))
    assert(s.experimental.extraOptimizations == Seq(PushPartialTopK, NanosRangePushdown))
  }

  test("GraftExtensions injects exactly install's strategies and optimizer rules") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val (strategies, rules) =
      org.apache.spark.sql.graft.ColumnBridge.injectedRules(ext, TestSpark.spark)
    val s = TestSpark.spark.newSession()
    Session.install(s)
    assert(strategies == s.experimental.extraStrategies)
    assert(rules == s.experimental.extraOptimizations)
    assert(strategies == Seq(TopKPerKeyStrategy, AsOfJoinStrategy))
  }
}
