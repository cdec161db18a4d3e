package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source gate: every streaming query the program starts goes through
  * `StreamQueries.drain`, so each one runs on an installed session
  * (checkpoints through the fork-free
  * [[graft.streaming.LocalCheckpointFileManager]]) and has terminated
  * before its caller reads the result. A `writeStream`, or a `start()` /
  * `toTable()` in a file that builds stream writers, anywhere else in
  * `src/main` fails this spec. So does a stream source read outside the
  * staged-stream helper and the two readers that take their own rate, or
  * a state-sizing scope anywhere but the query registry.
  */
class StreamStartLintSpec extends AnyFunSuite {
  import SourceLines.root
  private val drainFile = root.resolve("graft/streaming/StreamQueries.scala")
  private val streamStart = """\.writeStream\b|\.(start|toTable)\(""".r

  private def drainLines(): Range = SourceLines.defLines(drainFile, "drain")

  test("no streaming query starts outside StreamQueries.drain") {
    val drain = drainLines()
    val offenders = SourceLines.files.flatMap { f =>
      val lines = SourceLines.code(f)
      val buildsWriters = lines.exists { case (l, _) =>
        l.contains("writeStream") || l.contains("DataStreamWriter") }
      for {
        (l, n) <- lines
        m <- streamStart.findAllMatchIn(l)
        if m.matched == ".writeStream" || buildsWriters
        if !(f == drainFile && drain.contains(n))
      } yield s"${root.relativize(f)}:$n ${l.trim}"
    }
    assert(offenders.isEmpty,
      "streaming queries must start through StreamQueries.drain:\n" + offenders.mkString("\n"))
  }

  test("the drain starts one query under the local checkpoint manager and awaits it") {
    val drain = drainLines()
    val body = SourceLines.code(drainFile).collect { case (l, n) if drain.contains(n) => l }
    assert(body.count(_.contains(".start()")) == 1)
    Seq("awaitTermination()", "Trigger.AvailableNow()", "Session.install(")
      .foreach(s => assert(body.exists(_.contains(s)), s"drain lost `$s`"))
  }

  /** `src/main` lines containing `needle`, as `file:line code`, except
    * in `Streams.scala` when `streamsToo` and in the named defs of
    * StreamQueries.scala.
    */
  private def outside(needle: String, defs: Seq[String], streamsToo: Boolean): Seq[String] = {
    val allowed = defs.map(SourceLines.defLines(drainFile, _))
    val streams = root.resolve("graft/streaming/Streams.scala")
    for {
      f <- SourceLines.files if !(streamsToo && f == streams)
      (l, n) <- SourceLines.code(f) if l.contains(needle)
      if !(f == drainFile && allowed.exists(_.contains(n)))
    } yield s"${root.relativize(f)}:$n ${l.trim}"
  }

  test("stream sources are read only by the staged-stream helper and the two rate-taking readers") {
    val found = outside("readStream",
      Seq("stagedStream", "sessionStatsStream", "rateLimitedWordCount"), streamsToo = true)
    assert(found.isEmpty,
      "read stream sources through StreamQueries.stagedStream:\n" + found.mkString("\n"))
  }

  test("state sizing is scoped only by the query registry") {
    val found = outside("withStatePartitions(", Seq("queries"), streamsToo = false)
    assert(found.isEmpty,
      "StreamQueries.queries sizes every registered query's state:\n" + found.mkString("\n"))
  }
}
