package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source gate: every streaming query the program starts goes through
  * `StreamQueries.drain`, so each one runs on an installed session
  * (checkpoints through the fork-free
  * [[graft.streaming.LocalCheckpointFileManager]]) and has terminated
  * before its caller reads the result. A `writeStream`, or a `start()` /
  * `toTable()` in a file that builds stream writers, anywhere else in
  * `src/main` fails this spec.
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
}
