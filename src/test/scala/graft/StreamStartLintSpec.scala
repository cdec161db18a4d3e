package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source gate: every streaming query the program starts goes through
  * `StreamQueries.drain`, so each one checkpoints through the fork-free
  * [[graft.streaming.LocalCheckpointFileManager]] and has terminated
  * before its caller reads the result. A `writeStream`, or a `start()` /
  * `toTable()` in a file that builds stream writers, anywhere else in
  * `src/main` fails this spec.
  */
class StreamStartLintSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val drainFile = root.resolve("graft/streaming/StreamQueries.scala")
  private val streamStart = """\.writeStream\b|\.(start|toTable)\(""".r

  /** `f`'s lines numbered from 1, with comments dropped. */
  private def codeLines(f: Path): Seq[(String, Int)] =
    Files.readAllLines(f).asScala.toSeq.zipWithIndex
      .map { case (l, i) => (l.replaceAll("//.*$", ""), i + 1) }
      .filterNot { case (l, _) => Seq("*", "/*").exists(l.trim.startsWith) }

  /** Line numbers of `def drain`, from its signature to its closing brace. */
  private def drainLines(): Range = {
    val lines = codeLines(drainFile)
    val from = lines.collectFirst { case (l, n) if l.contains("def drain(") => n }
    assert(from.isDefined, s"$drainFile no longer defines `def drain(`")
    val to = lines.collectFirst { case (l, n) if n > from.get && l == "  }" => n }.get
    from.get to to
  }

  test("no streaming query starts outside StreamQueries.drain") {
    val drain = drainLines()
    val offenders = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        val lines = codeLines(f)
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
    val body = codeLines(drainFile).collect { case (l, n) if drain.contains(n) => l }
    assert(body.count(_.contains(".start()")) == 1)
    Seq("awaitTermination()", "Trigger.AvailableNow()", "LocalCheckpointFileManager")
      .foreach(s => assert(body.exists(_.contains(s)), s"drain lost `$s`"))
  }
}
