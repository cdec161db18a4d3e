package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The program's sources as numbered code lines, for the source-gate specs. */
object SourceLines {
  val root: Path = Paths.get("src/main/scala")

  def files: Seq[Path] = Files.walk(root).iterator().asScala
    .filter(_.toString.endsWith(".scala")).toSeq

  /** `f`'s lines numbered from 1, with comments dropped. */
  def code(f: Path): Seq[(String, Int)] =
    Files.readAllLines(f).asScala.toSeq.zipWithIndex
      .map { case (l, i) => (l.replaceAll("//.*$", ""), i + 1) }
      .filterNot { case (l, _) => Seq("*", "/*").exists(l.trim.startsWith) }

  /** Line numbers of the object member `def name` in `f`: from its
    * signature to its closing brace, or for a def without braces, to its
    * last line indented deeper than the member.
    */
  def defLines(f: Path, name: String): Range = {
    val lines = code(f)
    val sig = s"def $name\\b".r
    val from = lines.collectFirst { case (l, n) if sig.findFirstIn(l).isDefined => n }
    assert(from.isDefined, s"$f no longer defines `def $name`")
    val body = lines.dropWhile(_._2 <= from.get)
      .takeWhile { case (l, _) => l.isBlank || l.startsWith("   ") }
    val end = body.lastOption.fold(from.get)(_._2)
    val to = lines.find(_._2 > end).filter(_._1 == "  }").fold(end)(_._2)
    from.get to to
  }
}
