package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source gate: Graph.scala's loops run through [[Iterate]], so the file
  * holds no loop state of its own (`var`) and no hand-written lineage
  * cadence (`i % 5 == 0`, `t % CkptEvery == 0`).
  */
class IterateLintSpec extends AnyFunSuite {
  import SourceLines.root
  private val graphFile = root.resolve("graft/operators/Graph.scala")

  private def offending(pattern: scala.util.matching.Regex): Seq[String] =
    SourceLines.code(graphFile).collect {
      case (l, n) if pattern.findFirstIn(l).isDefined => s"${root.relativize(graphFile)}:$n ${l.trim}"
    }

  test("Graph.scala declares no var") {
    val found = offending("""\bvar\s""".r)
    assert(found.isEmpty, "run loops through graft.Iterate:\n" + found.mkString("\n"))
  }

  test("Graph.scala has no hand-written checkpoint cadence") {
    val found = offending("""%\s*(\d+|[A-Z]\w*)\b""".r)
    assert(found.isEmpty,
      "pass the cadence to graft.Iterate as `every`:\n" + found.mkString("\n"))
  }
}
