package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source gate: every parquet read in `src/main` that leaves the schema
  * to Spark goes through `Tables.read` or `Tables.schemaOf`, which take
  * Spark's inferred schema from one footer on the driver instead of a
  * Spark job per read. A `read.parquet(` anywhere else (a plain read, or
  * a `.schema(….read.parquet(…).schema)` for a stream) fails this spec.
  */
class ParquetReadLintSpec extends AnyFunSuite {
  import SourceLines.root
  private val tablesFile = root.resolve("graft/Tables.scala")
  private val schemaLess = """\bread\s*\.\s*parquet\(""".r

  test("schema-less parquet reads go through Tables.read or Tables.schemaOf") {
    val allowed = Seq("read", "schemaOf").map(SourceLines.defLines(tablesFile, _))
    val offenders = for {
      f <- SourceLines.files
      (l, n) <- SourceLines.code(f) if schemaLess.findFirstIn(l).isDefined
      if !(f == tablesFile && allowed.exists(_.contains(n)))
    } yield s"${root.relativize(f)}:$n ${l.trim}"
    assert(offenders.isEmpty,
      "read parquet through graft.Tables.read / schemaOf:\n" + offenders.mkString("\n"))
  }
}
