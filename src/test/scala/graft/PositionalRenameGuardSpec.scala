package graft

import org.scalatest.funsuite.AnyFunSuite

/** Operators refer to columns by name: a positional `.toDF(a, b, …)`
  * rename of a DataFrame derived from a join or an aggregate silently
  * swaps columns when an upstream change reorders them (a USING join
  * moves its keys to the front). This guard fails on any such rename
  * under `operators/`. Allowed: constructors from local collections
  * (`Seq(…).toDF`, `xs.toSeq.toDF`, and the named locals below), and
  * one-name renames, which cannot swap anything (toDF checks arity).
  */
class PositionalRenameGuardSpec extends AnyFunSuite {

  /** (file, receiver) pairs whose receiver is a local Scala collection. */
  private val localCollections = Set(
    ("TextAnalysis.scala", "out")) // bpeTrain's Seq[(Long, String, Long)]

  /** The receiver expression text ending right before `.toDF(` at `at`. */
  private def receiver(src: String, at: Int): String = {
    var i = at
    while (i > 0 && src(i - 1).isWhitespace) i -= 1
    val end = i
    if (i > 0 && src(i - 1) == ')') {
      var depth = 0
      i -= 1
      while (i >= 0 && { if (src(i) == ')') depth += 1
                         else if (src(i) == '(') depth -= 1
                         depth > 0 }) i -= 1
    }
    while (i > 0 && (src(i - 1).isLetterOrDigit || src(i - 1) == '.' ||
        src(i - 1) == '_')) i -= 1
    src.substring(i, end)
  }

  test("no positional toDF rename of a derived DataFrame under operators/") {
    val dir = new java.io.File("src/main/scala/graft/operators")
    val files = dir.listFiles().filter(_.getName.endsWith(".scala"))
    assert(files.nonEmpty, dir.getAbsolutePath)
    val offenders = files.toSeq.sortBy(_.getName).flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      "\\.toDF\\(([^)]*)\\)".r.findAllMatchIn(src).flatMap { m =>
        val recv = receiver(src, m.start)
        val names = m.group(1).split(',').count(_.trim.nonEmpty)
        val local = recv.startsWith("Seq(") || recv.endsWith(".toSeq") ||
          localCollections((f.getName, recv))
        if (local || names <= 1) None
        else {
          val line = src.substring(0, m.start).count(_ == '\n') + 1
          Some(s"${f.getName}:$line: $recv${m.matched}")
        }
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
