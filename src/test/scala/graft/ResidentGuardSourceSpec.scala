package graft

import org.scalatest.funsuite.AnyFunSuite

/** The in-process serving rungs admit their tables through one guard,
  * [[graft.operators.Resident]]: a per-call row-limit knob or a
  * hand-rolled LIMIT-bounded count in a rung's file would bring back a
  * second copy of the rule. (`Bpe.scala` guards a training path, not a
  * serving rung, and keeps its own limit.)
  */
class ResidentGuardSourceSpec extends AnyFunSuite {

  private val rungFiles = Set("VectorSearch.scala", "Bm25.scala", "KbPipeline.scala")

  private def offenders(pattern: scala.util.matching.Regex): Seq[String] = {
    val files = MainSources.files.filter(f => rungFiles(f.getName))
    assert(files.map(_.getName).toSet == rungFiles, "main sources not found")
    for {
      f <- files
      (line, i) <- new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .split("\n").toSeq.zipWithIndex
      t = line.trim
      if !(t.startsWith("//") || t.startsWith("/*") || t.startsWith("*"))
      if pattern.findFirstIn(line).isDefined
    } yield s"${f.getName}:${i + 1}: $t"
  }

  test("no inMemoryLimit or inProcessLimit parameter in the serving rungs") {
    val found = offenders("\\b(inMemoryLimit|inProcessLimit)\\s*:".r)
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("no LIMIT-bounded count outside the residency guard") {
    val found = offenders("\\.limit\\([^)]*\\+\\s*1\\)\\s*\\.count\\(\\)".r)
    assert(found.isEmpty, found.mkString("\n"))
  }
}
