package graft

import org.scalatest.funsuite.AnyFunSuite

/** The BM25 commit path goes through the Hadoop FileSystem API only: a
  * `java.io.File` or `java.nio.file` call sees nothing on a store with no
  * local view (HDFS, S3, the `graftnoio` test scheme), so a commit or
  * pointer read through one fails or reads stale there.
  */
class CommitPathSourceSpec extends AnyFunSuite {

  test("no java.io.File or java.nio.file in the code of the BM25 commit path") {
    val guarded = Set("StreamingIngest.scala", "Bm25.scala")
    val files = MainSources.files.filter(f => guarded(f.getName))
    assert(files.map(_.getName).toSet == guarded, "main sources not found")
    val pattern = "\\bjava\\.io\\.File\\b|\\bjava\\.nio\\.file\\b".r
    val offenders = for {
      f <- files
      (line, i) <- new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .split("\n").zipWithIndex
      t = line.trim
      if !(t.startsWith("//") || t.startsWith("/*") || t.startsWith("*"))
      if pattern.findFirstIn(line).isDefined
    } yield s"${f.getName}:${i + 1}: $t"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
