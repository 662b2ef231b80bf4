package graft

import org.scalatest.funsuite.AnyFunSuite

/** The BM25 commit path, the change detector and the query-vector cache
  * go through the Hadoop FileSystem API only: a `java.io.File` or
  * `java.nio.file` call sees nothing on a store with no local view (HDFS,
  * S3, the `graftnoio` test scheme), so a commit, a pointer read or a
  * change check through one fails or reads stale there.
  */
class CommitPathSourceSpec extends AnyFunSuite {

  private def offenders(names: Set[String], pattern: scala.util.matching.Regex): Seq[String] = {
    val files = MainSources.files.filter(f => names(f.getName))
    assert(files.map(_.getName).toSet == names, "main sources not found")
    for {
      f <- files
      (line, i) <- new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .split("\n").toSeq.zipWithIndex
      t = line.trim
      if !(t.startsWith("//") || t.startsWith("/*") || t.startsWith("*"))
      if pattern.findFirstIn(line).isDefined
    } yield s"${f.getName}:${i + 1}: $t"
  }

  test("no java.io.File or java.nio.file in the code of the BM25 commit path") {
    val found = offenders(Set("StreamingIngest.scala", "Bm25.scala", "Versioned.scala"),
      "\\bjava\\.io\\.File\\b|\\bjava\\.nio\\.file\\b".r)
    assert(found.isEmpty, found.mkString("\n"))
  }

  // the change detector and the query-vector cache serve stores on any
  // Hadoop filesystem: a java.io stat reads nothing on a remote one, and a
  // memo keyed by it goes stale there without an error
  test("no java.io.File in the code of the change detector and the query cache") {
    val found = offenders(Set("SessionMemo.scala", "QueryCache.scala"),
      "\\bjava\\.io\\.File\\b".r)
    assert(found.isEmpty, found.mkString("\n"))
  }

  // a BM25 or query-cache version is keyed by its manifest: a file stamp
  // in the store's memo key would bring back the in-place store it served
  test("no PathFingerprint in the code of the BM25 store") {
    val found = offenders(Set("Bm25.scala", "Versioned.scala", "QueryCache.scala"),
      "PathFingerprint|PathInventory".r)
    assert(found.isEmpty, found.mkString("\n"))
  }
}
