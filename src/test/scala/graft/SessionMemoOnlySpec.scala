package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every per-session cache in main is a [[graft.operators.SessionMemo]]:
  * a hand-rolled `WeakHashMap` keyed by SparkSession would miss
  * [[graft.operators.SessionMemo.forget]], the one eviction path.
  */
class SessionMemoOnlySpec extends AnyFunSuite {

  test("no WeakHashMap keyed by SparkSession outside SessionMemo.scala") {
    def scalaFiles(dir: java.io.File): Seq[java.io.File] = {
      val kids = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
      kids.filter(_.getName.endsWith(".scala")) ++
        kids.filter(_.isDirectory).flatMap(scalaFiles)
    }
    val files = scalaFiles(new java.io.File("src/main/scala"))
    assert(files.exists(_.getName == "SessionMemo.scala"), "main sources not found")
    val pattern = "WeakHashMap\\[\\s*(org\\.apache\\.spark\\.sql\\.)?SparkSession".r
    val offenders = files.filter(_.getName != "SessionMemo.scala").filter { f =>
      pattern.findFirstIn(new String(java.nio.file.Files.readAllBytes(f.toPath))).isDefined
    }
    assert(offenders.isEmpty, offenders.map(_.getPath).mkString(", "))
  }
}
