package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every per-session cache in main is a [[graft.operators.SessionMemo]]:
  * a hand-rolled `WeakHashMap` keyed by SparkSession would miss
  * [[graft.operators.SessionMemo.forget]], the one eviction path.
  */
class SessionMemoOnlySpec extends AnyFunSuite {

  test("no WeakHashMap keyed by SparkSession outside SessionMemo.scala") {
    val files = MainSources.files
    assert(files.exists(_.getName == "SessionMemo.scala"), "main sources not found")
    val pattern = "WeakHashMap\\[\\s*(org\\.apache\\.spark\\.sql\\.)?SparkSession".r
    val offenders = files.filter(_.getName != "SessionMemo.scala").filter { f =>
      pattern.findFirstIn(new String(java.nio.file.Files.readAllBytes(f.toPath))).isDefined
    }
    assert(offenders.isEmpty, offenders.map(_.getPath).mkString(", "))
  }
}
