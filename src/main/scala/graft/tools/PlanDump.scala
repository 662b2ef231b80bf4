package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for named SparkEntry queries to files —
  * the r18 optimization round's plan-evidence capture
  * (`plans/r18/<query>_{before,after}.txt`).
  *
  * Usage: `runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <name>[,<name>...]`
  * — `<name>` may also be `ALL`. The session is Bench's ([[graft.Sessions]],
  * AQE left at its default) so the captured initial plan is the one Bench
  * executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanDump <sfDir> <outDir> <suffix> <names|ALL>")
    val Array(sfDir, outDir, suffix, namesArg) = args.take(4)
    val spark = graft.Sessions.local(logLevel = "ERROR")
    val all = graft.SparkEntry.queries
    val names =
      if (namesArg == "ALL") all.keys.toSeq.sorted
      else namesArg.split(",").toSeq
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val fn = all.getOrElse(name,
        sys.error(s"unknown query: $name"))
      val df = fn(spark, sfDir)
      val plan = df.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      val out = java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt")
      java.nio.file.Files.write(out,
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $out (${plan.length} chars)")
    }
    spark.stop()
  }
}
