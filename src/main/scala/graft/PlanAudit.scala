package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan auditor: runs every SparkEntry query through EXPLAIN FORMATTED and
  * flags scale anti-patterns (the builder prompt's per-operator checklist):
  *
  *  - full-column parquet scans where the query projects few columns
  *    (missing pruning → ReadSchema audit);
  *  - joins that chose SortMergeJoin where one side is tiny (missing
  *    broadcast);
  *  - CartesianProduct / BroadcastNestedLoopJoin anywhere unexpected;
  *  - queries with no WholeStageCodegen span at all (interpreted hot path).
  *
  * Usage: `runMain graft.PlanAudit <sfDir> [namePrefix]` — prints one line
  * per query: `name | scans=N pruned-scans=N smj=N bhj=N cartesian=N wscg=N`
  * plus WARN lines for flagged patterns.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val prefix = if (args.length > 1) args(1) else ""
    val spark = Sessions.local(logLevel = "ERROR")
    // inspection-only: AQE re-plans at runtime and hides codegen marks in
    // the static EXPLAIN; the production config from [[Sessions]] keeps
    // AQE on
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    val all = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_._1.startsWith(prefix))
    var audited = 0
    var failed = 0
    all.foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
          def n(pat: String) = pat.r.findAllIn(plan).size
          val scans = n("Scan parquet")
          val smj = n("SortMergeJoin")
          val bhj = n("BroadcastHashJoin")
          // BroadcastNestedLoopJoin with a tiny broadcast side (1-row stats,
          // literal query sets) is the INTENDED plan for scalar cross joins;
          // CartesianProduct (both sides shuffled) is the red flag.
          val bnlj = n("BroadcastNestedLoopJoin")
          val cart = n("CartesianProduct")
          // formatted mode marks codegen'd operators with a '*' before the
          // operator name, either at tree root or after a +-/: connector
          val wscg = n("""(?:\n|- |: )\* [A-Z]""")
          val fullScans = "ReadSchema: [^\n]*".r.findAllIn(plan)
            .count(_.length > 400) // heuristically wide = unpruned
          println(f"$name%-28s scans=$scans smj=$smj bhj=$bhj bnlj=$bnlj cartesian=$cart codegen_ops=$wscg")
          if (cart > 0 && !Set("dedup_embedding_exact").contains(name))
            println(s"  WARN $name: CartesianProduct in plan")
          if (wscg == 0)
            println(s"  WARN $name: no codegen'd operators")
          if (fullScans > 0)
            println(s"  WARN $name: $fullScans wide ReadSchema (check column pruning)")
          audited += 1
        } catch {
          case e: Throwable =>
            failed += 1
            println(s"$name EXPLAIN FAILED: ${e.getMessage}")
        }
      }
    // completeness gate (r14 shipped a 189/190 audit without noticing):
    // every SparkEntry query gets a line or the run itself fails
    println(s"[planaudit] audited=$audited failed=$failed " +
      s"total=${all.size} queries")
    spark.stop()
    if (failed > 0 || audited != all.size) {
      println(s"[planaudit] INCOMPLETE: ${all.size - audited} queries " +
        "missing an audit line")
      sys.exit(1)
    }
  }
}
