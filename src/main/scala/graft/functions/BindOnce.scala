package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, RuntimeReplaceable}

/** Bind a single-string-input Column expression ONCE per session for
  * driver-side `eval` — the shared idiom behind
  * [[graft.query.Enhancement.enhanceValue]] and
  * [[TextFunctions.tokenizeBm25Value]].
  *
  * Analyzing against a one-row literal frame (not evaluating it) resolves
  * functions and types; binding to the child's output by ordinal means
  * nothing query-specific is baked in: one resolved tree, reused for every
  * call, with the regex expressions' compiled pattern caches persisting
  * across evals. RuntimeReplaceable nodes are swapped for their
  * replacements to FIXPOINT with transformDown (Spark's own
  * ReplaceExpressions traversal) — a replacement subtree can itself
  * contain RuntimeReplaceable nodes, and an unreplaced one throws on eval.
  *
  * Callers `eval` the returned expression against a 1-column InternalRow
  * holding a UTF8String; synchronize on the expression — RegExpReplace
  * caches its last compiled pattern in the (shared) tree.
  */
object BindOnce {
  private val caches = new graft.operators.SessionMemo[Expression]

  def apply(spark: SparkSession, key: String)(build: Column => Column): Expression =
    caches.getOrBuild(spark, key) {
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val analyzed = Seq("").toDF("q").select(build(col("q")).as("e"))
        .queryExecution.analyzed
      val proj = analyzed.collectFirst {
        case p: org.apache.spark.sql.catalyst.plans.logical.Project => p
      }.getOrElse(sys.error(s"$key plan did not analyze to a Project"))
      var replaced: Expression = proj.projectList.head
      var prev: Expression = null
      while (prev ne replaced) {
        prev = replaced
        replaced = replaced.transformDown {
          case r: RuntimeReplaceable => r.replacement
        }
      }
      BindReferences.bindReference(replaced, proj.child.output)
    }
}
