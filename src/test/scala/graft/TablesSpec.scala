package graft

import org.apache.spark.sql.functions._

class TablesSpec extends SparkSpec {

  test("spreadIfNarrow rejects a join or an aggregation with AQE on") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    // two input partitions: a one-partition child satisfies any required
    // distribution, and the planner would insert no Exchange at all
    val wide = spark.range(0, 100, 1, 2).toDF("id")
    val shuffling = Seq(
      "aggregation" -> wide.groupBy(col("id") % 3).count(),
      "join" -> wide.join(spark.range(0, 50, 1, 2).toDF("id"), "id"))
    shuffling.foreach { case (name, df) =>
      assert(df.queryExecution.executedPlan.isInstanceOf[
        org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec], name)
      val e = intercept[AssertionError](Tables.spreadIfNarrow(df))
      assert(e.getMessage.contains("shuffle-free plan"), name)
    }
    // a narrow scan + map still spreads
    val narrow = spark.range(0, 100, 1, 1).toDF("id")
    val spread = Tables.spreadIfNarrow(narrow.select((col("id") * 2).as("x")))
    assert(spread.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
  }
}
