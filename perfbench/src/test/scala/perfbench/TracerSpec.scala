package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .appName("TracerSpec").config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("frames map to layers; helper modules defer to the caller") {
    assert(Layers.frameOf("app//graft.operators.Bm25$.readIndex(Bm25.scala:295)") ==
      Some(("Bm25", "readIndex")))
    assert(Layers.frameOf("org.apache.spark.sql.Dataset.collect(Dataset.scala:1)").isEmpty)
    val frames = Seq(
      "graft.functions.TextFunctions$.tokenizeBm25Value(TextFunctions.scala:80)",
      "graft.query.QueryCache$.embedQueryCached(QueryCache.scala:96)",
      "graft.pipeline.KbPipeline$.query(KbPipeline.scala:120)")
    assert(Layers.innermost(frames.iterator).contains("qcache"))
    assert(Layers.innermost(Iterator(
      "graft.pipeline.KbPipeline$.hitRowsFor(KbPipeline.scala:400)")).contains("fuse_rerank"))
    val commit = Seq(
      "graft.streaming.StreamingIngest$.dedupSurvivors(StreamingIngest.scala:200)",
      "graft.streaming.StreamingIngest$.kbMaintenanceBatch(StreamingIngest.scala:350)")
    assert(Layers.innermost(commit.iterator, modules = true).contains("Dedup"))
    assert(Layers.innermost(Iterator(
      "graft.operators.Bm25$.writeIndex(Bm25.scala:250)",
      "graft.streaming.StreamingIngest$.maintainIndexBatch(StreamingIngest.scala:105)"),
      modules = true).contains("Bm25"))
  }

  test("driver time is the op's wall time not covered by any job") {
    val jobs = Seq(JobRec("op", "", "x", startMs = 1000, endMs = 1100),
      JobRec("op", "", "x", startMs = 1050, endMs = 1150),
      JobRec("op", "", "x", startMs = 1300, endMs = 1400))
    assert(OpTrace(1000.0, Map.empty, jobs, Map.empty).driverMs(1000, 2000) == 750.0)
  }

  test("the listener files jobs under their op, span and call-site layer") {
    val tracer = new Tracer(spark.sparkContext, enabled = true)
    try {
      spark.range(10).count() // outside any op: not counted
      val small = spark.range(5).toDF("id")
      val (_, _, tr) = tracer.op(traced = true) {
        tracer.span("plain")(spark.range(100).count())
        // a broadcast join submits its broadcast job from a pool thread
        tracer.span("joined")(spark.range(1000).toDF("id")
          .join(broadcast(small), "id").collect())
        tracer.span("engine")(graft.operators.Bm25.buildIndex(
          spark.createDataFrame(Seq((1L, "a b"), (2L, "b c"))).toDF("doc_id", "text"),
          "doc_id", "text"))
      }
      val t = tr.get
      assert(t.jobs.exists(_.span == "plain"))
      assert(t.jobs.count(_.span == "joined") >= 2)
      assert(t.jobs.filter(_.span == "engine").map(_.layer).contains("bm25"))
      assert(t.jobs.forall(_.tasks > 0))
      assert(t.spans.keySet == Set("plain", "joined", "engine", "driver"))
      val (_, _, untraced) = tracer.op(traced = false)(spark.range(3).count())
      assert(untraced.isEmpty)
      // the same call counts the same jobs every time, none of them another op's
      val counts = Seq.fill(2)(tracer.op(traced = true)(spark.range(3).count())._3.get.jobs)
      assert(counts(0).nonEmpty && counts(0).size == counts(1).size)
      assert(counts(0).map(_.op).distinct.size == 1 && counts(0).head.op != counts(1).head.op)
    } finally tracer.close()
  }
}
