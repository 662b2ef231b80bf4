package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-query profiler for the r18 optimization round: runs named
  * SparkEntry queries exactly like Bench (it shares [[graft.Sessions]]
  * with Bench, and the same count/executeCollect action), `reps` times
  * each, and prints per-rep wall time split into plan-build (query fn +
  * analysis/optimization up to the physical plan) vs action, plus Spark
  * job/stage counts, total task time, and shuffle bytes — the empirical
  * side of guide §1.
  *
  * Usage: `runMain graft.tools.QProf <sfDir> <reps> <name>[,<name>...]`
  */
object QProf {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: QProf <sfDir> <reps> <names>")
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args(2).split(",").toSeq
    val spark = graft.Sessions.local(logLevel = "ERROR")

    // counters mutated by the listener between probe points
    object L extends SparkListener {
      @volatile var jobs = 0
      @volatile var stages = 0
      @volatile var tasks = 0
      @volatile var taskTimeMs = 0L
      @volatile var shuffleReadB = 0L
      @volatile var shuffleWriteB = 0L
      val verbose = sys.env.get("QPROF_JOBS").contains("1")
      private val jobT0 = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs += 1
        if (verbose) {
          val name = j.stageInfos.lastOption.map(_.name).getOrElse("?")
          jobT0.put(j.jobId, (System.nanoTime(), name))
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += s.stageInfo.numTasks
        taskTimeMs += s.stageInfo.taskMetrics.executorRunTime
        shuffleReadB += s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead
        shuffleWriteB += s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (verbose) Option(jobT0.remove(j.jobId)).foreach { case (t0, name) =>
          println(f"[qprof-job]   job ${j.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%6.3fs  $name")
        }
      def reset(): Unit = { jobs = 0; stages = 0; tasks = 0; taskTimeMs = 0
        shuffleReadB = 0; shuffleWriteB = 0 }
      def line: String =
        f"jobs=$jobs stages=$stages tasks=$tasks taskTime=${taskTimeMs / 1000.0}%.2fs " +
        f"shufR=${shuffleReadB / 1e6}%.1fMB shufW=${shuffleWriteB / 1e6}%.1fMB"
    }
    spark.sparkContext.addSparkListener(L)

    // warmup like Bench
    spark.range(1000000).selectExpr("sum(id)").collect()

    val ix = graft.operators.Bm25.cachedIndex(sfDir,
      graft.Tables.documents(spark, sfDir), "doc_id", "text")
    ix.postings.count(); ix.lengths.count(); ix.idf.count(); ix.stats.count()
    graft.operators.VectorSearch.cachedIvf(sfDir,
      graft.Tables.embeddings(spark, sfDir), "vec_id", "embedding",
      nCentroids = 8).assigned.count()
    graft.operators.VectorSearch.cachedGraph(sfDir,
      graft.Tables.embeddings(spark, sfDir), "vec_id", "embedding", k = 8)
      .count()

    val all = graft.SparkEntry.queries
    names.foreach { name =>
      val fn = all.getOrElse(name, sys.error(s"unknown query: $name"))
      (1 to reps).foreach { rep =>
        // let the listener's queued events drain so attribution is clean
        Thread.sleep(150)
        L.reset()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val planT0 = System.nanoTime()
        val executed = df.queryExecution.executedPlan // forces full planning
        val t1 = System.nanoTime()
        val fnJobs = L.jobs // jobs run INSIDE the query fn / planning
        val fnLine = L.line
        df.queryExecution.optimizedPlan match {
          case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
            executed.executeCollect()
          case _ => df.count()
        }
        val t2 = System.nanoTime()
        Thread.sleep(150)
        val actLine = L.line
        def s(a: Long, b: Long) = f"${(b - a) / 1e9}%.3f"
        println(s"[qprof] $name rep$rep total=${s(t0, t2)} " +
          s"fn+plan=${s(t0, t1)} (plan=${s(planT0, t1)}) action=${s(t1, t2)} " +
          s"| fnPhase: $fnLine | total: $actLine (fnJobs=$fnJobs)")
      }
    }
    spark.stop()
  }
}
