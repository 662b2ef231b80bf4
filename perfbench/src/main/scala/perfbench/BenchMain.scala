package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession

/** Entry point: `BenchMain --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`. Prints the run environment, the workload's
  * own figures, and as the last stdout line one JSON object
  * `{"correct", "attempted", "failed", "metrics"}`: end-to-end metrics with
  * `--trace 0`, per-layer metrics with `--trace 1`. Exits 1 when any output
  * was wrong.
  */
object BenchMain {

  val Workloads = Seq("small_interactive", "maintain_append")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work"))
    work.mkdirs()

    val nproc = Runtime.getRuntime.availableProcessors()
    val cores = math.min(nproc, 4)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val (canary, _) = graft.HostCanary.run()
    println(f"[perfbench] env nproc=$nproc master=local[$cores] " +
      s"shuffle_partitions=$cores driver_heap_mb=${Runtime.getRuntime.maxMemory / (1024 * 1024)} " +
      f"workload=$workload seed=$seed seconds=$seconds%.0f trace=${if (trace) 1 else 0} " +
      f"host_canary_s=$canary%.3f")

    val tracer = new Tracer(spark.sparkContext, trace)
    val ctx = new Ctx(spark, work, seed, seconds, tracer)
    val out =
      try workload match {
        case "small_interactive" => new SmallInteractive(ctx).run()
        case "maintain_append"   => new MaintainAppend(ctx).run()
      } finally {
        tracer.close()
        spark.stop()
      }
    ctx.failures.take(10).foreach(f => println(s"[perfbench] WRONG: $f"))
    out.details.foreach(d => println(s"[perfbench] $workload $d"))
    val metrics = if (trace) PerLayer.complete(out.perLayer) else out.endToEnd
    metrics.foreach { case (n, v, u) => println(f"[perfbench] $n = $v%.4f $u") }
    val correct = out.failed == 0
    println(json(correct, out.attempted, out.failed, metrics))
    sys.exit(if (correct) 0 else 1)
  }

  def json(correct: Boolean, attempted: Int, failed: Int,
           metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) "0" else v.toString}, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
