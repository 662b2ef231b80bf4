package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Maps a stack frame (as `StackTraceElement.toString` prints it) to the
  * engine layer it belongs to. Helper modules (text functions, hashing,
  * memo tables, storage probes) belong to no layer, so a frame in them is
  * charged to the first layer frame further out.
  */
object Layers {

  /** (source file, method) of a printed frame such as
    * `graft.operators.Bm25$.readIndex(Bm25.scala:295)`; None outside the
    * engine's `graft` packages.
    */
  def frameOf(frame: String): Option[(String, String)] = {
    val paren = frame.indexOf('(')
    if (paren < 0) return None
    // drop a `loader//` or `module/` prefix (JDK 9+ frame printing)
    val name = frame.substring(frame.lastIndexOf('/', paren) + 1, paren)
    val dotScala = frame.indexOf(".scala", paren)
    if (!name.startsWith("graft.") || dotScala < 0) None
    else Some((frame.substring(paren + 1, dotScala), name.substring(name.lastIndexOf('.') + 1)))
  }

  def layerOf(file: String, method: String): Option[String] = file match {
    case "Enhancement"                  => Some("enhance")
    case "QueryCache"                   => Some("qcache")
    case "Embedder" | "ModelRegistry"   => Some("embed")
    case "VectorSearch"                 => Some("vector")
    case "Bm25"                         => Some("bm25")
    case "Fusion" | "Rerank"            => Some("fuse_rerank")
    case "ContextWindow" | "Formatters" => Some("context")
    case "Dedup" | "Chunker" | "StreamingIngest" => moduleOf(file, method)
    case "KbPipeline" =>
      if (method.startsWith("hitRowsFor")) Some("fuse_rerank")
      else if (method.startsWith("chunksInMemory")) Some("fetch")
      else Some("pipeline")
    case "Main" => Some("verb")
    case _      => None
  }

  /** The module of a `maintain` commit frame: the stage functions of
    * StreamingIngest map to the module they drive.
    */
  def moduleOf(file: String, method: String): Option[String] = file match {
    case "Dedup" | "Chunker" | "Embedder" | "Bm25" => Some(file)
    case "StreamingIngest" => Some(method match {
      case m if m.startsWith("dedupSurvivors")        => "Dedup"
      case m if m.startsWith("embedMaintenanceBatch") => "Embedder"
      case m if m.startsWith("maintainIndexBatch")    => "Bm25"
      case m if m.startsWith("kbMaintenanceBatch")    => "Chunker"
      case _                                          => "StreamingIngest"
    })
    case _ => None
  }

  /** The layer (or, with `modules`, the commit module) of the innermost
    * engine frame that has one, given frames innermost first.
    */
  def innermost(frames: Iterator[String], modules: Boolean = false): Option[String] =
    frames.flatMap(frameOf).flatMap { case (f, m) =>
      if (modules) moduleOf(f, m) else layerOf(f, m) }.find(_ => true)
}

/** Spark work counted for one job. */
final case class JobRec(op: String, span: String, layer: String,
                        var stages: Int = 0, var tasks: Int = 0,
                        var taskMs: Long = 0L, var shuffleBytes: Long = 0L,
                        startMs: Long = 0L, var endMs: Long = -1L)

/** One listener for the whole run. The benchmark tags every timed call
  * with a job group and the local property [[JobCounter.OpKey]] (an op id)
  * and every public call inside it with [[JobCounter.SpanKey]]; the
  * listener files each job under those tags and under a layer. SQL jobs
  * are submitted from pool threads, whose call sites hold no engine
  * frames; their layer comes from the call site of the SQL execution they
  * belong to, which is taken on the calling thread. Local properties
  * follow jobs onto pool threads, so the op and span tags hold there too.
  */
final class JobCounter extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val execLayer = mutable.HashMap[String, String]()

  private def layerOf(callSite: String): String =
    Layers.innermost(callSite.linesIterator.map(_.trim)).getOrElse("other")

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { execLayer(s.executionId.toString) = layerOf(s.details) }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val op = prop(JobCounter.OpKey)
      .orElse(prop("spark.jobGroup.id")).getOrElse("")
    val callSite = if (e.stageInfos.isEmpty) ""
      else e.stageInfos.maxBy(_.stageId).details
    val layer = Some(layerOf(callSite)).filter(_ != "other")
      .orElse(prop("spark.sql.execution.id").flatMap(execLayer.get))
      .getOrElse("other")
    jobs(e.jobId) = JobRec(op, prop(JobCounter.SpanKey).getOrElse(""), layer,
      startMs = e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      j.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  def jobsOf(op: String): Seq[JobRec] = synchronized {
    jobs.valuesIterator.filter(_.op == op).toList
  }
}

object JobCounter {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"
}

/** Samples one thread's stack at a fixed interval and charges the time
  * between samples to the layer of the innermost layer frame
  * ([[Layers.innermost]]); time outside any layer goes to "other". The
  * sampled thread can be switched to a stream's execution thread while the
  * caller only waits for it; those samples name the commit module instead
  * and are not charged. Every sample also goes onto a timeline, so a job
  * can be matched to the layer or module that was waiting on it.
  */
final class StackSampler(main: Thread, intervalMicros: Long) {
  @volatile var target: Thread = main
  private val acc = mutable.HashMap[String, Long]()
  private val timeline = mutable.ArrayBuffer[(Long, Boolean, String)]()
  @volatile private var running = true
  @volatile private var active = false
  private val thread = new Thread(() => {
    var last = System.nanoTime()
    while (running) {
      java.util.concurrent.locks.LockSupport.parkNanos(intervalMicros * 1000L)
      val now = System.nanoTime()
      if (active) {
        val t = target
        val onMain = t eq main
        val layer = Layers.innermost(t.getStackTrace.iterator.map(_.toString),
          modules = !onMain).getOrElse("other")
        acc.synchronized {
          if (onMain) acc(layer) = acc.getOrElse(layer, 0L) + (now - last)
          timeline += ((System.currentTimeMillis(), onMain, layer))
        }
      }
      last = now
    }
  }, "perfbench-sampler")
  thread.setDaemon(true)
  thread.start()

  /** Charge samples from now on, starting from zero. */
  def begin(): Unit = {
    acc.synchronized { acc.clear(); timeline.clear() }
    active = true
  }

  /** Stop charging; returns milliseconds per layer since [[begin]] and the
    * timeline of (epoch ms, sampled the calling thread, layer or module).
    */
  def end(): (Map[String, Double], Seq[(Long, Boolean, String)]) = {
    active = false
    target = main
    acc.synchronized((acc.map { case (k, v) => k -> v / 1e6 }.toMap, timeline.toList))
  }

  def stop(): Unit = { running = false; thread.join() }
}

/** Per-op trace: spans (ms by name), the op's jobs, and sampled layer ms. */
final case class OpTrace(wallMs: Double, spans: Map[String, Double],
                         jobs: Seq[JobRec], sampledMs: Map[String, Double],
                         timeline: Seq[(Long, Boolean, String)] = Nil) {
  /** The layer (`onMain`) or the commit module of the first sample at or
    * after `ms` (epoch), skipping samples outside any for up to 100 ms.
    */
  def layerAt(ms: Long, onMain: Boolean): String =
    timeline.iterator.dropWhile(_._1 < ms).takeWhile(_._1 <= ms + 100)
      .collect { case (_, m, l) if m == onMain => l }
      .find(_ != "other").getOrElse("other")

  /** A job's layer: its call site's, or, for a job submitted from a pool
    * thread (no engine frames), the layer that was waiting on it.
    */
  def layerOf(j: JobRec): String =
    if (j.layer != "other") j.layer else layerAt(j.startMs, onMain = true)

  /** Op wall time not covered by any of its jobs. */
  def driverMs(opStartMs: Long, opEndMs: Long): Double = {
    val iv = jobs.map(j => (math.max(j.startMs, opStartMs),
      math.min(if (j.endMs < 0) opEndMs else j.endMs, opEndMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, wallMs - covered)
  }
}

/** Tracing for one run: spans around public calls, job tags, and the stack
  * sampler. With `enabled = false` every method is a plain pass-through,
  * which is how the timed (untraced) runs use it.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean,
                   sampleMicros: Long = 5000L) {
  private val counter = new JobCounter
  private val sampler =
    if (enabled) Some(new StackSampler(Thread.currentThread(), sampleMicros)) else None
  if (enabled) sc.addSparkListener(counter)
  private var opSeq = 0
  private val spans = mutable.LinkedHashMap[String, Double]()

  /** Run one timed op; returns its result, wall ms and (when enabled and
    * `traced`) its trace.
    */
  def op[A](traced: Boolean)(body: => A): (A, Double, Option[OpTrace]) = {
    val on = enabled && traced
    opSeq += 1
    val id = s"op-$opSeq"
    if (on) {
      spans.clear()
      sc.setJobGroup(id, id)
      sc.setLocalProperty(JobCounter.OpKey, id)
      sampler.foreach(_.begin())
    }
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var sampled = (Map.empty[String, Double], Seq.empty[(Long, Boolean, String)])
    val out = try body finally if (on) sampler.foreach(s => sampled = s.end())
    val wall = (System.nanoTime() - t0) / 1e6
    val endMs = System.currentTimeMillis()
    if (!on) (out, wall, None)
    else {
      sc.clearJobGroup()
      sc.setLocalProperty(JobCounter.OpKey, null)
      org.apache.spark.BenchBus.drain(sc)
      val t = OpTrace(wall, spans.toMap, counter.jobsOf(id), sampled._1, sampled._2)
      (out, wall, Some(t.copy(spans = t.spans + ("driver" -> t.driverMs(startMs, endMs)))))
    }
  }

  /** Sample `thread` instead of the calling thread while `body` runs. */
  def following[A](thread: Option[Thread])(body: => A): A = {
    val prev = sampler.map(_.target)
    for (s <- sampler; t <- thread) s.target = t
    try body finally for (s <- sampler; p <- prev) s.target = p
  }

  /** A named span around one public call inside an op. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      sc.setLocalProperty(JobCounter.SpanKey, name)
      val t0 = System.nanoTime()
      try body
      finally {
        spans(name) = spans.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e6
        sc.setLocalProperty(JobCounter.SpanKey, null)
      }
    }

  def close(): Unit = {
    sampler.foreach(_.stop())
    if (enabled) sc.removeSparkListener(counter)
  }
}
