package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.KbConfig

/** What one run reports: end-to-end metrics, per-layer metrics (only for a
  * traced run), the op counts, and lines with the workload's own figures.
  */
final case class Outcome(endToEnd: Seq[(String, Double, String)],
                         perLayer: Map[String, Double],
                         attempted: Int, failed: Int, details: Seq[String])

/** Shared state of one run. */
final class Ctx(val spark: SparkSession, val work: File, val seed: Long,
                val seconds: Double, val tracer: Tracer) {
  def traced: Boolean = tracer.enabled
  val failures = scala.collection.mutable.ArrayBuffer[String]()
  def check(ok: Boolean, what: => String): Unit = if (!ok) failures += what

  private val t0 = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since the run began. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s $msg")
}

/** Helpers every workload uses. */
object Harness {

  /** Call `step(i)` for i = 0, 1, … until `seconds` have passed and at
    * least `minOps` calls were made. Returns (calls, elapsed seconds).
    */
  def loop(seconds: Double, minOps: Int)(step: Int => Unit): (Int, Double) = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (i < minOps || elapsed < seconds) { step(i); i += 1 }
    (i, elapsed)
  }

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Bytes of all regular files under `f`. */
  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  /** Parquet files of the at-rest query cache under `kb`: a miss appends one. */
  def qcacheFiles(kb: String): Int = {
    def count(f: File): Int =
      if (f.isFile) (if (f.getName.endsWith(".parquet")) 1 else 0)
      else Option(f.listFiles()).map(_.map(count).sum).getOrElse(0)
    count(new File(kb, "qcache"))
  }

  /** Driver heap in MB after a full collection: the least of a few
    * collections spaced out so Spark's cleaner can drop what became
    * unreachable in between.
    */
  def residentMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 4).map { _ =>
      System.gc()
      Thread.sleep(150)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  /** The corpus key the `query` verb passes: the embeddings path plus a
    * fingerprint of its files, so a rewrite never serves a stale memo.
    */
  def corpusKey(dir: String): String = {
    val crc = new java.util.zip.CRC32()
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .sortBy(_.getName).foreach { f =>
        crc.update(s"${f.getName}:${f.lastModified()}:${f.length()};"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    s"$dir@${crc.getValue}"
  }

  val HitCols = Seq("doc_id", "score", "text", "sourcedoc", "sid",
    "rerank_score", "final_rank")

  /** Hit rows as value lists over [[HitCols]], in final_rank order. */
  def hitValues(rows: Seq[Row]): Seq[Seq[Any]] =
    rows.map(r => HitCols.map { c =>
      r.get(r.fieldIndex(c)) match {
        case n: java.lang.Integer => n.longValue()
        case x                    => x
      }
    }).sortBy(_.last.asInstanceOf[Long])

  /** True when `df` is computed on the driver from local rows (no scan). */
  def servedInProcess(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])

  def fmt(x: Double): String = f"$x%.3f"

  /** The details line with the set-up's phases. */
  def setupLine(setup: (Double, Double, Double)): String =
    s"setup (generate + kb_build + warm s): ${fmt(setup._1)} + ${fmt(setup._2)} + ${fmt(setup._3)}"

  /** End-to-end metrics every workload reports. */
  def endToEnd(setup: (Double, Double, Double), opMs: Seq[Double],
               itemsPerS: Double, spaceAmp: Double,
               residentMb: Double): Seq[(String, Double, String)] = Seq(
    ("setup_s", setup._1 + setup._2 + setup._3, "s"),
    ("op_p50_ms", Stats.median(opMs), "ms"),
    ("op_tail_ms", Stats.tail(opMs)._1, "ms"),
    ("items_per_s", itemsPerS, "1/s"),
    ("space_amp", spaceAmp, "ratio"),
    ("resident_mb", residentMb, "MB"))

  def opLine(name: String, opMs: Seq[Double]): String =
    if (opMs.isEmpty) s"$name: no samples"
    else {
      val (t, p) = Stats.tail(opMs)
      s"${name}_p50_ms=${fmt(Stats.median(opMs))} ms, ${name}_tail_ms=${fmt(t)} ms " +
        s"(p${p * 100} of ${opMs.size})"
    }
}

/** The per-layer metrics of a traced run: one fixed set of names for every
  * workload, so a layer a workload does not exercise reads 0 there.
  */
object PerLayer {
  val MaintainModules = Seq("Dedup", "Chunker", "Embedder", "Bm25", "StreamingIngest")

  /** (name, unit) of every per-layer metric. */
  val Metrics: Seq[(String, String)] = Seq(
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.task_ms_per_op" -> "ms",
    "spark.shuffle_bytes_per_op" -> "bytes", "spark.driver_ms_per_op" -> "ms",
    "query.enhance_ms" -> "ms", "query.qcache_ms" -> "ms",
    "query.qcache_jobs" -> "count", "query.qcache_hit_ratio" -> "ratio",
    "embed.query_ms" -> "ms", "embed.cache_hit_ratio" -> "ratio",
    "vector.ms" -> "ms", "vector.jobs" -> "count", "vector.resident_ratio" -> "ratio",
    "bm25.ms" -> "ms", "bm25.jobs" -> "count", "bm25.bytes_written_per_commit" -> "bytes",
    "fuse_rerank.ms" -> "ms", "context.ms" -> "ms", "context.jobs" -> "count",
    "maintain.commit_ms" -> "ms", "maintain.first_read_ms" -> "ms") ++
    MaintainModules.flatMap(m => Seq(s"maintain.jobs.$m" -> "count",
      s"maintain.task_ms.$m" -> "ms")) ++ Seq(
    "dedup.drop_ratio" -> "ratio",
    "storage.bytes_written_per_commit" -> "bytes", "storage.write_amp" -> "ratio",
    "setup.generate_s" -> "s", "setup.kb_build_s" -> "s", "setup.warm_s" -> "s",
    "trace.overhead_ms" -> "ms")

  def median(traces: Seq[OpTrace])(f: OpTrace => Double): Double =
    if (traces.isEmpty) 0.0 else Stats.median(traces.map(f))

  /** Scheduler and query-layer metrics, as medians over traced ops. */
  def fromTraces(traces: Seq[OpTrace]): Map[String, Double] = {
    def m(f: OpTrace => Double) = median(traces)(f)
    def ms(layer: String) = m(_.sampledMs.getOrElse(layer, 0.0))
    def jobs(layer: String) = m(t => t.jobs.count(t.layerOf(_) == layer).toDouble)
    Map(
      "spark.jobs_per_op" -> m(_.jobs.size.toDouble),
      "spark.stages_per_op" -> m(_.jobs.map(_.stages).sum.toDouble),
      "spark.tasks_per_op" -> m(_.jobs.map(_.tasks).sum.toDouble),
      "spark.task_ms_per_op" -> m(_.jobs.map(_.taskMs).sum.toDouble),
      "spark.shuffle_bytes_per_op" -> m(_.jobs.map(_.shuffleBytes).sum.toDouble),
      "spark.driver_ms_per_op" -> m(_.spans.getOrElse("driver", 0.0)),
      "query.enhance_ms" -> ms("enhance"),
      "query.qcache_ms" -> ms("qcache"),
      "query.qcache_jobs" -> jobs("qcache"),
      "embed.query_ms" -> ms("embed"),
      "vector.ms" -> ms("vector"),
      "vector.jobs" -> jobs("vector"),
      "bm25.ms" -> ms("bm25"),
      "bm25.jobs" -> jobs("bm25"),
      "fuse_rerank.ms" -> ms("fuse_rerank"),
      // the span where the caller formats the context, else the sampled
      // layer (inside a verb call)
      "context.ms" -> m(t => t.spans.getOrElse("context", t.sampledMs.getOrElse("context", 0.0))),
      "context.jobs" -> m(t => t.jobs.count(j => j.span == "context" || t.layerOf(j) == "context").toDouble))
  }

  def setup(s: (Double, Double, Double)): Map[String, Double] = Map(
    "setup.generate_s" -> s._1, "setup.kb_build_s" -> s._2, "setup.warm_s" -> s._3)

  /** Traced minus untraced median op time, from (ms, traced) pairs. */
  def overhead(walls: Seq[(Double, Boolean)]): Map[String, Double] = {
    val (tr, un) = walls.partition(_._2)
    Map("trace.overhead_ms" ->
      (if (tr.isEmpty || un.isEmpty) 0.0
       else Stats.median(tr.map(_._1)) - Stats.median(un.map(_._1))))
  }

  /** Every metric in [[Metrics]] order, 0 where `m` has no value. */
  def complete(m: Map[String, Double]): Seq[(String, Double, String)] =
    Metrics.map { case (n, u) => (n, m.getOrElse(n, 0.0), u) }
}

/** KB config shared by the workloads: deterministic embedder at `dims`,
  * top-k 20, every other knob at its default.
  */
object BenchCfg {
  def apply(dims: Int): KbConfig =
    KbConfig(vectorModel = s"deterministic-$dims", vectorDimensions = dims,
      queryTopK = 20)

  val ZipfS = 1.07
  val StopRanks = 60
}

/** A generated static KB: `chunks/` and `embeddings/` written from the seed,
  * then the `bm25` verb builds the index, as a `database` + `embed` +
  * `bm25` sequence would leave it.
  */
object StaticKb {
  final case class Shape(chunks: Int, dims: Int, chunksPerDoc: Int,
                         wordsPerChunk: Int, vocab: Int)

  /** Writes the generated tables; returns the chunk text bytes. */
  def generate(spark: SparkSession, kb: String, seed: Long, s: Shape): Long = {
    import spark.implicits._
    val parts = math.max(2, spark.sparkContext.defaultParallelism)
    spark.range(1, s.chunks + 1L, 1, parts).as[Long].mapPartitions { it =>
      val vocab = Gen.vocabulary(seed, s.vocab)
      val zipf = new Gen.Zipf(s.vocab, BenchCfg.ZipfS)
      it.map { i =>
        (i, Gen.text(seed, i, vocab, zipf, s.wordsPerChunk),
          f"doc-${(i - 1) / s.chunksPerDoc}%06d.txt", ((i - 1) % s.chunksPerDoc).toInt)
      }
    }.toDF("doc_id", "chunk_text", "sourcedoc", "sid")
      .write.mode("overwrite").parquet(s"$kb/chunks")
    spark.range(1, s.chunks + 1L, 1, parts).as[Long]
      .map(i => (i, Gen.vector(seed, i, s.dims)))
      .toDF("doc_id", "embedding")
      .write.mode("overwrite").parquet(s"$kb/embeddings")
    spark.read.parquet(s"$kb/chunks")
      .agg(sum(octet_length(col("chunk_text")))).head().getLong(0)
  }

  /** The `bm25` verb over the generated chunk table. */
  def buildIndex(spark: SparkSession, kb: String): Unit =
    Console.withOut(new java.io.PrintStream(java.io.OutputStream.nullOutputStream())) {
      graft.Main.run(Array("bm25", kb), spark)
    }

  /** The serving tables as the `query` verb reads them. */
  def open(spark: SparkSession, kb: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$kb/chunks").withColumnRenamed("chunk_text", "text"),
     spark.read.parquet(s"$kb/embeddings"))
}
