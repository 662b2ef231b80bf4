package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.functions._
import graft.config.KbConfig
import graft.streaming.StreamingIngest

/** Appends through the `maintain` lifecycle (closed loop, one client):
  * batches of landed text files, a fixed share of them byte-identical
  * re-ingests of earlier files under new names, each committed with
  * `StreamingIngest.startKbMaintenance` (AvailableNow). The op is one
  * commit followed by one read through the `query` verb, the first read of
  * the new store version; the read asks for words of a document the commit
  * landed and must cite it. A maintained KB keys chunks by string ids, so
  * that read serves through the distributed plan. Every run makes the same
  * [[Commits]] measured commits whatever `--seconds` says: each commit
  * grows the KB, so parent and change must be compared after equal work.
  */
final class MaintainAppend(ctx: Ctx) {
  import ctx._
  val Dims = 256
  val PerBatch = 20
  val ReingestShare = 0.2
  val WordsPerDoc = 420
  val Vocab = 20000
  val Commits = 2
  val ProbeWords = 4
  val cfg: KbConfig = BenchCfg(Dims)
  private val vocab = Gen.vocabulary(seed, Vocab)
  private val zipf = new Gen.Zipf(Vocab, BenchCfg.ZipfS)
  // batch 0 is the initial lake, batch 1 the warm-up commit
  private val plan = Gen.landingPlan(seed, Commits + 2, PerBatch, ReingestShare)

  private def docText(d: Long) = Gen.text(seed, d, vocab, zipf, WordsPerDoc)

  /** Write the files of batch `b`; returns their bytes. */
  private def land(landing: File, b: Int): Long =
    plan(b).zipWithIndex.map { case (d, i) =>
      val bytes = docText(d).getBytes(UTF_8)
      java.nio.file.Files.write(new File(landing, f"b$b%03d-$i%04d.txt").toPath, bytes)
      bytes.length.toLong
    }.sum

  /** The file batch `b` lands first, always a new document, and a question
    * that its rarest words answer.
    */
  private def probeFile(b: Int) = f"b$b%03d-0000.txt"
  private def probe(b: Int) = Gen.probeQuery(docText(plan(b).head), vocab, ProbeWords)

  /** The `maintain` verb's commit: provider and chunk geometry from config.
    * While it runs, the sampler follows the stream's execution thread.
    */
  private def commit(kb: String, landing: File): Unit = {
    val q = StreamingIngest.startKbMaintenance(spark, s"${landing.getPath}/*.txt", kb,
      graft.embed.Embedder.Retrying(
        graft.models.ModelRegistry.embedderFor(cfg.vectorModel, cfg.vectorDimensions),
        maxRetries = cfg.apiMaxRetries),
      chunkSize = cfg.dbMaxTokens, overlap = cfg.dbMaxTokens / 4)
    val runner = scala.jdk.CollectionConverters.SetHasAsScala(Thread.getAllStackTraces.keySet)
      .asScala.find(_.getName.contains(s"runId = ${q.runId}"))
    tracer.following(runner)(q.awaitTermination())
  }

  /** One `query` verb call; returns the documents its context cites. */
  private def read(kb: String, q: String): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      graft.Main.run(Array("query", kb, q, "--context-only"), spark)
    }
    val Source = "<reference source=\"([^\"]*)\"".r
    Source.findAllMatchIn(buf.toString("UTF-8")).map(_.group(1)
      .replace("&quot;", "\"").replace("&lt;", "<").replace("&gt;", ">")
      .replace("&amp;", "&")).toSeq
  }

  /** The read after commit `b` cites 1 to k lake documents, among them
    * the probe document that commit landed (a stale version lacks it).
    */
  private def checkRead(kb: String, b: Int, srcs: Seq[String]): Unit = {
    val lake = lakeDocs(kb)
    check(srcs.size <= cfg.queryTopK && srcs.forall(lake.contains) &&
        srcs.exists(_.endsWith("/" + probeFile(b))),
      s"read after commit $b cites ${srcs.size} blocks, a document outside the lake, " +
        s"or not ${probeFile(b)}, which that commit landed")
  }

  private def lakeDocs(kb: String): Set[String] =
    spark.read.parquet(s"$kb/lake").select("doc_id").collect().map(_.getString(0)).toSet

  private def rows(path: String): Long =
    if (new File(path).exists()) spark.read.parquet(path).count() else 0L

  def run(): Outcome = {
    // set-up: the initial commit builds the KB (no index yet), and one
    // incremental commit warms the merge path every measured commit takes
    // (the read path is not warmed, to keep a run short: the first op's
    // read runs cold)
    val root = new File(work, "maintain")
    val kb = new File(root, "kb").getPath
    val landing = new File(root, "landing")
    landing.mkdirs(); new File(kb).mkdirs()
    val (initialBytes, gen) = Harness.time {
      java.nio.file.Files.write(new File(kb, "config.ini").toPath,
        KbConfig.renderIni(cfg).getBytes(UTF_8))
      land(landing, 0)
    }
    val (_, build) = Harness.time(commit(kb, landing))
    val (warmBytes, warm) = Harness.time {
      val b = land(landing, 1)
      commit(kb, landing)
      b
    }
    log("setup done")
    val setup = (gen, build, warm)
    var landedBytes = initialBytes + warmBytes
    val landedDocs = scala.collection.mutable.Set[Long](plan(0) ++ plan(1): _*)

    val walls = scala.collection.mutable.ArrayBuffer[(Double, Boolean)]()
    val commitMs, readMs = scala.collection.mutable.ArrayBuffer[(Double, Boolean)]()
    val commitTraces, readTraces = scala.collection.mutable.ArrayBuffer[OpTrace]()
    val written, bm25Written, landedTraced = scala.collection.mutable.ArrayBuffer[Double]()
    var reLanded, reDropped, embedded, embedHits, docsLanded = 0L
    var qcacheHits = 0
    (0 until Commits).foreach { i =>
      val b = i + 2
      val docs = plan(b)
      val bytes = land(landing, b)
      val reHere = docs.count(landedDocs.contains)
      val on = traced && i % 2 == 1
      val before = if (on) Seq(Harness.dirBytes(new File(kb)), rows(s"$kb/lake"),
        rows(s"$kb/embeddings"), rows(s"$kb/embcache")) else Nil
      // the op: the commit, then the first read of the version it made
      val (_, cMs, cTr) = tracer.op(on)(tracer.span("commit")(commit(kb, landing)))
      // store growth is taken before the read adds query-cache and log files
      cTr.foreach { t =>
        commitTraces += t
        val Seq(kbBytes, lake, emb, cache) = before
        written += (Harness.dirBytes(new File(kb)) - kbBytes).toDouble
        bm25Written += StreamingIngest.currentIndexPath(kb)
          .map(p => Harness.dirBytes(new File(p)).toDouble).getOrElse(0.0)
        landedTraced += bytes
        val fresh = docs.size - reHere
        reLanded += reHere
        reDropped += reHere - (rows(s"$kb/lake") - lake - fresh)
        val e = rows(s"$kb/embeddings") - emb
        embedded += e
        embedHits += e - (rows(s"$kb/embcache") - cache)
      }
      val qfiles = Harness.qcacheFiles(kb)
      val (srcs, rMs, rTr) = tracer.op(on)(tracer.span("first_read")(read(kb, probe(b))))
      log(s"commit $b: ${Harness.fmt(cMs)} ms, first read ${Harness.fmt(rMs)} ms")
      checkRead(kb, b, srcs)
      landedDocs ++= docs
      docsLanded += docs.size
      landedBytes += bytes
      walls += ((cMs + rMs, on))
      commitMs += ((cMs, on))
      readMs += ((rMs, on))
      rTr.foreach { t =>
        readTraces += t
        if (Harness.qcacheFiles(kb) == qfiles) qcacheHits += 1
      }
    }

    log("measured phase done")
    // the store after the last commit
    val current = StreamingIngest.lakeCurrent(spark, kb)
    val nCurrent = current.count()
    check(nCurrent == landedDocs.size,
      s"lakeCurrent holds $nCurrent docs, ${landedDocs.size} unique docs landed")
    val nChunks = current.select(explode(graft.ingest.Chunker.chunks(col("text"),
      cfg.dbMaxTokens, cfg.dbMaxTokens / 4))).count()
    val bm25N = StreamingIngest.currentIndexPath(kb).map(p =>
      spark.read.parquet(s"$p/stats").select("n").head().getLong(0)).getOrElse(-1L)
    check(bm25N == nChunks, s"BM25 store n = $bm25N, chunk count = $nChunks")
    val nEmb = rows(s"$kb/embeddings")
    check(nEmb == nChunks, s"embeddings rows = $nEmb, chunk count = $nChunks")

    log("store checked")
    def untraced(xs: Seq[(Double, Boolean)]) = xs.filter(w => !traced || !w._2).map(_._1)
    val opMs = untraced(walls.toSeq)
    val resident = Harness.residentMb()
    val spaceAmp = Harness.dirBytes(new File(kb)).toDouble / landedBytes
    val docsPerS = docsLanded / (commitMs.map(_._1).sum / 1000)
    val perLayer =
      if (!traced) Map.empty[String, Double]
      else {
        val cs = commitTraces.toSeq
        // commit jobs all carry the stream's start call site; the module
        // is the layer the stream thread was in when the job started
        def commitJobs(t: OpTrace, m: String) =
          t.jobs.filter(j => j.span == "commit" && t.layerAt(j.startMs, onMain = false) == m)
        // scheduler counts per commit; serving-layer metrics from the reads
        PerLayer.fromTraces(readTraces.toSeq) ++
          PerLayer.fromTraces(cs).filter(_._1.startsWith("spark.")) ++ PerLayer.setup(setup) ++
          PerLayer.overhead(walls.toSeq) ++
          PerLayer.MaintainModules.flatMap { m => Seq(
            s"maintain.jobs.$m" -> PerLayer.median(cs)(t =>
              commitJobs(t, m).size.toDouble),
            s"maintain.task_ms.$m" -> PerLayer.median(cs)(t =>
              commitJobs(t, m).map(_.taskMs).sum.toDouble))
          } ++ Map(
          "maintain.commit_ms" -> PerLayer.median(cs)(_.spans.getOrElse("commit", 0.0)),
          "maintain.first_read_ms" ->
            PerLayer.median(readTraces.toSeq)(_.spans.getOrElse("first_read", 0.0)),
          "query.qcache_hit_ratio" -> qcacheHits.toDouble / readTraces.size.max(1),
          "embed.cache_hit_ratio" -> (if (embedded == 0) 0.0 else embedHits.toDouble / embedded),
          "dedup.drop_ratio" -> (if (reLanded == 0) 0.0 else reDropped.toDouble / reLanded),
          "bm25.bytes_written_per_commit" -> Stats.median(bm25Written.toSeq),
          "storage.bytes_written_per_commit" -> Stats.median(written.toSeq),
          "storage.write_amp" -> written.sum / landedTraced.sum)
      }
    // checked: each op's read, and the three store counts
    Outcome(Harness.endToEnd(setup, opMs, docsPerS, spaceAmp, resident),
      perLayer, attempted = Commits + 3, failed = failures.size,
      details = Seq(Harness.setupLine(setup),
        Harness.opLine("op", opMs),
        Harness.opLine("commit", untraced(commitMs.toSeq)),
        s"first_query_ms=${Harness.fmt(Stats.median(untraced(readMs.toSeq)))} ms " +
          s"(median of ${untraced(readMs.toSeq).size} first reads after a commit)",
        s"ingest_docs_per_s=${Harness.fmt(docsPerS)} 1/s"))
  }
}
