package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

class StreamingIngestSpec extends SparkSpec {
  import spark.implicits._

  /** The chunk rows the maintenance steps take — `sourcedoc`, `sid`,
    * `chunk_text` and `embedtext` — of the text files under `glob`, chunked
    * as [[StreamingIngest.kbMaintenanceBatch]] chunks its survivors.
    */
  private def chunkFrame(glob: String): org.apache.spark.sql.DataFrame =
    spark.read.option("wholetext", "true").text(glob)
      .select(input_file_name().as("sourcedoc"),
        explode(graft.ingest.Chunker.chunks(col("value"), 200, 50)).as("c"))
      .select(col("sourcedoc"), col("c.sid").as("sid"),
        col("c.chunk_text").as("chunk_text"))
      .withColumn("embedtext", graft.functions.TextFunctions.cleanText(col("chunk_text")))

  test("windowed event counts: batch semantics (sliding windows, correct counts)") {
    val events = Seq(
      ("click", java.sql.Timestamp.valueOf("2026-01-01 00:01:00")),
      ("click", java.sql.Timestamp.valueOf("2026-01-01 00:04:00")),
      ("view",  java.sql.Timestamp.valueOf("2026-01-01 00:04:30")),
      ("click", java.sql.Timestamp.valueOf("2026-01-01 00:11:00")))
      .toDF("event_type", "ts")
    val got = StreamingIngest.windowedEventCounts(events, "ts")
      .select(col("win_start").cast("string"), col("event_type"), col("n"))
      .as[(String, String, Long)].collect().toSet
    // 00:01 click lands in windows [23:55,00:05] and [00:00,00:10]
    assert(got.contains(("2026-01-01 00:00:00", "click", 2L)))
    assert(got.contains(("2026-01-01 00:00:00", "view", 1L)))
    assert(got.contains(("2026-01-01 00:10:00", "click", 1L)))
    assert(got.contains(("2025-12-31 23:55:00", "click", 2L)))
  }

  test("windowed event counts run as a real stream with watermark") {
    val in = Files.createTempDirectory("graft_stream_ev").toString
    Files.write(Paths.get(in, "ev.csv"),
      ("click,2026-01-01 00:01:00\nview,2026-01-01 00:04:30\n")
        .getBytes(StandardCharsets.UTF_8))
    val schema = "event_type STRING, ts TIMESTAMP"
    val stream = spark.readStream.schema(schema).csv(s"$in/*.csv")
    val counts = StreamingIngest.windowedEventCounts(stream, "ts")
    assert(counts.isStreaming)
    val q = counts.writeStream.format("memory").queryName("ev_counts")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // append mode emits only watermark-closed windows; with AvailableNow and
    // no further data the state stays open — assert the stream RAN and the
    // plan carried a watermark (observable via lastProgress)
    assert(q.lastProgress != null)
  }

  test("streaming dedup keeps one row per key within the watermark horizon") {
    // Spark 4.1 moved MemoryStream under execution.streaming.runtime
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val df = input.toDF().toDF("user_id", "event_type", "ts")
    val out = StreamingIngest.dedupStream(df, "ts", Seq("user_id", "event_type"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "click", java.sql.Timestamp.valueOf("2026-01-01 00:01:00")),
        (1L, "click", java.sql.Timestamp.valueOf("2026-01-01 00:02:00")), // dup in batch
        (2L, "view", java.sql.Timestamp.valueOf("2026-01-01 00:03:00")))
      q.processAllAvailable()
      input.addData( // dup arriving in a LATER microbatch, still in horizon
        (1L, "click", java.sql.Timestamp.valueOf("2026-01-01 00:05:00")),
        (3L, "click", java.sql.Timestamp.valueOf("2026-01-01 00:06:00")))
      q.processAllAvailable()
      val got = spark.table("dedup_out")
        .select("user_id", "event_type").as[(Long, String)].collect().sorted
      assert(got.toSeq == Seq((1L, "click"), (2L, "view"), (3L, "click")),
        s"cross-microbatch duplicate must be dropped, got ${got.toSeq}")
    } finally q.stop()
  }

  test("stream-stream interval join matches within the time range, state is watermark-bounded") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val views = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val cdf = clicks.toDF().toDF("user_id", "event_id", "ts")
    val vdf = views.toDF().toDF("user_id", "event_id", "ts")
    val joined = StreamingIngest.intervalJoin(cdf, vdf, "user_id", "ts",
      lowerSec = 600, upperSec = 600, watermark = "10 minutes")
    assert(joined.isStreaming)
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      clicks.addData((1L, 100L, t("2026-01-01 00:10:00")),
        (2L, 101L, t("2026-01-01 00:20:00")))
      views.addData(
        (1L, 200L, t("2026-01-01 00:05:00")), // 5 min before click 100 → match
        (1L, 201L, t("2026-01-01 00:30:00")), // 20 min after → no match
        (2L, 202L, t("2026-01-01 00:25:00")), // 5 min after click 101 → match
        (3L, 203L, t("2026-01-01 00:10:00"))) // no click for user 3
      q.processAllAvailable()
      // a view arriving in a LATER microbatch still joins (state held)
      views.addData((2L, 204L, t("2026-01-01 00:15:00"))) // 5 min before click 101
      q.processAllAvailable()
      val got = spark.table("ssj_out")
        .select("event_id", "r_event_id").as[(Long, Long)].collect().toSet
      assert(got == Set((100L, 200L), (101L, 202L), (101L, 204L)), s"got $got")
    } finally q.stop()
  }

  test("dedupStream batch form keeps the FIRST event-time row per key") {
    val batch = Seq(
      (1L, "click", java.sql.Timestamp.valueOf("2026-01-01 00:02:00")),
      (1L, "click", java.sql.Timestamp.valueOf("2026-01-01 00:01:00")),
      (2L, "view", java.sql.Timestamp.valueOf("2026-01-01 00:03:00")))
      .toDF("user_id", "event_type", "ts")
    val got = StreamingIngest.dedupStream(batch, "ts", Seq("user_id", "event_type"))
      .select("user_id", "ts").as[(Long, java.sql.Timestamp)].collect().toMap
    assert(got.size == 2)
    assert(got(1L) == java.sql.Timestamp.valueOf("2026-01-01 00:01:00"),
      "must keep the earliest event-time row, not an arbitrary one")
  }

  test("dedupStream batch form: equal event-times resolve by the tieBreak column") {
    val t = java.sql.Timestamp.valueOf("2026-01-01 00:01:00")
    val batch = Seq((1L, "click", t, 7L), (1L, "click", t, 3L), (1L, "click", t, 5L))
      .toDF("user_id", "event_type", "ts", "event_id")
      .repartition(8) // scramble partition order so an arbitrary-pick shows
    val got = StreamingIngest.dedupStream(batch, "ts", Seq("user_id", "event_type"),
        tieBreak = Seq("event_id"))
      .select("event_id").as[Long].collect().toSeq
    assert(got == Seq(3L), s"tieBreak must pick the lowest event_id: $got")
  }

  test("streaming index maintenance: append == rebuild through versioned stores, replay idempotent") {
    import graft.operators.Bm25
    val in = Files.createTempDirectory("graft_stream_ix_in").toString
    val ixd = Files.createTempDirectory("graft_stream_ix").toString
    Files.write(Paths.get(in, "a.txt"),
      (1 to 60).map(i => s"alpha$i common").mkString(" ").getBytes(StandardCharsets.UTF_8))

    StreamingIngest.maintainIndexBatch(spark, chunkFrame(s"$in/a.txt"), ixd)
    val v1 = StreamingIngest.currentIndexPath(ixd).get
    val ix1 = Bm25.readIndex(spark, v1)
    val n1 = ix1.lengths.count()
    assert(n1 > 0)

    // second wave: commits ONLY the new file's chunks
    Files.write(Paths.get(in, "b.txt"),
      (1 to 60).map(i => s"beta$i common").mkString(" ").getBytes(StandardCharsets.UTF_8))
    StreamingIngest.maintainIndexBatch(spark, chunkFrame(s"$in/b.txt"), ixd)
    val v2 = StreamingIngest.currentIndexPath(ixd).get
    assert(v2 != v1, "pointer must advance on a merging batch")
    val ix2 = Bm25.readIndex(spark, v2)

    // append == rebuild: the maintained index equals buildIndex over ALL
    // chunks, value for value on postings, lengths and idf
    val files = spark.read.option("wholetext", "true").text(s"$in/*.txt")
      .select(input_file_name().as("sourcedoc"), col("value").as("text"))
    val rebuiltDocs = files.select(col("sourcedoc"),
        explode(graft.ingest.Chunker.chunks(col("text"), 200, 50)).as("c"))
      .select(concat(col("sourcedoc"), lit("#"), col("c.sid")).as("doc_id"),
        col("c.chunk_text").as("text"))
    val rebuilt = Bm25.buildIndex(rebuiltDocs, "doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame, cols: Seq[String]) =
      df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(rows(ix2.postings, Seq("doc_id", "term", "tf", "doc_len")) ==
      rows(rebuilt.postings, Seq("doc_id", "term", "tf", "doc_len")))
    assert(rows(ix2.lengths, Seq("doc_id", "doc_len")) ==
      rows(rebuilt.lengths, Seq("doc_id", "doc_len")))
    assert(rows(ix2.idf, Seq("term", "idf")) == rows(rebuilt.idf, Seq("term", "idf")))
    assert(ix2.stats.select("n").head().getLong(0) ==
      rebuilt.stats.select("n").head().getLong(0))

    // replay idempotence: re-driving the SAME batch leaves the index
    // value-identical (all-duplicate replay keeps the pointer)
    val replay = files.select(col("sourcedoc"),
        explode(graft.ingest.Chunker.chunks(col("text"), 200, 50)).as("c"))
      .select(col("sourcedoc"), col("c.sid").as("sid"),
        col("c.chunk_text").as("chunk_text"))
    assert(StreamingIngest.maintainIndexBatch(spark, replay, ixd).isEmpty)
    assert(StreamingIngest.currentIndexPath(ixd).get == v2,
      "all-duplicate replay must not commit a version")

    // more commits, one new chunk each, until the store compacts: the
    // commit that would list MaxSegments + 1 segments writes one merged
    // segment, and the next one extends it again
    val extra = (1 to Bm25.MaxSegments).map(i =>
      (s"extra$i.txt", 0, (1 to 30).map(j => s"x${i}w$j common").mkString(" ")))
    val segments = extra.map { e =>
      val v = StreamingIngest.maintainIndexBatch(spark,
        Seq(e).toDF("sourcedoc", "sid", "chunk_text"), ixd).get
      // Spark lists a version's flat segment directories without a job,
      // and the manifest holds the schemas: opening it runs no job at any
      // segment count
      val (ix, jobs) = graft.JobCount(spark)(Bm25.readIndex(spark, v.path))
      assert(jobs == 0, s"opening ${v.segments.size} segments ran $jobs jobs")
      assert(ix.lengths.count() == v.totals.nLen)
      v.segments.size
    }
    assert(segments == (3 to Bm25.MaxSegments) ++ Seq(1, 2), segments)
    val current = StreamingIngest.currentIndexPath(ixd).get
    assert(current.endsWith(s"/v${2 + extra.size}"), current)
    // append == rebuild after compaction too: the served version equals
    // writeIndex(buildIndex(all chunks)) read back
    val ref = Files.createTempDirectory("graft_stream_ix_ref").toString
    Bm25.writeIndex(Bm25.buildIndex(rebuiltDocs.unionByName(extra.toDF("sourcedoc", "sid", "text")
      .select(concat(col("sourcedoc"), lit("#"), col("sid")).as("doc_id"), col("text"))),
      "doc_id", "text"), ref)
    val (got, exp) = (Bm25.readIndex(spark, current), Bm25.readIndex(spark, ref))
    assert(rows(got.postings, Seq("doc_id", "term", "tf", "doc_len", "term_bucket")) ==
      rows(exp.postings, Seq("doc_id", "term", "tf", "doc_len", "term_bucket")))
    assert(rows(got.lengths, Seq("doc_id", "doc_len")) == rows(exp.lengths, Seq("doc_id", "doc_len")))
    assert(rows(got.idf, Seq("term", "df", "idf")) == rows(exp.idf, Seq("term", "df", "idf")))
    assert(got.nDocs == exp.nDocs && got.avgdl == exp.avgdl && got.termBuckets == exp.termBuckets)
    assert(spark.read.parquet(s"$current/stats").select("n").head().getLong(0) == exp.nDocs)
    // retention: ten commits leave the two newest manifests, and the
    // segments the compaction merged away are gone
    assert(new java.io.File(s"$ixd/_manifest").list().filter(_.matches("v\\d+")).toSet ==
      Set(s"v${1 + extra.size}", s"v${2 + extra.size}"))
    assert(new java.io.File(ixd).list().filter(_.matches("v\\d+")).toSet ==
      Set(s"v${1 + extra.size}", s"v${2 + extra.size}"))
  }

  test("maintenance refuses a BM25 store written before manifests, before any write") {
    import graft.operators.Bm25
    val chunks = Seq(("a.txt", 0, (1 to 40).map(i => s"alpha$i shared").mkString(" ")))
      .toDF("sourcedoc", "sid", "chunk_text")
    val old = Bm25.buildIndex(Seq(("z.txt#0", "zeta omega")).toDF("doc_id", "text"),
      "doc_id", "text")
    for (local <- Seq(true, false); pointer <- Seq(false, true)) {
      val kb =
        if (local) Files.createTempDirectory("graft_stream_pre").toString
        else graft.NoJavaIoFileSystem.tempDir(spark, "graft_stream_pre_noio")
      graft.operators.Bm25Spec.writePreManifest(old, kb, pointer)
      val what = s"local=$local pointer=$pointer"
      def refused(f: => Any): Unit = {
        val e = intercept[IllegalStateException](f)
        assert(e.getMessage == Bm25.preManifestRefusal(kb), what)
      }
      refused(StreamingIngest.currentIndexPath(kb))
      refused(StreamingIngest.maintainIndexBatch(spark, chunks, kb))
      // nothing written: no manifest and no new version directory
      val fs = graft.sources.KbStorage.fileSystem(spark, new org.apache.hadoop.fs.Path(kb))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$kb/_manifest")), what)
      assert(fs.listStatus(new org.apache.hadoop.fs.Path(kb)).map(_.getPath.getName)
        .filter(_.matches("v\\d+")).toSet == (if (pointer) Set("v3") else Set.empty), what)
    }
  }

  test("maintenance refuses a lake written without fp or created_at") {
    val provider = graft.embed.Embedder.Deterministic(8)
    val batch = Seq(("n.txt", "a new document about spark")).toDF("doc_id", "text")
    val lakeRows = Seq(("a.txt", "alpha beta gamma delta")).toDF("doc_id", "text")
    val shapes = Seq(
      "fp" -> lakeRows.withColumn("created_at", lit(0L)).withColumn("updated_at", lit(0L)),
      "created_at" -> lakeRows.withColumn("fp",
        graft.functions.TextFunctions.fingerprint(col("text"))))
    for (local <- Seq(true, false); (missing, lake) <- shapes) {
      val kb =
        if (local) Files.createTempDirectory("graft_stream_prelake").toString
        else graft.NoJavaIoFileSystem.tempDir(spark, "graft_stream_prelake_noio")
      lake.write.parquet(s"$kb/lake")
      val what = s"local=$local missing=$missing"
      def refused(f: => Any): Unit = {
        val e = intercept[IllegalStateException](f)
        assert(e.getMessage == StreamingIngest.lakeRefusal(s"$kb/lake", missing), what)
      }
      refused(StreamingIngest.kbMaintenanceBatch(spark, batch, kb, provider, batchId = 1L))
      refused(StreamingIngest.lakeCurrent(spark, kb))
      // refused at the dedup step: no other artifact was written
      Seq("embeddings", "embcache", "_manifest").foreach(d =>
        assert(!graft.sources.KbStorage.pathExists(spark, s"$kb/$d"), s"$what: $d"))
      assert(spark.read.parquet(s"$kb/lake").count() == 1, what)
    }
  }

  test("maintenance commits on a filesystem with no java.io view") {
    import graft.operators.Bm25
    val kb = graft.NoJavaIoFileSystem.tempDir(spark, "graft_stream_noio")
    val provider = graft.embed.Embedder.Deterministic(8)
    val w1 = Seq(("a.txt", (1 to 60).map(i => s"alpha$i").mkString(" ")),
      ("b.txt", (1 to 60).map(i => s"beta$i").mkString(" "))).toDF("doc_id", "text")
    val w2 = Seq(("c.txt", (1 to 60).map(i => s"gamma$i").mkString(" ")))
      .toDF("doc_id", "text")
    StreamingIngest.kbMaintenanceBatch(spark, w1, kb, provider, batchId = 0L)
    val v1 = StreamingIngest.currentIndexPath(kb)
    StreamingIngest.kbMaintenanceBatch(spark, w2, kb, provider, batchId = 1L)
    val v2 = StreamingIngest.currentIndexPath(kb)
    assert(v1.nonEmpty && v2.nonEmpty && v1 != v2, s"$v1 -> $v2")
    assert(spark.read.parquet(s"$kb/lake").select("doc_id").as[String].collect().toSet ==
      Set("a.txt", "b.txt", "c.txt"))
    val chunks = spark.read.parquet(s"$kb/embeddings").count()
    val ix = Bm25.readIndex(spark, v2.get)
    assert(ix.nDocs == chunks && ix.lengths.count() == chunks)
    assert(Bm25.scoreWithIndex(ix, spark, "gamma7").head().getString(0).startsWith("c.txt"))
  }

  test("maintenance restarted after its checkpoint was lost commits a new version") {
    import graft.operators.Bm25
    val in = Files.createTempDirectory("graft_stream_lostck_in").toString
    val kb = Files.createTempDirectory("graft_stream_lostck").toString
    val provider = graft.embed.Embedder.Deterministic(8)
    Files.write(Paths.get(in, "a.txt"),
      (1 to 60).map(i => s"alpha$i").mkString(" ").getBytes(StandardCharsets.UTF_8))
    StreamingIngest.startKbMaintenance(spark, s"$in/*.txt", kb, provider).awaitTermination()
    val v1 = StreamingIngest.currentIndexPath(kb).get
    // the checkpoint is lost: the restarted stream re-reads every file and
    // numbers its batches from 0 again
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(kb, "_checkpoint"))
    Files.write(Paths.get(in, "b.txt"),
      (1 to 60).map(i => s"beta$i").mkString(" ").getBytes(StandardCharsets.UTF_8))
    StreamingIngest.startKbMaintenance(spark, s"$in/*.txt", kb, provider).awaitTermination()
    val v2 = StreamingIngest.currentIndexPath(kb).get
    assert(v2 != v1, "the restart must commit a new version, not rewrite the one it reads")
    val lake = spark.read.parquet(s"$kb/lake").select("doc_id").as[String].collect()
    assert(lake.length == 2 && lake.exists(_.endsWith("a.txt")) && lake.exists(_.endsWith("b.txt")))
    val chunks = spark.read.parquet(s"$kb/embeddings").count()
    assert(spark.read.parquet(s"$kb/embeddings").select("chunk_id").distinct().count() == chunks)
    val ix = Bm25.readIndex(spark, v2)
    assert(ix.nDocs == chunks && ix.lengths.count() == chunks)
    assert(spark.read.parquet(s"$v2/stats").select("n").head().getLong(0) == chunks)
  }

  test("streaming dedup-at-ingest: in-batch + vs-lake dedup, replay appends nothing") {
    val dd = Files.createTempDirectory("graft_stream_dd").toString
    val provider = graft.embed.Embedder.Deterministic(8)
    // wave 1: two identical docs (in-batch dup) + one distinct
    val w1 = Seq(("a.txt", "the quick brown fox"), ("b.txt", "the quick brown fox"),
      ("c.txt", "a completely different document")).toDF("doc_id", "text")
    StreamingIngest.kbMaintenanceBatch(spark, w1, dd, provider, batchId = 0L)
    val lake1 = spark.read.parquet(s"$dd/lake")
    assert(lake1.count() == 2, "in-batch duplicate collapses to its canonical member")
    assert(lake1.filter(col("doc_id").endsWith("a.txt")).count() == 1,
      "canonical = lexicographically smallest id")

    // wave 2: one lake-duplicate + one new doc -> only the new doc appends
    val w2 = Seq(("d.txt", "the quick brown fox"), ("e.txt", "fresh never seen content"))
      .toDF("doc_id", "text")
    StreamingIngest.kbMaintenanceBatch(spark, w2, dd, provider, batchId = 1L)
    val lake2 = spark.read.parquet(s"$dd/lake")
    assert(lake2.count() == 3, s"only the new doc appends: ${lake2.collect().mkString}")
    assert(lake2.filter(col("doc_id").endsWith("e.txt")).count() == 1)
    assert(lake2.filter(col("doc_id").endsWith("d.txt")).count() == 0)

    // replay: re-driving the wave-2 docs appends nothing
    StreamingIngest.kbMaintenanceBatch(spark, w2, dd, provider, batchId = 2L)
    assert(spark.read.parquet(s"$dd/lake").count() == 3, "full replay appends nothing")
  }

  test("streaming embed maintenance: cache hits never re-embed, replay appends nothing") {
    val in = Files.createTempDirectory("graft_stream_em_in").toString
    val em = Files.createTempDirectory("graft_stream_em").toString
    // JVM-global counter: the provider is serialized into task closures, so
    // an instance field would count on a deserialized COPY
    CountingProviderCalls.n.set(0)
    val calls = CountingProviderCalls.n
    val provider = new graft.embed.Embedder.Provider {
      private val det = graft.embed.Embedder.Deterministic(8)
      def model: String = "counting-deterministic"
      def dims: Int = 8
      def embedBatch(texts: Seq[String]): Seq[Array[Float]] = {
        CountingProviderCalls.n.addAndGet(texts.size); det.embedBatch(texts)
      }
    }
    // two files with IDENTICAL content: one provider call set serves both
    Files.write(Paths.get(in, "a.txt"),
      (1 to 60).map(i => s"alpha$i").mkString(" ").getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(in, "b.txt"),
      (1 to 60).map(i => s"alpha$i").mkString(" ").getBytes(StandardCharsets.UTF_8))
    StreamingIngest.embedMaintenanceBatch(spark, chunkFrame(s"$in/*.txt"), em, provider)
    val vecs1 = spark.read.parquet(s"$em/embeddings")
    val nChunksPerFile = vecs1.filter(col("chunk_id").contains("a.txt")).count()
    assert(vecs1.count() == 2 * nChunksPerFile, "every chunk row embedded")
    val callsWave1 = calls.get()
    assert(callsWave1 == nChunksPerFile,
      s"identical content embeds once per distinct key: $callsWave1 vs $nChunksPerFile")

    // wave 2: same content in a NEW file -> zero new provider calls,
    // chunk rows still append (cache hits)
    Files.write(Paths.get(in, "c.txt"),
      (1 to 60).map(i => s"alpha$i").mkString(" ").getBytes(StandardCharsets.UTF_8))
    StreamingIngest.embedMaintenanceBatch(spark, chunkFrame(s"$in/c.txt"), em, provider)
    assert(calls.get() == callsWave1, "cache must serve the duplicate content")
    assert(spark.read.parquet(s"$em/embeddings").count() == 3 * nChunksPerFile)

    // direct replay of wave-2 chunks: id anti-join drops everything
    StreamingIngest.embedMaintenanceBatch(spark, chunkFrame(s"$in/c.txt"), em, provider)
    assert(spark.read.parquet(s"$em/embeddings").count() == 3 * nChunksPerFile,
      "replay appends nothing")
    assert(calls.get() == callsWave1)
  }

  test("full KB maintenance stream: dedup -> chunk -> embed -> index per batch, end to end") {
    import graft.operators.Bm25
    val in = Files.createTempDirectory("graft_stream_kb_in").toString
    val kb = Files.createTempDirectory("graft_stream_kb").toString
    CountingProviderCalls.n.set(0)
    val provider = new graft.embed.Embedder.Provider {
      private val det = graft.embed.Embedder.Deterministic(8)
      def model: String = "counting-deterministic"
      def dims: Int = 8
      def embedBatch(texts: Seq[String]): Seq[Array[Float]] = {
        CountingProviderCalls.n.addAndGet(texts.size); det.embedBatch(texts)
      }
    }
    // wave 1: a duplicate pair + one distinct doc
    Files.write(Paths.get(in, "a.txt"),
      (1 to 60).map(i => s"alpha$i").mkString(" ").getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(in, "b.txt"),
      (1 to 60).map(i => s"alpha$i").mkString(" ").getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(in, "c.txt"),
      (1 to 60).map(i => s"gamma$i here").mkString(" ").getBytes(StandardCharsets.UTF_8))
    StreamingIngest.startKbMaintenance(spark, s"$in/*.txt", kb, provider)
      .awaitTermination()
    // lake holds 2 deduped docs; embeddings and index cover THEIR chunks only
    assert(spark.read.parquet(s"$kb/lake").count() == 2)
    val ix1 = Bm25.readIndex(spark, StreamingIngest.currentIndexPath(kb).get)
    val nChunks1 = spark.read.parquet(s"$kb/embeddings").count()
    assert(ix1.lengths.count() == nChunks1 && nChunks1 > 0)
    assert(ix1.lengths.filter(col("doc_id").contains("b.txt")).count() == 0,
      "the duplicate file must not reach the index")

    // wave 2: one new doc -> lake 3, index grows by its chunks, and the
    // maintained index answers a query for the new content
    Files.write(Paths.get(in, "d.txt"),
      (1 to 60).map(i => s"delta$i fresh").mkString(" ").getBytes(StandardCharsets.UTF_8))
    StreamingIngest.startKbMaintenance(spark, s"$in/*.txt", kb, provider)
      .awaitTermination()
    assert(spark.read.parquet(s"$kb/lake").count() == 3)
    val ix2 = Bm25.readIndex(spark, StreamingIngest.currentIndexPath(kb).get)
    assert(ix2.lengths.count() == spark.read.parquet(s"$kb/embeddings").count())
    val hits = Bm25.scoreWithIndex(ix2, spark, "delta1 fresh")
    assert(hits.head(1).nonEmpty, "the maintained index must answer for new content")
    assert(hits.orderBy(col("score").desc).head().getString(0).contains("d.txt"))

    // replay: re-driving the full wave appends/advances nothing anywhere
    val files = spark.read.option("wholetext", "true").text(s"$in/*.txt")
      .select(input_file_name().as("doc_id"), col("value").as("text"))
    val pointer = StreamingIngest.currentIndexPath(kb).get
    val callsBefore = CountingProviderCalls.n.get()
    StreamingIngest.kbMaintenanceBatch(spark, files, kb, provider, batchId = 77L)
    assert(spark.read.parquet(s"$kb/lake").count() == 3)
    assert(StreamingIngest.currentIndexPath(kb).get == pointer)
    assert(CountingProviderCalls.n.get() == callsBefore)
  }

  test("lake stores fingerprints at rest, and later batches probe the STORED column") {
    import spark.implicits._
    val kb = Files.createTempDirectory("graft_stream_lakefp").toString
    val b1 = Seq(("a.txt", "alpha beta gamma delta")).toDF("doc_id", "text")
    StreamingIngest.kbMaintenanceBatch(spark, b1, kb,
      graft.embed.Embedder.Deterministic(8), batchId = 0L)
    val lake = spark.read.parquet(s"$kb/lake")
    // fp is stored at append time and equals the recomputed fingerprint
    assert(lake.columns.contains("fp"))
    val (storedFp, recomputed) = lake
      .select(col("fp"), graft.functions.TextFunctions.fingerprint(col("text")))
      .as[(Long, Long)].head()
    assert(storedFp == recomputed)
    // doctor the stored fp: same text, different fingerprint on disk. If a
    // later batch recomputed fingerprints from lake TEXT it would still
    // drop the duplicate — probing the STORED column must let it through,
    // proving the at-rest fp (the 8-byte pruned scan) is authoritative.
    val doctored = lake.withColumn("fp", col("fp") + 1L)
    doctored.write.mode("overwrite").parquet(s"$kb/lake2")
    spark.read.parquet(s"$kb/lake2").write.mode("overwrite").parquet(s"$kb/lake")
    spark.catalog.refreshByPath(s"$kb/lake")
    val b2 = Seq(("b.txt", "alpha beta gamma delta")).toDF("doc_id", "text")
    val survivors = StreamingIngest.dedupSurvivors(spark, b2, kb)
    assert(survivors.count() == 1,
      "a doctored stored fp must change the dedup decision — the stored column is the identity")
  }

  test("kb maintenance crash mid-batch: the retry completes the lost embed/index work") {
    // the lake append is the batch's COMMIT POINT (it runs last). Simulate a
    // driver crash right before it: every pre-commit stage ran, the lake
    // did not advance. The foreachBatch retry must re-derive the same
    // survivors (lake unchanged), drop already-done work on each stage's
    // own anti-join, and only then commit the lake — leaving every artifact
    // exactly once. Under the OLD lake-first ordering this exact scenario
    // permanently lost the documents from the embeddings table and index.
    import graft.operators.Bm25
    val kb = Files.createTempDirectory("graft_stream_crash").toString
    val provider = graft.embed.Embedder.Deterministic(8)
    import spark.implicits._
    val batch = Seq(
      ("x.txt", (1 to 60).map(i => s"word$i").mkString(" ")),
      ("y.txt", (1 to 60).map(i => s"other$i text").mkString(" ")))
      .toDF("doc_id", "text")
    // crashed attempt: all pre-commit stages, NO lake append
    locally {
      val survivors = StreamingIngest.dedupSurvivors(spark, batch, kb)
      val chunks = survivors
        .select(col("doc_id").as("sourcedoc"),
          explode(graft.ingest.Chunker.chunks(col("text"), 200, 50)).as("c"))
        .select(col("sourcedoc"), col("c.sid").as("sid"),
          col("c.chunk_text").as("chunk_text"))
        .withColumn("embedtext",
          graft.functions.TextFunctions.cleanText(col("chunk_text")))
        .localCheckpoint(true)
      StreamingIngest.embedMaintenanceBatch(spark, chunks, kb, provider)
      StreamingIngest.maintainIndexBatch(spark, chunks, kb)
      // crash here: appendToLake never runs
    }
    assert(!new java.io.File(s"$kb/lake").exists(), "lake must not have advanced")
    val embBefore = spark.read.parquet(s"$kb/embeddings").count()
    assert(embBefore > 0)
    // the retry: the full batch body, same batchId (at-least-once replay)
    StreamingIngest.kbMaintenanceBatch(spark, batch, kb, provider, batchId = 5L)
    // every artifact holds the documents exactly once, and the lake committed
    assert(spark.read.parquet(s"$kb/lake").count() == 2)
    assert(spark.read.parquet(s"$kb/embeddings").count() == embBefore,
      "retry must not duplicate embeddings")
    val ix = Bm25.readIndex(spark, StreamingIngest.currentIndexPath(kb).get)
    assert(ix.lengths.count() == embBefore,
      "index must cover the crashed batch's chunks exactly once")
    // and a SECOND full replay after the commit is a no-op end to end
    StreamingIngest.kbMaintenanceBatch(spark, batch, kb, provider, batchId = 6L)
    assert(spark.read.parquet(s"$kb/lake").count() == 2)
    assert(spark.read.parquet(s"$kb/embeddings").count() == embBefore)
  }

  test("kb maintenance surface gate: junk documents never touch any artifact") {
    val in = Files.createTempDirectory("graft_stream_gate_in").toString
    val kb = Files.createTempDirectory("graft_stream_gate").toString
    val provider = graft.embed.Embedder.Deterministic(8)
    // a real doc (stopwords, varied tokens, sane lengths) + a 2-token junk doc
    Files.write(Paths.get(in, "good.txt"),
      (1 to 40).map(i => s"the word$i and").mkString(" ").getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(in, "junk.txt"), "x y".getBytes(StandardCharsets.UTF_8))
    StreamingIngest.startKbMaintenance(spark, s"$in/*.txt", kb, provider,
      surfaceGate = true).awaitTermination()
    val lake = spark.read.parquet(s"$kb/lake")
    assert(lake.count() == 1, "the junk doc must not enter the lake")
    assert(lake.filter(col("doc_id").endsWith("good.txt")).count() == 1)
    val ix = graft.operators.Bm25.readIndex(spark,
      StreamingIngest.currentIndexPath(kb).get)
    assert(ix.lengths.filter(col("doc_id").contains("junk.txt")).count() == 0)
    assert(spark.read.parquet(s"$kb/embeddings")
      .filter(col("chunk_id").contains("junk.txt")).count() == 0)
  }

  test("lake audit columns: created_at sticky, updated_at bumped through two maintenance waves") {
    // F16 lifecycle wiring (verdict r16 #5): the lake commit stamps audit
    // columns with the batch's logical time; lakeCurrent resolves the
    // reference's AFTER UPDATE trigger semantics (migrations.py:253-283)
    // per doc_id across version rows.
    val kb = Files.createTempDirectory("graft_stream_audit").toString
    val provider = graft.embed.Embedder.Deterministic(8)
    // wave 1 (t=10): docs A and B
    val w1 = Seq(("a.txt", "alpha beta gamma delta"),
                 ("b.txt", "epsilon zeta eta theta")).toDF("doc_id", "text")
    StreamingIngest.kbMaintenanceBatch(spark, w1, kb, provider, batchId = 10L)
    // wave 2 (t=20): A re-ingested with CHANGED content (an UPDATE), C new
    val w2 = Seq(("a.txt", "alpha beta gamma delta REVISED"),
                 ("c.txt", "iota kappa lambda mu")).toDF("doc_id", "text")
    StreamingIngest.kbMaintenanceBatch(spark, w2, kb, provider, batchId = 20L)

    val cur = StreamingIngest.lakeCurrent(spark, kb)
      .select("doc_id", "text", "created_at", "updated_at")
      .as[(String, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(cur.map(_._1) == Seq("a.txt", "b.txt", "c.txt"),
      "one current row per doc_id")
    val a = cur.find(_._1 == "a.txt").get
    assert(a._2.endsWith("REVISED"), "the update's content wins")
    assert(a._3 == 10L, "created_at is sticky at the original insert time")
    assert(a._4 == 20L, "updated_at bumps to the update's commit time")
    assert(cur.find(_._1 == "b.txt").get == (("b.txt", "epsilon zeta eta theta", 10L, 10L)))
    assert(cur.find(_._1 == "c.txt").get == (("c.txt", "iota kappa lambda mu", 20L, 20L)))
    // the lake itself stays an append-only version log: A has two rows
    val lake = spark.read.parquet(s"$kb/lake")
    assert(lake.filter(col("doc_id") === "a.txt").count() == 2)

    // content-identical replay of wave 2 at t=30: no UPDATE fires in the
    // reference either (the statement never runs) — audit columns freeze
    StreamingIngest.kbMaintenanceBatch(spark, w2, kb, provider, batchId = 30L)
    val a2 = StreamingIngest.lakeCurrent(spark, kb)
      .filter(col("doc_id") === "a.txt")
      .select("created_at", "updated_at").as[(Long, Long)].head()
    assert(a2 == ((10L, 20L)), "a replayed identical wave must not bump updated_at")
  }
}


/** JVM-wide provider-call counter (objects survive closure serialization). */
object CountingProviderCalls {
  val n = new java.util.concurrent.atomic.AtomicInteger(0)
}
