package graft.query

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.embed.Embedder

/** Query-side caches ([[QueryCache]]): hits read FROM the table and never
  * touch the scorer/provider, misses compute once and round-trip as
  * appendable rows, duplicated cache rows don't fan out.
  */
class QueryCacheSpec extends SparkSpec {
  import spark.implicits._

  test("rerank cache: hits come from the table, misses from the scorer, appends round-trip") {
    val cands = Seq(
      (1L, "spark join", 10L, "spark join filter doc"),
      (1L, "spark join", 20L, "cooking pasta"),
      (2L, "pasta", 10L, "spark join filter doc"))
      .toDF("query_id", "qtext", "doc_id", "text")
    val scorer = graft.query.Rerank.lexicalScoreCols(
      array_distinct(graft.functions.TextFunctions.tokenizeBm25(col("qtext"))),
      col("text"))
    val empty = Seq.empty[(String, Long, Double)]
      .toDF("query_key", "doc_id", "rscore")
    val cold = QueryCache.rerankWithCache(cands, "qtext", "doc_id", empty, scorer)
    assert(cold.newCacheRows.count() == 3) // all misses
    val direct = cands.withColumn("rscore", scorer)
      .select("query_id", "doc_id", "rscore")
      .as[(Long, Long, Double)].collect().toSet
    assert(cold.scored.select("query_id", "doc_id", "rscore")
      .as[(Long, Long, Double)].collect().toSet == direct)
    // warm: poisoned scorer — a single miss would poison the values
    val warm = QueryCache.rerankWithCache(cands, "qtext", "doc_id",
      cold.newCacheRows, lit(-999.0))
    assert(warm.newCacheRows.count() == 0)
    assert(warm.scored.select("query_id", "doc_id", "rscore")
      .as[(Long, Long, Double)].collect().toSet == direct)
  }

  test("rerank cache: a duplicated cache row does not fan candidates out") {
    val cands = Seq((1L, "spark join", 10L, "spark join doc"))
      .toDF("query_id", "qtext", "doc_id", "text")
    val key = cands.select(Embedder.contentKey(col("qtext"))).head.getString(0)
    val dupCache = Seq((key, 10L, 0.5), (key, 10L, 0.5))
      .toDF("query_key", "doc_id", "rscore")
    val r = QueryCache.rerankWithCache(cands, "qtext", "doc_id",
      dupCache, lit(-999.0))
    assert(r.scored.count() == 1)
    assert(r.scored.select("rscore").as[Double].head() == 0.5)
  }

  test("embedQueryCached: miss calls the provider once, the repeat is served at rest") {
    val dir = java.nio.file.Files.createTempDirectory("graft_qcache").toString + "/qcache"
    var calls = 0
    val counting = new Embedder.Provider {
      val model = "counting-8"; val dims = 8
      def embedBatch(texts: Seq[String]): Seq[Array[Float]] = {
        calls += texts.size
        Embedder.Deterministic(8).embedBatch(texts)
      }
    }
    val v1 = QueryCache.embedQueryCached(spark, dir, "spark join", counting)
    assert(calls == 1)
    // the repeat must be served from the table — the refusing provider
    // makes "no provider call" a property the run enforces; it mirrors the
    // real provider's model name because the cache is keyed (model, dims)
    val v2 = QueryCache.embedQueryCached(spark, dir, "spark join",
      QueryCache.refusingProvider(8, mirrorModel = "counting-8"))
    assert(v2.toSeq == v1.toSeq)
    // a different query misses and appends alongside
    QueryCache.embedQueryCached(spark, dir, "pasta", counting)
    assert(calls == 2)
    QueryCache.flush(spark)
    assert(committed(dir).count() == 2)
    // a DIFFERENT model (or dims) never hits the first model's rows: the
    // at-rest cache separates by (model, dims) subdirectory
    var otherCalls = 0
    val otherModel = new Embedder.Provider {
      val model = "other-8"; val dims = 8
      def embedBatch(texts: Seq[String]): Seq[Array[Float]] = {
        otherCalls += texts.size
        Embedder.Deterministic(8).embedBatch(texts)
      }
    }
    QueryCache.embedQueryCached(spark, dir, "spark join", otherModel)
    assert(otherCalls == 1, "model change must MISS, not serve stale vectors")
    // the driver-side key twin matches the column form
    val colKey = Seq(Tuple1("spark join")).toDF("t")
      .select(Embedder.contentKey(col("t"))).head.getString(0)
    assert(QueryCache.contentKeyValue("spark join") == colKey)
  }

  test("refusing provider throws on any miss; a fully warm embed pass succeeds") {
    val queries = Seq((1L, "spark join"), (2L, "pasta"))
      .toDF("query_id", "text")
    val empty = Seq.empty[(String, Array[Float])].toDF("content_key", "embedding")
    intercept[Exception] { // cold pass against the refusing provider: boom
      Embedder.embedWithCache(queries, "text", empty,
        QueryCache.refusingProvider(8)).embedded.count()
    }
    val cold = Embedder.embedWithCache(queries, "text", empty,
      Embedder.Deterministic(8))
    val warm = Embedder.embedWithCache(queries, "text", cold.newCacheRows,
      QueryCache.refusingProvider(8))
    assert(warm.embedded.count() == 2) // served entirely by the cache join
    assert(warm.newCacheRows.count() == 0)
  }

  /** A provider that counts its calls and embeds deterministically. */
  private final class Counting(val model: String = "counting-8") extends Embedder.Provider {
    val dims = 8
    var calls = 0
    def embedBatch(texts: Seq[String]): Seq[Array[Float]] = {
      calls += texts.size
      Embedder.Deterministic(8).embedBatch(texts)
    }
  }
  private def expected(text: String): Seq[Float] =
    Embedder.Deterministic(8).embedBatch(Seq(text)).head.toSeq
  private def localDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/qcache"
  private def refusing = QueryCache.refusingProvider(8, mirrorModel = "counting-8")
  private def table(cacheDir: String): String = s"$cacheDir/counting-8_8"
  /** The parquet files of the segments the `counting-8` table's newest
    * manifest under `cacheDir` lists.
    */
  private def parquetFiles(cacheDir: String): Seq[String] =
    QueryCache.store.latest(spark, table(cacheDir)).toSeq.flatMap(_.segmentPaths)
      .flatMap(seg => Option(new java.io.File(seg).list()).toSeq.flatten)
      .filter(_.endsWith(".parquet"))
  /** The rows of the `counting-8` table's newest version under `cacheDir`. */
  private def committed(cacheDir: String): org.apache.spark.sql.DataFrame =
    QueryCache.store.latest(spark, table(cacheDir)).fold(
      Seq.empty[(String, Array[Float])].toDF("content_key", "embedding"))(v =>
      spark.read.parquet(v.segmentPaths: _*))
  /** `(content_key, count)` of the committed rows under `cacheDir`. */
  private def onDisk(cacheDir: String): Map[String, Long] =
    committed(cacheDir).groupBy("content_key").count()
      .as[(String, Long)].collect().toMap
  /** Commit one `(content_key, embedding)` row for `text` to the
    * `counting-8` table under `cacheDir` as a segment of its own, as a
    * foreign writer would.
    */
  private def appendRow(cacheDir: String, text: String, vec: Array[Float]): Unit =
    QueryCache.store.commit(spark, table(cacheDir)) { (n, prev) =>
      Seq((QueryCache.contentKeyValue(text), vec)).toDF("content_key", "embedding")
        .write.parquet(s"${table(cacheDir)}/v$n")
      (Nil, prev.fold(Seq.empty[String])(_.segments) :+ s"v$n")
    }

  test("embedQueryCached: a null embedding row recomputes, resident and at rest") {
    Seq(localDir("graft_qcache_null"),
        graft.NoJavaIoFileSystem.tempDir(spark, "graft_qcache_null_noio") + "/qcache")
      .foreach { dir =>
        appendRow(dir, "null row", null)
        val p = new Counting
        val v = QueryCache.embedQueryCached(spark, dir, "null row", p)
        assert(p.calls == 1, dir)
        assert(v.toSeq == expected("null row"), dir)
        // the recomputed row is a hit from now on, the null row beside it
        assert(QueryCache.embedQueryCached(spark, dir, "null row", refusing)
          .toSeq == expected("null row"), dir)
      }
  }

  test("embedQueryCached: a wrong-length row recomputes, resident and at rest") {
    Seq(localDir("graft_qcache_len"),
        graft.NoJavaIoFileSystem.tempDir(spark, "graft_qcache_len_noio") + "/qcache")
      .foreach { dir =>
        appendRow(dir, "short row", Array(1f, 2f, 3f))
        val p = new Counting
        val v = QueryCache.embedQueryCached(spark, dir, "short row", p)
        assert(p.calls == 1, dir)
        assert(v.toSeq == expected("short row"), dir)
        assert(QueryCache.embedQueryCached(spark, dir, "short row", refusing)
          .toSeq == expected("short row"), dir)
      }
  }

  test("embedQueryCached: a warm hit runs no job, a miss below the flush threshold none, a load one") {
    val dir = localDir("graft_qcache_jobs")
    val p = new Counting
    // a session of its own: `flush` writes every directory of the session
    val own = spark.newSession()
    def ask(text: String, provider: Embedder.Provider = refusing,
            session: org.apache.spark.sql.SparkSession = own) =
      graft.JobCount(session)(
        QueryCache.embedQueryCached(session, dir, text, provider).toSeq)
    assert(ask("spark join", p) == ((expected("spark join"), 0)))
    assert(ask("spark join") == ((expected("spark join"), 0)))
    assert(ask("pasta", p) == ((expected("pasta"), 0)))
    assert(ask("pasta") == ((expected("pasta"), 0)))
    assert(ask("spark join") == ((expected("spark join"), 0)))
    assert(p.calls == 2)
    assert(parquetFiles(dir).isEmpty, "a miss below the threshold wrote a file")
    // the flush writes both rows as one file and re-stamps the map: the
    // session's next lookups reload nothing
    assert(graft.JobCount(own)(QueryCache.flush(own))._2 == 1)
    assert(parquetFiles(dir).size == 1)
    assert(ask("window ranking", p) == ((expected("window ranking"), 0)))
    assert(p.calls == 3)
    // a fresh session pays one load job, then serves from its own map
    val other = spark.newSession()
    assert(ask("pasta", session = other) == ((expected("pasta"), 1)))
    assert(ask("spark join", session = other) == ((expected("spark join"), 0)))
  }

  test("embedQueryCached: another session's append is served without a provider call") {
    val dir = localDir("graft_qcache_foreign")
    val p = new Counting
    QueryCache.embedQueryCached(spark, dir, "spark join", p)
    QueryCache.embedQueryCached(spark, dir, "spark join", refusing) // resident
    val other = new Counting
    val foreign = spark.newSession()
    QueryCache.embedQueryCached(foreign, dir, "window ranking", other)
    QueryCache.flush(foreign)
    assert(other.calls == 1)
    assert(QueryCache.embedQueryCached(spark, dir, "window ranking", refusing)
      .toSeq == expected("window ranking"))
    assert(QueryCache.embedQueryCached(spark, dir, "spark join", refusing)
      .toSeq == expected("spark join"))
    assert(p.calls == 1)
  }

  test("embedQueryCached: a deleted cache directory misses and re-appends") {
    val dir = localDir("graft_qcache_deleted")
    val p = new Counting
    QueryCache.embedQueryCached(spark, dir, "spark join", p)
    QueryCache.embedQueryCached(spark, dir, "pasta", p)
    QueryCache.embedQueryCached(spark, dir, "pasta", refusing) // resident
    QueryCache.flush(spark)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    // a hit needs no listing: the session keeps serving the vectors it
    // holds, which are still correct (a vector is a function of its key)
    assert(QueryCache.embedQueryCached(spark, dir, "pasta", refusing).toSeq == expected("pasta"))
    // a miss stamps the directory, finds it gone and re-appends
    assert(QueryCache.embedQueryCached(spark, dir, "window ranking", p).toSeq ==
      expected("window ranking"))
    assert(p.calls == 3)
    QueryCache.flush(spark)
    assert(committed(dir).count() == 1)
    // the rows deleted with the directory are gone from the map as well
    QueryCache.embedQueryCached(spark, dir, "spark join", p)
    assert(p.calls == 4)
  }

  test("embedQueryCached: with no java.io view the lookup is resident and sees foreign appends") {
    val dir = graft.NoJavaIoFileSystem.tempDir(spark, "graft_qcache_noio") + "/qcache"
    val p = new Counting
    QueryCache.embedQueryCached(spark, dir, "spark join", p)
    QueryCache.flush(spark)
    assert(committed(dir).count() == 1)
    assert(!graft.NoJavaIoFileSystem.javaIoSees(s"$dir/counting-8_8"))
    val (v, jobs) = graft.JobCount(spark)(
      QueryCache.embedQueryCached(spark, dir, "spark join", refusing).toSeq)
    assert(v == expected("spark join"))
    assert(jobs == 0, "the hit read the table instead of the resident map")
    appendRow(dir, "window ranking", expected("window ranking").toArray)
    assert(QueryCache.embedQueryCached(spark, dir, "window ranking", refusing)
      .toSeq == expected("window ranking"))
    assert(p.calls == 1)
  }

  test("embedQueryCached: 50 misses and a flush leave at most 2 files; a fresh session loads them in one job") {
    val dir = localDir("graft_qcache_behind")
    val p = new Counting
    val texts = (1 to 50).map(i => s"question $i")
    texts.foreach(t => QueryCache.embedQueryCached(spark, dir, t, p))
    assert(p.calls == 50)
    // the 32nd miss wrote the first 32 rows as one file
    assert(parquetFiles(dir).size == 1)
    QueryCache.flush(spark)
    assert(parquetFiles(dir).size == 2)
    assert(onDisk(dir) == texts.map(t => QueryCache.contentKeyValue(t) -> 1L).toMap)
    val fresh = spark.newSession()
    val (first, loadJobs) = graft.JobCount(fresh)(
      QueryCache.embedQueryCached(fresh, dir, texts.head, refusing).toSeq)
    assert(first == expected(texts.head) && loadJobs == 1)
    val (rest, jobs) = graft.JobCount(fresh)(
      texts.map(t => QueryCache.embedQueryCached(fresh, dir, t, refusing).toSeq))
    assert(rest == texts.map(expected) && jobs == 0)
  }

  test("embedQueryCached: a reload on a foreign append keeps the pending rows") {
    val dir = localDir("graft_qcache_keep")
    val p = new Counting
    QueryCache.embedQueryCached(spark, dir, "a", p)
    appendRow(dir, "b", expected("b").toArray)
    // "c" misses, stamps the directory, finds the foreign file and reloads
    QueryCache.embedQueryCached(spark, dir, "c", p)
    assert(QueryCache.embedQueryCached(spark, dir, "b", refusing).toSeq == expected("b"))
    assert(QueryCache.embedQueryCached(spark, dir, "a", refusing).toSeq == expected("a"))
    assert(p.calls == 2)
    QueryCache.flush(spark)
    assert(onDisk(dir) == Seq("a", "b", "c").map(t => QueryCache.contentKeyValue(t) -> 1L).toMap)
  }

  test("embedQueryCached: concurrent misses lose no row and the flush writes each key once") {
    val dir = localDir("graft_qcache_threads")
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    val provider = new Embedder.Provider {
      val model = "counting-8"; val dims = 8
      def embedBatch(texts: Seq[String]): Seq[Array[Float]] = {
        calls.addAndGet(texts.size)
        Embedder.Deterministic(8).embedBatch(texts)
      }
    }
    val texts = (0 until 4).map(t => (1 to 25).map(i => s"thread $t question $i"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val done = texts.map(ts => pool.submit(new java.util.concurrent.Callable[Seq[Seq[Float]]] {
        def call(): Seq[Seq[Float]] =
          ts.map(t => QueryCache.embedQueryCached(spark, dir, t, provider).toSeq)
      }))
      done.zip(texts).foreach { case (f, ts) => assert(f.get() == ts.map(expected)) }
    } finally pool.shutdown()
    assert(calls.get == 100)
    QueryCache.flush(spark)
    val all = texts.flatten
    assert(onDisk(dir) == all.map(t => QueryCache.contentKeyValue(t) -> 1L).toMap)
    assert(all.map(t => QueryCache.embedQueryCached(spark, dir, t, refusing).toSeq) ==
      all.map(expected))
  }

  /** A fresh session serves each of `texts` without a provider call. */
  private def servedFresh(cacheDir: String, texts: Seq[String]): Unit = {
    val fresh = spark.newSession()
    assert(texts.map(t => QueryCache.embedQueryCached(fresh, cacheDir, t, refusing).toSeq) ==
      texts.map(expected), cacheDir)
  }
  private def cacheDirs(prefix: String): Seq[String] =
    Seq(localDir(prefix), graft.NoJavaIoFileSystem.tempDir(spark, s"${prefix}_noio") + "/qcache")
  private def hadoopPath(p: String) = new org.apache.hadoop.fs.Path(p)
  private def writeText(path: String, text: String): Unit = {
    val out = graft.sources.KbStorage.fileSystem(spark, hadoopPath(path)).create(hadoopPath(path))
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
  }

  test("embedQueryCached: two sessions flushing one directory at once both commit") {
    cacheDirs("graft_qcache_sessions").foreach { dir =>
      val p = new Embedder.Provider {
        val model = "counting-8"; val dims = 8
        def embedBatch(texts: Seq[String]): Seq[Array[Float]] =
          Embedder.Deterministic(8).embedBatch(texts)
      }
      val texts = (0 until 2).map(s => (1 to 40).map(i => s"session $s question $i"))
      val start = new java.util.concurrent.CyclicBarrier(2)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        texts.map(ts => pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            val session = spark.newSession()
            start.await()
            ts.foreach(t => QueryCache.embedQueryCached(session, dir, t, p))
            QueryCache.flush(session)
          }
        })).foreach(_.get())
      } finally pool.shutdown()
      // each session committed its 32-row flush and its last 8 rows
      assert(QueryCache.store.latest(spark, table(dir)).map(_.number).contains(4L), dir)
      servedFresh(dir, texts.flatten)
    }
  }

  test("embedQueryCached: a crashed flush's segment and manifest are invisible, the next flush commits past them") {
    cacheDirs("graft_qcache_crash").foreach { dir =>
      val p = new Counting
      QueryCache.embedQueryCached(spark, dir, "a", p)
      QueryCache.flush(spark)
      // a crash after the segment write, and one mid manifest write
      Seq((QueryCache.contentKeyValue("b"), expected("b").toArray))
        .toDF("content_key", "embedding").write.parquet(s"${table(dir)}/v2")
      writeText(s"${table(dir)}/_manifest/v3", "version 3\nsegment v1\nsegment v2\n")
      val fresh = spark.newSession()
      val q = new Counting
      val (a, loadJobs) = graft.JobCount(fresh)(
        QueryCache.embedQueryCached(fresh, dir, "a", refusing).toSeq)
      assert(a == expected("a") && loadJobs == 1, dir)
      assert(QueryCache.embedQueryCached(fresh, dir, "b", q).toSeq == expected("b"), dir)
      assert(q.calls == 1, dir)
      QueryCache.flush(fresh)
      val v = QueryCache.store.latest(spark, table(dir)).get
      assert(v.number == 4L && v.segments == Seq("v1", "v4"), dir)
      servedFresh(dir, Seq("a", "b"))
    }
  }

  test("embedQueryCached: a directory written before manifests serves as empty, the next flush commits v1 beside it") {
    cacheDirs("graft_qcache_flat").foreach { dir =>
      // the flat layout: parquet appended straight into the model directory
      Seq((QueryCache.contentKeyValue("a"), expected("a").toArray))
        .toDF("content_key", "embedding").write.mode("append").parquet(table(dir))
      val p = new Counting
      assert(QueryCache.embedQueryCached(spark, dir, "a", p).toSeq == expected("a"), dir)
      assert(p.calls == 1, dir)
      QueryCache.flush(spark)
      val v = QueryCache.store.latest(spark, table(dir)).get
      assert(v.number == 1L && v.segments == Seq("v1"), dir)
      assert(onDisk(dir) == Map(QueryCache.contentKeyValue("a") -> 1L), dir)
      servedFresh(dir, Seq("a"))
    }
  }

  test("embedQueryCached: the ninth flush merges the store into one segment; a fresh session loads it in one job") {
    import scala.jdk.CollectionConverters._
    val dir = localDir("graft_qcache_merge")
    val p = new Counting
    val texts = (1 to 9 * 32).map(i => s"question $i")
    val (_, jobs) = graft.JobCount(spark)(texts.foreach(t => QueryCache.embedQueryCached(spark, dir, t, p)))
    assert(p.calls == texts.size && jobs == 9, s"$jobs jobs")
    val latest = QueryCache.store.latest(spark, table(dir)).get
    assert(latest.number == 9L && latest.segments == Seq("v9"))
    assert(onDisk(dir) == texts.map(t => QueryCache.contentKeyValue(t) -> 1L).toMap)
    // at most two manifests, and every data file is in a segment they list
    val manifests = new java.io.File(s"${table(dir)}/_manifest").list().filter(_.matches("v\\d+")).toSeq
    assert(manifests.nonEmpty && manifests.size <= 2, manifests)
    val live = manifests.flatMap(m => QueryCache.store.at(spark, s"${table(dir)}/$m")).flatMap(_.segments)
    val root = java.nio.file.Paths.get(table(dir))
    val walk = java.nio.file.Files.walk(root)
    val files = try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(root.relativize(_).toString).filterNot(_.startsWith("_manifest/")).toSeq
      finally walk.close()
    val strays = files.filterNot(f => live.exists(seg => f.startsWith(s"$seg/")))
    assert(strays.isEmpty, strays)
    val fresh = spark.newSession()
    val (first, loadJobs) = graft.JobCount(fresh)(
      QueryCache.embedQueryCached(fresh, dir, texts.head, refusing).toSeq)
    assert(first == expected(texts.head) && loadJobs == 1)
    val (rest, restJobs) = graft.JobCount(fresh)(
      texts.map(t => QueryCache.embedQueryCached(fresh, dir, t, refusing).toSeq))
    assert(rest == texts.map(expected) && restJobs == 0)
  }
}
