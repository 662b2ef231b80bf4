package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BM25 verified against an independent naive in-memory Okapi
  * implementation (the property SURVEY §5 calls for: "BM25 vs
  * naive-reference implementation").
  */
class Bm25Spec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox"),
    (3L, "lorem ipsum dolor sit amet consectetur"),
    (4L, "quick quick quick fox fox dog"),
    (5L, "an unrelated document about spark catalyst optimization"))

  // naive Okapi BM25 (k1=1.2, b=0.75, rank_bm25 idf variant) on tokenized text
  private def tokenize(s: String): Seq[String] =
    s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      .filter(t => t.length > 1 || t.matches("[0-9]"))
      .filterNot(graft.functions.TextFunctions.EnglishStopwords.contains)

  private def naiveScores(query: String): Map[Long, Double] = {
    val docs = corpus.map { case (id, t) => id -> tokenize(t) }
    val n = docs.size
    val avgdl = docs.map(_._2.size).sum.toDouble / n
    val df = docs.flatMap(_._2.distinct).groupBy(identity).view.mapValues(_.size)
    val qTokens = tokenize(query)
    docs.map { case (id, toks) =>
      val tf = toks.groupBy(identity).view.mapValues(_.size)
      val score = qTokens.map { t =>
        val d = df.getOrElse(t, 0)
        if (d == 0) 0.0
        else {
          val idf = math.log((n - d + 0.5) / (d + 0.5) + 1.0)
          val f = tf.getOrElse(t, 0).toDouble
          idf * f * (1.2 + 1.0) / (f + 1.2 * (1 - 0.75 + 0.75 * toks.size / avgdl))
        }
      }.sum
      id -> score
    }.toMap.filter(_._2 > 0)
  }

  test("scoreQuery matches the naive Okapi implementation") {
    val docs = corpus.toDF("doc_id", "text")
    val query = "quick fox"
    val got = Bm25.scoreQuery(docs, "doc_id", "text", query)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = naiveScores(query)
    assert(got.keySet == want.keySet)
    got.foreach { case (id, s) =>
      assert(math.abs(s - want(id)) < 1e-9, s"doc $id: got $s want ${want(id)}")
    }
  }

  test("repeated query terms weight the score by query term frequency") {
    val docs = corpus.toDF("doc_id", "text")
    val once = Bm25.scoreQuery(docs, "doc_id", "text", "fox")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val twice = Bm25.scoreQuery(docs, "doc_id", "text", "fox fox")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    once.foreach { case (id, s) =>
      assert(math.abs(twice(id) - 2 * s) < 1e-9, s"doc $id: qtf weighting broken")
    }
  }

  test("terms absent from the corpus contribute nothing and empty queries score nothing") {
    val docs = corpus.toDF("doc_id", "text")
    assert(Bm25.scoreQuery(docs, "doc_id", "text", "zzz qqq").count() == 0)
    assert(Bm25.scoreQuery(docs, "doc_id", "text", "").count() == 0)
  }

  test("scoreBatch == N independent scoreQuery runs") {
    val docs = corpus.toDF("doc_id", "text")
    val ix = Bm25.buildIndex(docs, "doc_id", "text")
    val queries = Seq((1L, "quick fox"), (2L, "spark catalyst"), (3L, "lorem ipsum"))
    val batch = Bm25.scoreBatch(ix, queries.toDF("query_id", "qtext"), "query_id", "qtext")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val singles = queries.flatMap { case (qid, q) =>
      Bm25.scoreQuery(docs, "doc_id", "text", q)
        .collect().map(r => (qid, r.getLong(0)) -> r.getDouble(1))
    }.toMap
    assert(batch.keySet == singles.keySet)
    batch.foreach { case (k, v) => assert(math.abs(v - singles(k)) < 1e-9, s"$k") }
  }

  test("rrfBatch == per-query rrf") {
    import org.apache.spark.sql.functions.lit
    val a = Seq((1L, 10L, 0.9), (1L, 11L, 0.8), (2L, 12L, 0.7)).toDF("query_id", "doc_id", "score")
    val b = Seq((1L, 11L, 5.0), (2L, 12L, 4.0), (2L, 13L, 3.0)).toDF("query_id", "doc_id", "score")
    val batch = Fusion.rrfBatch(Seq(a, b))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    Seq(1L, 2L).foreach { qid =>
      val single = Fusion.rrf(Seq(
          a.filter(col("query_id") === qid).drop("query_id"),
          b.filter(col("query_id") === qid).drop("query_id")))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      single.foreach { case (d, s) =>
        assert(math.abs(batch((qid, d)) - s) < 1e-12, s"q$qid doc$d")
      }
    }
  }

  test("mergeIndex(old, newDocs) scores identically to a full rebuild") {
    val oldDocs = corpus.take(3).toDF("doc_id", "text")
    val newDocs = corpus.drop(3).toDF("doc_id", "text")
    val allDocs = corpus.toDF("doc_id", "text")
    val merged = Bm25.mergeIndex(
      Bm25.buildIndex(oldDocs, "doc_id", "text"), newDocs, "doc_id", "text")
    val rebuilt = Bm25.buildIndex(allDocs, "doc_id", "text")
    def scores(ix: Bm25.Index): Map[Long, Double] =
      Bm25.scoreWithIndex(ix, spark, "quick fox dog")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val m = scores(merged); val r = scores(rebuilt)
    assert(m.keySet == r.keySet)
    m.foreach { case (d, s) => assert(math.abs(s - r(d)) < 1e-12, s"doc $d") }
    // corpus size tracked through the merge
    assert(merged.stats.select("n").head().getLong(0) == corpus.size.toLong)
  }

  test("mergeIndex accepts a legacy index whose stats lack the n column") {
    val oldDocs = corpus.take(3).toDF("doc_id", "text")
    val newDocs = corpus.drop(3).toDF("doc_id", "text")
    val built = Bm25.buildIndex(oldDocs, "doc_id", "text")
    val legacy = built.copy(stats = built.stats.drop("n"))
    val merged = Bm25.mergeIndex(legacy, newDocs, "doc_id", "text")
    val rebuilt = Bm25.buildIndex(corpus.toDF("doc_id", "text"), "doc_id", "text")
    assert(merged.stats.select("n").head().getLong(0) == corpus.size.toLong)
    val m = Bm25.scoreWithIndex(merged, spark, "quick fox dog")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val r = Bm25.scoreWithIndex(rebuilt, spark, "quick fox dog")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m.keySet == r.keySet)
    m.foreach { case (d, s) => assert(math.abs(s - r(d)) < 1e-12, s"doc $d") }
  }

  test("removeDocs(ids) scores identically to a rebuild over the surviving corpus") {
    val allDocs = corpus.toDF("doc_id", "text")
    val removed = Seq(corpus.head._1, corpus.last._1)
    val shrunk = Bm25.removeDocs(
      Bm25.buildIndex(allDocs, "doc_id", "text"),
      removed.toDF("doc_id"), "doc_id")
    val rebuilt = Bm25.buildIndex(
      corpus.filterNot(d => removed.contains(d._1)).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(shrunk.stats.select("n").head().getLong(0) ==
      (corpus.size - removed.size).toLong)
    def scores(ix: Bm25.Index): Map[Long, Double] =
      Bm25.scoreWithIndex(ix, spark, "quick fox dog")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val m = scores(shrunk); val r = scores(rebuilt)
    assert(m.keySet == r.keySet && !m.keySet.exists(removed.contains))
    m.foreach { case (d, s) => assert(math.abs(s - r(d)) < 1e-12, s"doc $d") }
  }

  test("topK returns k best with deterministic tie-break") {
    val docs = corpus.toDF("doc_id", "text")
    val top2 = Bm25.topK(Bm25.scoreQuery(docs, "doc_id", "text", "quick fox"), 2)
      .collect().map(_.getLong(0))
    val all = naiveScores("quick fox").toSeq.sortBy { case (id, s) => (-s, id) }
    assert(top2.toSeq == all.take(2).map(_._1))
  }

  test("termBucketValue is bit-identical to the termBucket expression over the whole vocabulary") {
    val docs = corpus.toDF("doc_id", "text")
    val vocab = Bm25.postings(docs, "doc_id", "text")
      .select("term").distinct().as[String].collect().toSeq
    assert(vocab.nonEmpty)
    for (n <- Seq(4, 64)) {
      val expr = docs.sparkSession.createDataset(vocab)
        .select(col("value"), Bm25.termBucket(col("value"), n).as("b"))
        .as[(String, Int)].collect().toMap
      vocab.foreach { t =>
        assert(Bm25.termBucketValue(t, n) == expr(t), s"term=$t n=$n")
      }
    }
  }

  test("term-bucketed at-rest index prunes partitions yet scores identically") {
    val docs = corpus.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_bkt").toString
    Bm25.writeIndex(Bm25.buildIndex(docs, "doc_id", "text"), dir, termBuckets = 4)
    val stored = Bm25.readIndex(spark, dir)
    assert(stored.termBuckets.contains(4))
    val mem = Bm25.buildIndex(docs, "doc_id", "text")
    val q = "quick fox"
    // inProcessLimit = 0 forces the DISTRIBUTED pruned scan whose plan
    // shape this test asserts (the in-process path has its own identity
    // test below)
    val got = Bm25.scoreWithIndex(stored, spark, q, inProcessLimit = 0)
    val plan = got.queryExecution.executedPlan.toString
    // the postings scan must carry the query terms' bucket partition filter
    assert(plan.contains("PartitionFilters"), plan.take(1500))
    assert(plan.split("PartitionFilters").exists(s =>
      s.take(400).contains("term_bucket")), plan.take(1500))
    // r16: AND the literal term IN (…) DATA filter pushed to parquet —
    // with the term-sorted bucket layout this is what page/row-group
    // statistics prune on inside a touched bucket
    assert(plan.split("PushedFilters").exists(s =>
      s.take(400).contains("In(term")), plan.take(2000))
    val gotMap = got.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val memMap = Bm25.scoreWithIndex(mem, spark, q)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gotMap.keySet == memMap.keySet)
    gotMap.foreach { case (id, s) => assert(math.abs(s - memMap(id)) < 1e-9) }
    // the stored index is KEYED, so the default limit serves IN PROCESS:
    // same docs, same scores (to the rounded contract), LocalRelation plan
    val inProc = Bm25.scoreWithIndex(stored, spark, q)
    assert(inProc.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      inProc.queryExecution.optimizedPlan.toString.take(500))
    val ipMap = inProc.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ipMap.keySet == gotMap.keySet)
    ipMap.foreach { case (id, s) => assert(math.abs(s - gotMap(id)) < 1e-9) }
    // flat-layout (termBuckets=0) indexes keep reading and never prune
    val flatDir = java.nio.file.Files.createTempDirectory("graft_bm25_flat").toString
    Bm25.writeIndex(mem, flatDir, termBuckets = 0)
    val flat = Bm25.readIndex(spark, flatDir)
    assert(flat.termBuckets.isEmpty)
    assert(Bm25.scoreWithIndex(flat, spark, q)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap.keySet == memMap.keySet)
  }

  test("mergeIndex accepts a bucketed STORED index and equals the full rebuild") {
    // the stored postings carry the term_bucket partition column the fresh
    // batch lacks — merge must align them, not throw on unionByName
    val docs = corpus.toDF("doc_id", "text")
    val base = docs.filter(col("doc_id") <= 2)
    val delta = docs.filter(col("doc_id") > 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_mrg").toString
    Bm25.writeIndex(Bm25.buildIndex(base, "doc_id", "text"), dir, termBuckets = 4)
    val merged = Bm25.mergeIndex(Bm25.readIndex(spark, dir), delta, "doc_id", "text")
    val rebuilt = Bm25.buildIndex(docs, "doc_id", "text")
    val q = "quick fox"
    def key(ix: Bm25.Index) = Bm25.scoreWithIndex(ix, spark, q, inProcessLimit = 0)
      .collect().map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1e9))).toSet
    assert(key(merged) == key(rebuilt))
    // the merged in-memory index is not bucket-complete: no pruning claimed
    assert(merged.termBuckets.isEmpty)
  }

  test("appendIndexStore == writeIndex(buildIndex(union)) exactly, files never rewritten") {
    val docs = corpus.toDF("doc_id", "text")
    val base = docs.filter(col("doc_id") <= 2)
    val delta = docs.filter(col("doc_id") > 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_app").toString
    val ref = java.nio.file.Files.createTempDirectory("graft_bm25_ref").toString
    Bm25.writeIndex(Bm25.buildIndex(base, "doc_id", "text"), dir, termBuckets = 4)
    val baseFiles = new java.io.File(s"$dir/postings").listFiles().flatMap(d =>
      Option(d.listFiles()).getOrElse(Array())).map(f => f.getPath -> f.lastModified).toMap
    val preKey = Bm25.readIndex(spark, dir).cacheKey
    Bm25.appendIndexStore(spark, dir, delta, "doc_id", "text")
    // append-only: every pre-append postings file survives untouched
    baseFiles.foreach { case (p, mtime) =>
      val f = new java.io.File(p)
      assert(f.exists && f.lastModified == mtime, s"rewritten: $p")
    }
    Bm25.writeIndex(Bm25.buildIndex(docs, "doc_id", "text"), ref, termBuckets = 4)
    val appended = Bm25.readIndex(spark, dir)
    val rebuilt = Bm25.readIndex(spark, ref)
    // idf EXACT (df integers + identical double recompute), stats EXACT
    def idfKey(ix: Bm25.Index) = ix.idf.select("term", "df", "idf")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(idfKey(appended) == idfKey(rebuilt))
    assert(appended.avgdl == rebuilt.avgdl) // bit-exact, not approx
    assert(appended.stats.select("n", "sum_dl").head() ==
      rebuilt.stats.select("n", "sum_dl").head())
    // scores identical through the distributed pruned path
    val q = "quick fox"
    def key(ix: Bm25.Index) = Bm25.scoreWithIndex(ix, spark, q, inProcessLimit = 0)
      .collect().map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1e9))).toSet
    assert(key(appended) == key(rebuilt))
    // the appended store keeps its bucket pruning contract
    assert(appended.termBuckets.contains(4))
    // the stats rewrite changed the fingerprint: no stale in-proc memo
    assert(appended.cacheKey != preKey)
  }

  test("two appends in one session stay fresh on a filesystem with no java.io view") {
    val docs = corpus.toDF("doc_id", "text")
    val dir = graft.NoJavaIoFileSystem.tempDir(spark, "graft_bm25_noio")
    val ref = java.nio.file.Files.createTempDirectory("graft_bm25_noioref").toString
    Bm25.writeIndex(Bm25.buildIndex(docs.filter(col("doc_id") <= 2), "doc_id", "text"),
      dir, termBuckets = 4)
    assert(PathFingerprint(s"$dir/stats") == 0L)
    // a serving reader memoizes the store's plans first, as a session does
    assert(Bm25.readIndex(spark, dir).nDocs == 2L)
    // ... and its in-process term arrays, under `stored:<dir>@0|lim=…`
    val q = "quick fox"
    def scores(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(Bm25.scoreWithIndex(Bm25.readIndex(spark, dir), spark, q))
      .keySet == Set(1L, 2L))
    Bm25.appendIndexStore(spark, dir, docs.filter(col("doc_id") === 3), "doc_id", "text")
    Bm25.appendIndexStore(spark, dir, docs.filter(col("doc_id") > 3), "doc_id", "text")
    Bm25.writeIndex(Bm25.buildIndex(docs, "doc_id", "text"), ref, termBuckets = 4)
    val appended = Bm25.readIndex(spark, dir)
    val rebuilt = Bm25.readIndex(spark, ref)
    assert(appended.stats.select("n", "n_len", "sum_dl").head() ==
      rebuilt.stats.select("n", "n_len", "sum_dl").head())
    assert(appended.avgdl == rebuilt.avgdl)
    def idfKey(ix: Bm25.Index) = ix.idf.select("term", "df", "idf")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(idfKey(appended) == idfKey(rebuilt))
    assert(appended.lengths.count() == 5L)
    // the in-process rung serves the appended store, not the snapshot it
    // memoized before the appends under the same fingerprint-0 key
    val served = scores(Bm25.scoreWithIndex(appended, spark, q))
    val reference = scores(Bm25.scoreWithIndex(rebuilt, spark, q, inProcessLimit = 0))
    assert(served.keySet == reference.keySet)
    reference.foreach { case (id, s) => assert(math.abs(served(id) - s) < 1e-9, s"doc $id") }
  }

  test("appendIndexStore == rebuild when docs tokenize to NOTHING on either side") {
    // n counts all docs (idf's N) while avgdl averages token-bearing rows
    // only — an empty-tokenizing doc must shift them exactly as a rebuild
    val docs = (corpus ++ Seq((100L, "!!! ..."), (101L, "... ---")))
      .toDF("doc_id", "text")
    val base = docs.filter(col("doc_id") <= 100) // incl. one empty doc
    val delta = docs.filter(col("doc_id") > 100) // the other empty doc
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_emp").toString
    val ref = java.nio.file.Files.createTempDirectory("graft_bm25_empref").toString
    Bm25.writeIndex(Bm25.buildIndex(base, "doc_id", "text"), dir, termBuckets = 4)
    Bm25.appendIndexStore(spark, dir, delta, "doc_id", "text")
    Bm25.writeIndex(Bm25.buildIndex(docs, "doc_id", "text"), ref, termBuckets = 4)
    val appended = Bm25.readIndex(spark, dir)
    val rebuilt = Bm25.readIndex(spark, ref)
    assert(appended.avgdl == rebuilt.avgdl)
    assert(appended.stats.select("n", "n_len", "sum_dl").head() ==
      rebuilt.stats.select("n", "n_len", "sum_dl").head())
    def idfKey(ix: Bm25.Index) = ix.idf.select("term", "df", "idf")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(idfKey(appended) == idfKey(rebuilt))
  }

  test("appendIndexStore refuses overlapping doc ids (retry safety)") {
    val docs = corpus.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_ovl").toString
    Bm25.writeIndex(Bm25.buildIndex(docs, "doc_id", "text"), dir, termBuckets = 4)
    val e = intercept[IllegalArgumentException](
      Bm25.appendIndexStore(spark, dir,
        docs.filter(col("doc_id") === 1), "doc_id", "text"))
    assert(e.getMessage.contains("already in the store"))
  }

  test("appendIndexStore accepts a legacy store whose stats lack sum_dl") {
    val docs = corpus.toDF("doc_id", "text")
    val base = docs.filter(col("doc_id") <= 2)
    val delta = docs.filter(col("doc_id") > 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_leg").toString
    Bm25.writeIndex(Bm25.buildIndex(base, "doc_id", "text"), dir, termBuckets = 4)
    // strip sum_dl: rewrite the stats sidecar the way a pre-r15 store
    // looks — append must fall back to the slim lengths scan
    val legacy = spark.read.parquet(s"$dir/stats").drop("sum_dl")
      .localCheckpoint(true)
    legacy.coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
    Bm25.appendIndexStore(spark, dir, delta, "doc_id", "text")
    val appended = Bm25.readIndex(spark, dir)
    val rebuilt = Bm25.buildIndex(docs, "doc_id", "text")
    assert(appended.avgdl == rebuilt.stats.select("avgdl").head().getDouble(0))
    assert(appended.stats.select("n").head().getLong(0) == docs.count())
    // and the upgraded stats now carry sum_dl for the NEXT append
    assert(appended.stats.columns.contains("sum_dl"))
  }

  test("topKBatchInProcess == the distributed rounded-rank window, ties included") {
    // docs 6/7 are identical → identical scores for any query: the k
    // boundary must cut by doc_id exactly like row_number does
    val docs = (corpus ++ Seq(
      (6L, "quick brown fox quick dog"), (7L, "quick brown fox quick dog")))
      .toDF("doc_id", "text")
    val keyed = Bm25.cachedIndex("spec|tkbip", docs, "doc_id", "text")
    val queries = Seq((1L, "quick fox"), (2L, "lorem spark catalyst"), (3L, ""))
    for (k <- Seq(1, 2, 3, 10)) {
      val inProc = Bm25.topKBatchInProcess(keyed, spark, queries, k)
      assert(inProc.isDefined, "keyed index under the guard must serve in process")
      assert(inProc.get.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      val qDf = queries.toDF("query_id", "qtext")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))
      val dist = Bm25.scoreBatch(keyed, qDf, "query_id", "qtext")
        .select(col("query_id"), col("doc_id"), round(col("score"), 4).as("score"))
        .withColumn("_rk", row_number().over(w)).filter(col("_rk") <= k).drop("_rk")
      def key(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(key(inProc.get) == key(dist), s"k=$k")
    }
    // guards: an unkeyed index and an over-limit batch both decline
    val unkeyed = Bm25.buildIndex(docs, "doc_id", "text")
    assert(Bm25.topKBatchInProcess(unkeyed, spark, queries, 5).isEmpty)
    assert(Bm25.topKBatchInProcess(keyed, spark, queries, 5, maxQueries = 2).isEmpty)
    // duplicated query_ids MERGE in the distributed groupBy (qtf sums
    // across rows) — the rung must decline rather than score independently
    assert(Bm25.topKBatchInProcess(keyed, spark,
      Seq((1L, "quick fox"), (1L, "quick fox")), 5).isEmpty)
    // the rung preserves the index's native doc_id type (here: int)
    val intDocs = docs.select(col("doc_id").cast("int").as("doc_id"), col("text"))
    val intKeyed = Bm25.cachedIndex("spec|tkbip-int", intDocs, "doc_id", "text")
    val intServed = Bm25.topKBatchInProcess(intKeyed, spark, queries, 5)
    assert(intServed.isDefined && intServed.get.schema("doc_id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // empty batch: empty result with the contract columns, still zero jobs
    val empty = Bm25.topKBatchInProcess(keyed, spark, Seq.empty, 5)
    assert(empty.isDefined && empty.get.columns.toSeq ==
      Seq("query_id", "doc_id", "score") && empty.get.count() == 0)
  }

  test("scoreBatch with knownTerms prunes the stored scan and matches the unpruned batch") {
    val docs = corpus.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_bkb").toString
    Bm25.writeIndex(Bm25.buildIndex(docs, "doc_id", "text"), dir, termBuckets = 4)
    val stored = Bm25.readIndex(spark, dir)
    val queries = Seq((1L, "quick fox"), (2L, "lorem spark")).toDF("query_id", "qtext")
    val terms = Seq("quick", "fox", "lorem", "spark")
    val pruned = Bm25.scoreBatch(stored, queries, "query_id", "qtext",
      knownTerms = Some(terms))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(1500))
    assert(plan.split("PartitionFilters").exists(s =>
      s.take(400).contains("term_bucket")), plan.take(1500))
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), math.rint(r.getDouble(2) * 1e9)))
      .toSet
    assert(key(pruned) ==
      key(Bm25.scoreBatch(stored, queries, "query_id", "qtext")))
  }
}
