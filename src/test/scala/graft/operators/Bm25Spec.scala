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
    // a keyless index takes the DISTRIBUTED pruned scan whose plan shape
    // this test asserts (the keyed in-process path is checked below)
    val got = Bm25.scoreWithIndex(stored.keyless, spark, q)
    val plan = got.queryExecution.executedPlan.toString
    // the postings scan must push the query terms' bucket filter to
    // parquet: the bucket-sorted segment files prune on its statistics
    assert(plan.split("PushedFilters").exists(s =>
      s.take(400).contains("In(term_bucket")), plan.take(2000))
    // r16: AND the literal term IN (…) DATA filter pushed to parquet —
    // with the term-sorted bucket layout this is what page/row-group
    // statistics prune on inside a touched bucket
    assert(plan.split("PushedFilters").exists(s =>
      s.take(400).contains("In(term,")), plan.take(2000))
    val gotMap = got.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val memMap = Bm25.scoreWithIndex(mem, spark, q)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gotMap.keySet == memMap.keySet)
    gotMap.foreach { case (id, s) => assert(math.abs(s - memMap(id)) < 1e-9) }
    // the stored index is KEYED, so it serves IN PROCESS:
    // same docs, same scores (to the rounded contract), LocalRelation plan
    val inProc = Bm25.scoreWithIndex(stored, spark, q)
    assert(inProc.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      inProc.queryExecution.optimizedPlan.toString.take(500))
    val ipMap = inProc.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ipMap.keySet == gotMap.keySet)
    ipMap.foreach { case (id, s) => assert(math.abs(s - gotMap(id)) < 1e-9) }
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
    def key(ix: Bm25.Index) = Bm25.scoreWithIndex(ix.keyless, spark, q)
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
    val baseFiles = new java.io.File(s"$dir/v1/postings").listFiles()
      .map(f => f.getPath -> f.lastModified).toMap
    assert(baseFiles.nonEmpty)
    val preKey = Bm25.readIndex(spark, dir).cacheKey
    Bm25.appendIndexStore(spark, dir, delta, "doc_id", "text")
    // append-only: every pre-append segment file survives untouched
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
    def key(ix: Bm25.Index) = Bm25.scoreWithIndex(ix.keyless, spark, q)
      .collect().map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1e9))).toSet
    assert(key(appended) == key(rebuilt))
    // the appended store keeps its bucket pruning contract
    assert(appended.termBuckets.contains(4))
    // the append is a new version under a new key: no stale in-proc memo
    assert(appended.cacheKey != preKey)
  }

  private def scores(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("two appends in one session stay fresh on a filesystem with no java.io view") {
    val docs = corpus.toDF("doc_id", "text")
    val dir = graft.NoJavaIoFileSystem.tempDir(spark, "graft_bm25_noio")
    val ref = java.nio.file.Files.createTempDirectory("graft_bm25_noioref").toString
    Bm25.writeIndex(Bm25.buildIndex(docs.filter(col("doc_id") <= 2), "doc_id", "text"),
      dir, termBuckets = 4)
    assert(!graft.NoJavaIoFileSystem.javaIoSees(s"$dir/v1/stats"))
    // a serving reader memoizes the store's plans first, as a session does
    assert(Bm25.readIndex(spark, dir).nDocs == 2L)
    // ... and its in-process term arrays, under its version's key
    val q = "quick fox"
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
    // memoized before the appends
    val served = scores(Bm25.scoreWithIndex(appended, spark, q))
    val reference = scores(Bm25.scoreWithIndex(rebuilt.keyless, spark, q))
    assert(served.keySet == reference.keySet)
    reference.foreach { case (id, s) => assert(math.abs(served(id) - s) < 1e-9, s"doc $id") }
  }

  test("writeIndex over a served store stays fresh on a filesystem with no java.io view") {
    val docs = corpus.toDF("doc_id", "text")
    val dir = graft.NoJavaIoFileSystem.tempDir(spark, "graft_bm25_noiow")
    val ref = java.nio.file.Files.createTempDirectory("graft_bm25_noiowref").toString
    Bm25.writeIndex(Bm25.buildIndex(docs.filter(col("doc_id") <= 2), "doc_id", "text"),
      dir, termBuckets = 4)
    // a serving reader memoizes the store's plans and in-process arrays
    val q = "quick fox"
    assert(Bm25.readIndex(spark, dir).nDocs == 2L)
    assert(scores(Bm25.scoreWithIndex(Bm25.readIndex(spark, dir), spark, q))
      .keySet == Set(1L, 2L))
    // the `bm25` verb's rebuild over the same dir: a new version
    Bm25.writeIndex(Bm25.buildIndex(docs, "doc_id", "text"), dir, termBuckets = 4)
    Bm25.writeIndex(Bm25.buildIndex(docs, "doc_id", "text"), ref, termBuckets = 4)
    val rewritten = Bm25.readIndex(spark, dir)
    assert(rewritten.nDocs == 5L)
    val served = scores(Bm25.scoreWithIndex(rewritten, spark, q))
    val reference = scores(Bm25.scoreWithIndex(Bm25.readIndex(spark, ref).keyless, spark, q))
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
    assert(e.getMessage.contains("1 batch doc ids already in the store"), e.getMessage)
    // refused before any write: no new version and no new directory
    assert(Bm25.Version.latest(spark, dir).map(_.number).contains(1L))
    assert(!new java.io.File(s"$dir/v2").exists())
  }

  test("a store written before manifests is refused with the rebuild instruction") {
    val docs = corpus.toDF("doc_id", "text")
    val base = Bm25.buildIndex(docs.filter(col("doc_id") <= 2), "doc_id", "text")
    val delta = docs.filter(col("doc_id") > 2)
    for (local <- Seq(true, false); pointer <- Seq(false, true)) {
      val root =
        if (local) java.nio.file.Files.createTempDirectory("graft_bm25_pre").toString
        else graft.NoJavaIoFileSystem.tempDir(spark, "graft_bm25_pre_noio")
      Bm25Spec.writePreManifest(base, root, pointer)
      val what = s"local=$local pointer=$pointer"
      def refused(dir: String)(f: => Any): Unit = {
        val e = intercept[IllegalStateException](f)
        assert(e.getMessage == Bm25.preManifestRefusal(dir), what)
      }
      refused(root)(Bm25.readIndex(spark, root))
      if (pointer) refused(s"$root/v3")(Bm25.readIndex(spark, s"$root/v3"))
      refused(root)(Bm25.Version.currentPath(spark, root))
      refused(root)(Bm25.appendIndexStore(spark, root, delta, "doc_id", "text"))
      // refused before any write: no manifest and no new version directory
      val fs = graft.sources.KbStorage.fileSystem(spark, new org.apache.hadoop.fs.Path(root))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/_manifest")), what)
      assert(fs.listStatus(new org.apache.hadoop.fs.Path(root)).map(_.getPath.getName)
        .filter(_.matches("v\\d+")).toSet == (if (pointer) Set("v3") else Set.empty), what)
    }
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
    assert(plan.split("PushedFilters").exists(s =>
      s.take(400).contains("In(term_bucket")), plan.take(2000))
    assert(plan.split("PushedFilters").exists(s =>
      s.take(400).contains("In(term,")), plan.take(2000))
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), math.rint(r.getDouble(2) * 1e9)))
      .toSet
    assert(key(pruned) ==
      key(Bm25.scoreBatch(stored, queries, "query_id", "qtext")))
  }

  // a corpus large enough for a store to reach compaction: the base docs
  // plus one-doc batches over a spread of terms
  private def growth(n: Int): Seq[(Long, String)] = (1 to n).map(i =>
    (100L + i, (0 until 12).map(j => s"w${(i * 7 + j * 13) % 40}").mkString(" ") + " quick fox"))

  private def rowsOf(df: org.apache.spark.sql.DataFrame, cols: String*) =
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSet

  /** `got` equals `exp` value for value: postings, lengths, idf, n, avgdl. */
  private def assertSameIndex(got: Bm25.Index, exp: Bm25.Index): Unit = {
    assert(rowsOf(got.postings, "doc_id", "term", "tf", "doc_len", "term_bucket") ==
      rowsOf(exp.postings, "doc_id", "term", "tf", "doc_len", "term_bucket"))
    assert(rowsOf(got.lengths, "doc_id", "doc_len") == rowsOf(exp.lengths, "doc_id", "doc_len"))
    assert(rowsOf(got.idf, "term", "df", "idf") == rowsOf(exp.idf, "term", "df", "idf"))
    assert(got.nDocs == exp.nDocs && got.avgdl == exp.avgdl && got.termBuckets == exp.termBuckets)
  }

  /** At most two manifests remain under `dir`, and every data file left
    * belongs to a table one of them references.
    */
  private def assertRetained(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val manifests = new java.io.File(s"$dir/_manifest").list().filter(_.matches("v\\d+")).toSeq
    assert(manifests.nonEmpty && manifests.size <= 2, manifests)
    val tables = manifests.flatMap(m => Bm25.Version.at(spark, s"$dir/$m")).flatMap(v =>
      v.segments.flatMap(seg => Seq(s"$seg/postings", s"$seg/lengths")) ++
        Seq(s"v${v.number}/idf", s"v${v.number}/stats"))
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    val files = try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(root.relativize(_).toString).filterNot(_.startsWith("_manifest/")).toSeq
      finally walk.close()
    val strays = files.filterNot(f => tables.exists(t => f.startsWith(s"$t/")))
    assert(strays.isEmpty, strays)
    tables.foreach(t => assert(new java.io.File(s"$dir/$t").isDirectory, t))
  }

  test("store appends keep the store's own term-bucket count") {
    val docs = (corpus ++ growth(6)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_b8").toString
    val ref = java.nio.file.Files.createTempDirectory("graft_bm25_b8ref").toString
    Bm25.writeIndex(Bm25.buildIndex(docs.filter(col("doc_id") <= 103), "doc_id", "text"),
      dir, termBuckets = 8)
    Bm25.appendIndexStore(spark, dir, docs.filter(col("doc_id").between(104, 105)),
      "doc_id", "text")
    Bm25.appendIndexStore(spark, dir, docs.filter(col("doc_id") > 105), "doc_id", "text")
    Bm25.writeIndex(Bm25.buildIndex(docs, "doc_id", "text"), ref, termBuckets = 8)
    val appended = Bm25.readIndex(spark, dir)
    val rebuilt = Bm25.readIndex(spark, ref)
    assert(Bm25.Version.latest(spark, dir).map(_.segments.size).contains(3))
    assert(appended.termBuckets.contains(8) && rebuilt.termBuckets.contains(8))
    // every segment is bucketed mod 8, as the stats say
    assert(appended.postings.agg(max("term_bucket")).head().getInt(0) < 8)
    assertSameIndex(appended, rebuilt)
    // the distributed bucket-pruned scan finds every posting a rebuild does
    for (q <- Seq("quick fox", "w1 w5 w9 w13 w22 w31 lorem", "w3 w17 w29 dog")) {
      def key(ix: Bm25.Index) = scores(Bm25.scoreWithIndex(ix.keyless, spark, q))
        .map { case (d, sc) => (d, math.rint(sc * 1e9)) }
      assert(key(appended) == key(rebuilt), q)
    }
  }

  test("opening a writeIndex store runs no Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_open").toString
    Bm25.writeIndex(Bm25.buildIndex(corpus.toDF("doc_id", "text"), "doc_id", "text"),
      dir, termBuckets = 4)
    SessionMemo.forget(spark, dir)
    val (ix, jobs) = graft.JobCount(spark) {
      val ix = Bm25.readIndex(spark, dir)
      (ix.avgdl, ix.nDocs, ix.termBuckets)
      ix
    }
    assert(jobs == 0, s"opening the store ran $jobs jobs")
    assert(ix.termBuckets.contains(4) && ix.nDocs == corpus.size.toLong)
  }

  test("a keyless copy reuses the stats snapshot: its avgdl runs no job") {
    val ix = Bm25.buildIndex(corpus.toDF("doc_id", "text"), "doc_id", "text")
      .copy(cacheKey = Some("spec|keyless-stats"))
    val (avgdl, snapshotJobs) = graft.JobCount(spark)(ix.avgdl)
    assert(snapshotJobs > 0, "a built index's stats are a Spark aggregation")
    val (keyless, jobs) = graft.JobCount(spark) {
      val k = ix.keyless
      (k.cacheKey, k.avgdl, k.nDocs)
    }
    assert(jobs == 0, s"the keyless copy ran $jobs jobs")
    assert(keyless == ((None, avgdl, corpus.size.toLong)))
  }

  test("retention: rewrites and appends on one root keep two manifests and only their files") {
    val all = corpus ++ growth(3)
    val docs = all.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_gc").toString
    val ref = java.nio.file.Files.createTempDirectory("graft_bm25_gcref").toString
    // three rewrites of the store, the last one over the base corpus
    for (upTo <- Seq(2L, 4L, 5L))
      Bm25.writeIndex(Bm25.buildIndex(docs.filter(col("doc_id") <= upTo), "doc_id", "text"),
        dir, termBuckets = 4)
    assertRetained(dir)
    // then three appends, one growth doc each
    (101L to 103L).foreach(id =>
      Bm25.appendIndexStore(spark, dir, docs.filter(col("doc_id") === id), "doc_id", "text"))
    assertRetained(dir)
    val latest = Bm25.Version.latest(spark, dir).get
    assert(latest.number == 6L && latest.segments == Seq("v3", "v4", "v5", "v6"))
    Bm25.writeIndex(Bm25.buildIndex(docs, "doc_id", "text"), ref, termBuckets = 4)
    assertSameIndex(Bm25.readIndex(spark, dir), Bm25.readIndex(spark, ref))
  }

  /** The manifest of version 2 of a store of `corpus` — docs 1-2 written by
    * `writeIndex` with 4 term buckets, docs 3-5 appended — byte for byte.
    */
  private val ManifestV2 = Seq(
    "version 2",
    "totals 5 28 5 4",
    """postings_schema {"type":"struct","fields":[""" +
      """{"name":"doc_id","type":"long","nullable":true,"metadata":{}},""" +
      """{"name":"term","type":"string","nullable":true,"metadata":{}},""" +
      """{"name":"tf","type":"long","nullable":true,"metadata":{}},""" +
      """{"name":"doc_len","type":"long","nullable":true,"metadata":{}},""" +
      """{"name":"term_bucket","type":"integer","nullable":true,"metadata":{}}]}""",
    """lengths_schema {"type":"struct","fields":[""" +
      """{"name":"doc_id","type":"long","nullable":true,"metadata":{}},""" +
      """{"name":"doc_len","type":"long","nullable":true,"metadata":{}}]}""",
    "segment v1",
    "segment v2",
    "end").mkString("", "\n", "\n")

  test("the manifest format is pinned: a fixed version renders, and a commit writes, the pinned text") {
    val ddl = org.apache.spark.sql.types.StructType.fromDDL _
    val fixed = Bm25.Version(graft.store.Versioned.Manifest("/any/root", 2L,
      Bm25.Version.fields(Bm25.Totals(5L, 28L, 5L, 4),
        ddl("doc_id BIGINT, term STRING, tf BIGINT, doc_len BIGINT, term_bucket INT"),
        ddl("doc_id BIGINT, doc_len BIGINT")), Seq("v1", "v2")))
    assert(fixed.manifest.render == ManifestV2)
    val docs = corpus.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_golden").toString
    Bm25.writeIndex(Bm25.buildIndex(docs.filter(col("doc_id") <= 2), "doc_id", "text"),
      dir, termBuckets = 4)
    Bm25.appendIndexStore(spark, dir, docs.filter(col("doc_id") > 2), "doc_id", "text")
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_manifest/v2")), "UTF-8") == ManifestV2)
  }

  test("a store whose manifest is the pinned text reads as the index it names") {
    val docs = corpus.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_pinned").toString
    val ref = java.nio.file.Files.createTempDirectory("graft_bm25_pinnedref").toString
    val all = Bm25.buildIndex(docs, "doc_id", "text")
    // v1: the segment of docs 1-2; v2: the segment of docs 3-5 with the
    // whole corpus's idf and stats — the tables the pinned manifest names
    Bm25.writeIndex(Bm25.buildIndex(docs.filter(col("doc_id") <= 2), "doc_id", "text"),
      dir, termBuckets = 4)
    Bm25.writeIndex(Bm25.buildIndex(docs.filter(col("doc_id") > 2), "doc_id", "text")
      .copy(idf = all.idf, stats = all.stats), dir, termBuckets = 4)
    val manifest = new org.apache.hadoop.fs.Path(s"$dir/_manifest/v2")
    val out = graft.sources.KbStorage.fileSystem(spark, manifest).create(manifest, true)
    try out.write(ManifestV2.getBytes("UTF-8")) finally out.close()
    Bm25.writeIndex(all, ref, termBuckets = 4)
    assertSameIndex(Bm25.readIndex(spark, dir), Bm25.readIndex(spark, ref))
  }

  test("ten commits on one root, compaction included, equal a rebuild and keep two manifests") {
    val extra = growth(10)
    val docs = (corpus ++ extra).toDF("doc_id", "text")
    for (buckets <- Seq(4, 8)) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_bm25_n$buckets").toString
      val ref = java.nio.file.Files.createTempDirectory(s"graft_bm25_nref$buckets").toString
      Bm25.writeIndex(Bm25.buildIndex(corpus.toDF("doc_id", "text"), "doc_id", "text"),
        dir, termBuckets = buckets)
      val sizes = extra.map { case (id, _) =>
        Bm25.appendIndexStore(spark, dir, docs.filter(col("doc_id") === id), "doc_id", "text")
        assertRetained(dir)
        Bm25.Version.latest(spark, dir).get.segments.size
      }
      // the commit that would list a ninth segment merges the store
      assert(sizes == (2 to Bm25.MaxSegments) ++ Seq(1, 2, 3), sizes)
      Bm25.writeIndex(Bm25.buildIndex(docs, "doc_id", "text"), ref, termBuckets = buckets)
      assertSameIndex(Bm25.readIndex(spark, dir), Bm25.readIndex(spark, ref))
    }
  }
}

object Bm25Spec {
  /** Writes `ix` in a layout used before manifests, through the Hadoop
    * FileSystem API: its four tables directly under `root`, or (`pointer`)
    * a full store under `root/v3` plus the `CURRENT` file that named it.
    */
  def writePreManifest(ix: Bm25.Index, root: String, pointer: Boolean): Unit = {
    val dir = if (pointer) s"$root/v3" else root
    Seq("postings" -> ix.postings, "lengths" -> ix.lengths, "idf" -> ix.idf,
        "stats" -> ix.stats)
      .foreach { case (t, df) => df.write.mode("overwrite").parquet(s"$dir/$t") }
    if (pointer) {
      val p = new org.apache.hadoop.fs.Path(s"$root/CURRENT")
      val out = graft.sources.KbStorage.fileSystem(ix.postings.sparkSession, p).create(p, true)
      try out.write("v3".getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
    }
  }
}
