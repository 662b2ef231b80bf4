package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-evidence harness (not part of the library surface): replicates
  * the sf0.1 tables K× with shifted ids / suffixed sources (more shards —
  * the way real corpora grow) and times each operator family at 1× and K×.
  * The claim under test: every pipeline is linear in corpus size with no
  * quadratic pair blowup and no driver bottleneck. Results recorded in
  * PLANS.md round-3.
  */
object Scale {

  /** Deterministic Zipf-vocabulary corpus (verdict r17 #1): the word-soup
    * testdata has ~31 distinct tokens, so every retrieval-scale receipt
    * ran in a geometry where every doc matches every query — this
    * generator produces text with a realistic ~50k-term Zipf(1.07)
    * unigram distribution (Zipf 1949; exponent ~1.05-1.1 measured on web
    * corpora) so candidate pruning, page pruning, and batch-tier policies
    * can be measured where selectivity actually exists. Doc lengths are
    * caller-supplied (the sf0.1 empirical token-count multiset, cycled),
    * and every doc's text is a pure function of its id (seeded
    * splitmix-style scramble per doc) — same (n, lengths, vocab,
    * exponent) in, bit-identical corpus out, no stored fixture needed.
    * Token draw = binary search of a broadcast vocab-sized CDF: generation
    * is one narrow mapPartitions, linear and shuffle-free at any scale.
    */
  private[graft] def zipfCorpus(spark: SparkSession, nDocs: Long,
                                lengths: Array[Int], vocab: Int = 50000,
                                exponent: Double = 1.07): DataFrame = {
    require(lengths.nonEmpty && vocab > 0)
    val w = Array.tabulate(vocab)(r => 1.0 / math.pow(r + 1.0, exponent))
    val total = w.sum
    val cum = new Array[Double](vocab)
    var acc = 0.0
    var i = 0
    while (i < vocab) { acc += w(i) / total; cum(i) = acc; i += 1 }
    val bCum = spark.sparkContext.broadcast(cum)
    val bLen = spark.sparkContext.broadcast(lengths)
    import spark.implicits._
    spark.range(nDocs).as[Long].mapPartitions { it =>
      val c = bCum.value
      val ls = bLen.value
      it.map { id =>
        // splitmix64 finalizer scrambles the linear doc ids into
        // well-spread RNG seeds (adjacent ids share no draw structure)
        var z = id + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        val rnd = new java.util.Random(z ^ (z >>> 31))
        val len = ls((id % ls.length).toInt)
        val sb = new java.lang.StringBuilder(len * 7)
        var j = 0
        while (j < len) {
          var k = java.util.Arrays.binarySearch(c, rnd.nextDouble())
          if (k < 0) k = -k - 1
          if (k >= c.length) k = c.length - 1
          if (j > 0) sb.append(' ')
          sb.append('w').append(k + 1)
          j += 1
        }
        (id, sb.toString)
      }
    }.toDF("doc_id", "text")
      .withColumn("source", concat(lit("zipf_"), pmod(col("doc_id"), lit(32))))
      .withColumn("n_chars", length(col("text")))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // host-speed canary (verdict r17 #2) — leads every scale receipt so
    // cross-day rows are comparable as time/canary ratios
    HostCanary.receiptLine("scale")
    val base = "/tmp/graft_scale"
    val kDocs = 20
    val kEmb = 50
    val spark = Sessions.local()

    // optional row filter (regex over labels) so one family can be measured
    // without paying for the whole suite. Caveat: build rows assign state
    // their serve rows read — a filter matching a serve row must match its
    // build row too (e.g. use "e2e-" not "e2e-serve")
    val rowFilter = sys.env.get("SPARK_GRAFT_SCALE_FILTER").map(_.r)
    def secs(label: String)(f: => Any): Unit = {
      if (rowFilter.forall(_.findFirstIn(label).isDefined)) {
        val t0 = System.nanoTime()
        val r = f
        println(f"[scale] $label%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s   ($r)")
      }
    }

    // ── build the scaled tables once ────────────────────────────────────
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    (0 until kDocs).map(i => docs.select(
        (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"), col("text"),
        concat(col("source"), lit(s"_$i")).as("source"), col("n_chars")))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$base/documents.parquet")
    (0 until kEmb).map(i => emb.select(
        (col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"), col("embedding")))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$base/embeddings.parquet")
    val bigDocs = spark.read.parquet(s"$base/documents.parquet")
    val bigEmb = spark.read.parquet(s"$base/embeddings.parquet")
    println(s"[scale] docs ${docs.count()} -> ${bigDocs.count()}, emb ${emb.count()} -> ${bigEmb.count()}")
    spark.range(1000000).selectExpr("sum(id)").collect() // warmup

    def queries50(e: DataFrame) = e.limit(50)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))

    def lshPipeline(d: DataFrame): Long = {
      val sigs = operators.Dedup.minhashSignatures(d, "doc_id", "text")
      val cand = operators.Dedup.lshCandidates(
        operators.Dedup.lshBuckets(sigs, bands = 4, rowsPerBand = 4))
      operators.Dedup.jaccardPairs(d, "doc_id", "text", cand)
        .filter(col("jaccard") >= 0.5).count()
    }
    def ngram(d: DataFrame): Long =
      operators.Dedup.charNgramJaccard(d, "doc_id", "text",
        blockCol = "source", n = 3, threshold = 0.5, maxDf = 20).count()
    def components(d: DataFrame): Long =
      operators.Dedup.connectedComponents(
        operators.Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 3)).count()
    def bm25batch(d: DataFrame): Long = {
      val ix = operators.Bm25.buildIndex(d, "doc_id", "text", persist = true)
      try {
        val qt = d.limit(50).select(col("doc_id").as("query_id"),
          col("text").as("qtext"))
        operators.Bm25.scoreBatch(ix, qt, "query_id", "qtext").count()
      } finally { ix.postings.unpersist(); ix.lengths.unpersist(); ix.idf.unpersist() }
    }
    def knn50(e: DataFrame): Long =
      operators.VectorSearch.bruteTopKBatchAgg(e, "vec_id", "embedding",
        queries50(e), "query_id", "qvec", 20).count()
    def knn50InProc(e: DataFrame, key: String): Long =
      operators.VectorSearch.bruteTopKBatchAgg(e, "vec_id", "embedding",
        queries50(e), "query_id", "qvec", 20,
        cacheKey = Some(key)).count()
    def pq(e: DataFrame): Long = {
      val seeds = e.limit(16).select("vec_id").collect().map(_.getLong(0)).toSeq
      val cb = operators.VectorSearch.seededPqCodebook(e, "vec_id", "embedding", seeds, m = 8)
      val q = e.limit(1).select("embedding").first().getSeq[Float](0)
      operators.VectorSearch.pqAdcTopK(
        operators.VectorSearch.pqEncode(e, "vec_id", "embedding", cb),
        "vec_id", "codes", cb, q, 20).count()
    }

    // round-8 operators: SymSpell vocab join, int8 quantized scan, IVF batch
    def spell(d: DataFrame): Long = {
      val vocab = query.Spelling.vocabulary(d, "text")
      val qs = d.limit(50).select(col("doc_id").as("qid"),
        concat(substring(col("text"), 1, 60), lit(" spakr qurey")).as("text"))
      query.Spelling.correctQueries(qs, "qid", "text", vocab).count()
    }
    def i8knn(e: DataFrame): Long = {
      val quant = e.select(col("vec_id"),
        functions.VectorFunctions.quantizeI8(col("embedding")).as("q"))
      val qv = quant.filter(col("vec_id") === 0).select("q").first().getSeq[Byte](0)
      quant.select(col("vec_id"),
          functions.VectorFunctions.cosineI8(col("q"),
            array(qv.map(b => lit(b)): _*)).as("s"))
        .orderBy(col("s").desc, col("vec_id")).limit(20).count()
    }
    def ivfBatch(e: DataFrame): Long = {
      import spark.implicits._
      val cents = e.filter(col("vec_id") < 8).select(col("vec_id"), col("embedding"))
        .collect().map(r => (r.getLong(0).toInt, r.getSeq[Float](1))).toSeq
      val assigned = operators.VectorSearch.seededIvfAssign(e, "vec_id", "embedding", cents)
      val centDf = cents.toDF("cid", "cv")
      operators.VectorSearch.ivfTopKBatch(assigned, "vec_id", "embedding",
        centDf, queries50(e), "query_id", "qvec", k = 20, nprobe = 2).count()
    }

    secs(s"lsh-dedup 1x")(lshPipeline(docs))
    secs(s"lsh-dedup ${kDocs}x")(lshPipeline(bigDocs))
    // the representative-collapse form: LSH over distinct token sequences
    // only, pairs expanded to members afterward (output-identical,
    // spec-pinned) — the dup-saturation-robust path
    def lshDeduped(d: DataFrame): Long =
      operators.Dedup.minhashPairsDeduped(d, "doc_id", "text",
        threshold = 0.5).count()
    secs(s"lsh-dedup-deduped 1x")(lshDeduped(docs))
    secs(s"lsh-dedup-deduped ${kDocs}x")(lshDeduped(bigDocs))
    secs(s"ngram-jaccard 1x")(ngram(docs))
    secs(s"ngram-jaccard ${kDocs}x")(ngram(bigDocs))
    secs(s"simhash-components 1x")(components(docs))
    secs(s"simhash-components ${kDocs}x")(components(bigDocs))

    // ── r11: bloom-prefiltered incremental exact dedup ──────────────────
    // FIXED ingest batch against a GROWING lake — the production regime.
    // The bloom row's lake scan drops non-matches map-side (no lake rows
    // shuffle); the plain row is the same left join without the prefilter
    // (both sides shuffle on fp). Identical results by construction.
    def bloomIncr(lake: DataFrame, batch: DataFrame, n: Long): Long =
      operators.Dedup.incrementalBloom(lake, batch, "doc_id", "text",
        knownBatchRows = Some(n)).count()
    def plainIncr(lake: DataFrame, batch: DataFrame): Long = {
      val bfp = batch.select(col("doc_id").as("batch_id"),
        functions.TextFunctions.fingerprint(col("text")).as("fp"))
      val lfp = lake.select(col("doc_id").as("keep_cand"),
        functions.TextFunctions.fingerprint(col("text")).as("fp"))
      bfp.join(lfp, Seq("fp"), "left").groupBy("batch_id")
        .agg(min("keep_cand").as("keep_id")).count()
    }
    val bloomBatch = docs.select((col("doc_id") + lit(1900000000L)).as("doc_id"),
      col("text"))
    val nBloomBatch = docs.count() // sfDir is an argument — never hardcode
    secs(s"bloom-incr-dedup 1x")(bloomIncr(docs, bloomBatch, nBloomBatch))
    secs(s"bloom-incr-dedup ${kDocs}x")(bloomIncr(bigDocs, bloomBatch, nBloomBatch))
    secs(s"plain-incr-dedup 1x")(plainIncr(docs, bloomBatch))
    secs(s"plain-incr-dedup ${kDocs}x")(plainIncr(bigDocs, bloomBatch))

    // ── r11: semantic dedup (SemDeDup) ──────────────────────────────────
    // Cluster count scales WITH the corpus (the paper's own design point:
    // k chosen so n/k stays small), so the per-cluster quadratic term is
    // bounded at every scale.
    def semantic(e: DataFrame, nCents: Int): Long = {
      val cents = e.filter(col("vec_id") < nCents)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1))).sortBy(_._1).toSeq
      operators.Dedup.semanticDups(e, "vec_id", "embedding", cents, 0.4).count()
    }
    secs(s"semantic-dedup 1x")(semantic(emb, 8))
    secs(s"semantic-dedup ${kEmb}x")(semantic(bigEmb, 400))
    secs(s"bm25-build+batch50 1x")(bm25batch(docs))
    secs(s"bm25-build+batch50 ${kDocs}x")(bm25batch(bigDocs))
    secs(s"knn-batch50 1x")(knn50(emb))
    secs(s"knn-batch50 ${kEmb}x")(knn50(bigEmb))
    // the guarded in-process flat tier (under the 200k-row broadcast
    // limit at both scales here; above it the row equals the plain one)
    secs(s"knn-batch50-inproc 1x")(knn50InProc(emb, "scale|knn1x"))
    secs(s"knn-batch50-inproc ${kEmb}x")(knn50InProc(bigEmb, s"scale|knn${kEmb}x"))
    // same keys -> memoized broadcast: the warm rows are the serve-many
    // regime the memo exists for; the cold rows above are build-dominated
    secs(s"knn-batch50-inproc-warm 1x")(knn50InProc(emb, "scale|knn1x"))
    secs(s"knn-batch50-inproc-warm ${kEmb}x")(knn50InProc(bigEmb, s"scale|knn${kEmb}x"))
    secs(s"pq-encode+adc 1x")(pq(emb))
    secs(s"pq-encode+adc ${kEmb}x")(pq(bigEmb))
    def graphAnn(e: DataFrame): Long = {
      val n = e.count()
      val planes = operators.VectorSearch.graphPlanesFor(n)
      val g = operators.VectorSearch.knnGraph(e, "vec_id", "embedding",
        k = 8, numPlanes = planes).localCheckpoint(true)
      operators.VectorSearch.graphSearch(g, e, "vec_id", "embedding",
        queries50(e), "query_id", "qvec", k = 20, beam = 48, hops = 3,
        entryIds = Seq(0L, 100L, 200L, 300L)).count()
    }

    // the flagship serving composite: 20 full query lifecycles (enhance →
    // embed → vector + BM25 → RRF → rerank) in one DAG, including the BM25
    // index build (same build+serve attribution as the bm25 row). Corpus =
    // docs and embeddings replicated at the SAME factor so every embedding
    // id resolves to a chunk row.
    def e2e20(d: DataFrame, e: DataFrame): Long = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
      val chunks = d.select(col("doc_id"), col("text"),
        col("source").as("sourcedoc"),
        (row_number().over(w) - 1).cast("int").as("sid"))
      val emb2 = e.select(col("vec_id").as("doc_id"), col("embedding"))
      val ix = operators.Bm25.buildIndex(chunks, "doc_id", "text", persist = true)
      try {
        val qs = queries.EngineQueries.E2eBatch20.zipWithIndex
          .map { case ((t, _), i) => (i + 1).toLong -> t }
        pipeline.KbPipeline.queryBatch(spark, chunks, emb2, qs,
          bm25Index = Some(ix)).count()
      } finally { ix.postings.unpersist(); ix.lengths.unpersist(); ix.idf.unpersist() }
    }
    secs(s"e2e-hybrid-batch20 1x")(e2e20(docs, emb))
    secs(s"e2e-hybrid-batch20 ${kDocs}x")(
      e2e20(bigDocs, bigEmb.filter(col("vec_id") < kDocs.toLong * 10000000L)))

    // ── r11: BM25 served from the term-bucketed AT-REST index ───────────
    // The round-10 caveat was that e2e serving growth is dominated by the
    // shared BM25 build (2.5× at 20×). Splitting the rows: store-write is
    // the one-time linear indexing cost; the SCORE stage against the
    // stored index bucket-prunes to the query terms' buckets, so its
    // growth tracks matching postings, not corpus bytes.
    def bm25StoreWrite(d: DataFrame, path: String, buckets: Int): Unit = {
      val ix = operators.Bm25.buildIndex(d, "doc_id", "text", persist = true)
      try operators.Bm25.writeIndex(ix, path, termBuckets = buckets)
      finally { ix.postings.unpersist(); ix.lengths.unpersist(); ix.idf.unpersist() }
    }
    val scaleQ = "fast query plan table scan"
    def bm25StoredProbe(path: String): operators.Bm25.Index = {
      val ix = operators.Bm25.readIndex(spark, path)
      ix.avgdl; ix.termBuckets // snapshot outside the timed score stage
      ix
    }
    secs(s"bm25-store-write 1x")(bm25StoreWrite(docs, s"$base/bm25_1x", operators.Bm25.DefaultTermBuckets))
    secs(s"bm25-store-write ${kDocs}x")(bm25StoreWrite(bigDocs, s"$base/bm25_${kDocs}x", operators.Bm25.DefaultTermBuckets))
    // lazy: a filtered run that skips the store-write rows must not load
    // (or fail on) stores it never references
    lazy val ix1 = bm25StoredProbe(s"$base/bm25_1x")
    lazy val ixK = bm25StoredProbe(s"$base/bm25_${kDocs}x")
    // keyless: these rows are the DISTRIBUTED pruned-scan scale evidence
    // (the 100 TB path); the -inproc rows measure the guarded in-process
    // serving tier the same keyed stored index takes
    secs(s"bm25-stored-score-1q 1x")(operators.Bm25.scoreWithIndex(
      ix1.keyless, spark, scaleQ).count())
    secs(s"bm25-stored-score-1q ${kDocs}x")(operators.Bm25.scoreWithIndex(
      ixK.keyless, spark, scaleQ).count())
    secs(s"bm25-stored-score-1q-inproc 1x")(
      operators.Bm25.scoreWithIndex(ix1, spark, scaleQ).count())
    secs(s"bm25-stored-score-1q-inproc ${kDocs}x")(
      operators.Bm25.scoreWithIndex(ixK, spark, scaleQ).count())

    // e2e batch20 with the SHARED build replaced by the stored bucketed
    // index: serving reads pruned postings; the linear build cost moved to
    // the one-time store-write rows above
    def e2e20Stored(d: DataFrame, e: DataFrame, ix: operators.Bm25.Index,
                    qsOverride: Option[Seq[(Long, String)]] = None): Long = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
      val chunks = d.select(col("doc_id"), col("text"),
        col("source").as("sourcedoc"),
        (row_number().over(w) - 1).cast("int").as("sid"))
      val emb2 = e.select(col("vec_id").as("doc_id"), col("embedding"))
      val qs = qsOverride.getOrElse(
        queries.EngineQueries.E2eBatch20.zipWithIndex
          .map { case ((t, _), i) => (i + 1).toLong -> t })
      pipeline.KbPipeline.queryBatch(spark, chunks, emb2, qs,
        bm25Index = Some(ix)).count()
    }
    secs(s"e2e-batch20-stored 1x")(e2e20Stored(docs, emb, ix1))
    secs(s"e2e-batch20-stored ${kDocs}x")(e2e20Stored(bigDocs,
      bigEmb.filter(col("vec_id") < kDocs.toLong * 10000000L), ixK))

    // STAGE ATTRIBUTION of the stored e2e batch (verdict r17 #4): the same
    // stages queryBatch fuses into one DAG, materialized separately so the
    // wall-clock has named owners — embed (driver-side enhance+embed),
    // vector (corpus cosine + per-query top-k), bm25 (pruned stored-index
    // batch score), then fusion+context+rerank DOWNSTREAM of the
    // checkpointed tops. Stages recompute work the fused DAG shares, so
    // the parts may exceed the fused total — this row attributes, the
    // unfused e2e rows account.
    def e2e20StoredStages(d: DataFrame, e: DataFrame,
                          ix: operators.Bm25.Index,
                          qsOverride: Option[Seq[(Long, String)]] = None): String = {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.VectorFunctions.cosine
      val byQ = Window.partitionBy("query_id")
      val cfg = graft.config.KbConfig()
      def t[A](f: => A): (Double, A) = {
        val t0 = System.nanoTime(); val r = f
        ((System.nanoTime() - t0) / 1e9, r)
      }
      val qs = qsOverride.getOrElse(
        queries.EngineQueries.E2eBatch20.zipWithIndex
          .map { case ((qt, _), i) => (i + 1).toLong -> qt })
      val (tEmb, qData) = t {
        val embd = models.ModelRegistry.embedderFor(cfg.vectorModel,
          cfg.vectorDimensions)
        val enhanced = qs.map { case (qid, q) =>
          (qid, query.Enhancement.enhanceValue(spark, q)) }
        val vecs = embd.embedBatch(enhanced.map(_._2))
        enhanced.zip(vecs).map { case ((qid, enh), v) => (qid, enh, v.toSeq) }
      }
      import spark.implicits._
      val qDf = qData.toDF("query_id", "qtext", "qvec")
      val emb2 = e.select(col("vec_id").as("doc_id"), col("embedding"))
      val (tVec, vtop) = t {
        emb2.crossJoin(broadcast(qDf.select("query_id", "qvec")))
          .select(col("query_id"), col("doc_id"),
            round(cosine(col("embedding"), col("qvec")), 6).as("score"))
          .withColumn("_rk",
            row_number().over(byQ.orderBy(col("score").desc, col("doc_id"))))
          .filter(col("_rk") <= cfg.queryTopK).drop("_rk")
          .localCheckpoint(true)
      }
      val (tK, ktop) = t {
        val batchTerms = Some(qData.flatMap { case (_, enh, _) =>
          functions.TextFunctions.tokenizeBm25Value(spark, enh) }.distinct)
        operators.Bm25.scoreBatch(ix, qDf.select("query_id", "qtext"),
            "query_id", "qtext", cfg.bm25K1, cfg.bm25B,
            knownTerms = batchTerms)
          .select(col("query_id"), col("doc_id"),
            round(col("score"), 4).as("score"))
          .withColumn("_rk",
            row_number().over(byQ.orderBy(col("score").desc, col("doc_id"))))
          .filter(col("_rk") <= math.min(cfg.queryTopK, cfg.bm25MaxResults))
          .drop("_rk")
          .localCheckpoint(true)
      }
      val w = Window.partitionBy("source").orderBy("doc_id")
      val chunks = d.select(col("doc_id"), col("text"),
        col("source").as("sourcedoc"),
        (row_number().over(w) - 1).cast("int").as("sid"))
      val (tRest, n) = t {
        val hits0 = operators.Fusion.rrfBatch(Seq(vtop, ktop))
          .withColumnRenamed("rrf_score", "score")
        val withText = hits0
          .join(chunks.select(col("doc_id"), col("text"), col("sourcedoc"),
            col("sid")), "doc_id")
          .join(broadcast(qDf.select("query_id", "qtext")), "query_id")
        val qToks = functions.TextFunctions.tokenizeBm25(col("qtext"))
        query.Rerank.rerankHeadBatch(withText, "query_id", "score",
            cfg.rerankingTopK, query.Rerank.lexicalScoreCols(qToks, col("text")))
          .filter(col("final_rank") <= cfg.queryTopK).count()
      }
      f"embed=$tEmb%.2f vector=$tVec%.2f bm25=$tK%.2f " +
        f"fuse+context+rerank=$tRest%.2f rows=$n"
    }

    // r12: the SAME stored-index batch20 with the warm in-process hit
    // pipeline engaged (corpusKey → resident vector corpus + chunk map +
    // in-proc BM25): the whole batch answers driver-side, zero jobs. The
    // 20× corpus (100k docs/vectors) still fits the 200k-row guards, so
    // this row measures warm serving AT 20×; past the guards the row
    // degrades to exactly the e2e-batch20-stored plan above.
    def e2e20Warm(d: DataFrame, e: DataFrame, ix: operators.Bm25.Index,
                  key: String): Long = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
      val chunks = d.select(col("doc_id"), col("text"),
        col("source").as("sourcedoc"),
        (row_number().over(w) - 1).cast("int").as("sid"))
      val emb2 = e.select(col("vec_id").as("doc_id"), col("embedding"))
      val qs = queries.EngineQueries.E2eBatch20.zipWithIndex
        .map { case ((t, _), i) => (i + 1).toLong -> t }
      pipeline.KbPipeline.queryBatch(spark, chunks, emb2, qs,
        bm25Index = Some(ix), corpusKey = Some(key)).count()
    }
    secs(s"e2e-batch20-warm 1x")(e2e20Warm(docs, emb, ix1, "scale-warm-1"))
    secs(s"e2e-batch20-warm 1x serve")(e2e20Warm(docs, emb, ix1, "scale-warm-1"))
    secs(s"e2e-batch20-warm ${kDocs}x")(e2e20Warm(bigDocs,
      bigEmb.filter(col("vec_id") < kDocs.toLong * 10000000L), ixK,
      s"scale-warm-$kDocs"))
    secs(s"e2e-batch20-warm ${kDocs}x serve")(e2e20Warm(bigDocs,
      bigEmb.filter(col("vec_id") < kDocs.toLong * 10000000L), ixK,
      s"scale-warm-$kDocs"))

    // round-9 curation operators: packing is one per-shard window (shards
    // multiply with the corpus — the partition count grows, not the
    // partition size), contamination holds the benchmark side FIXED while
    // the corpus grows (the production shape), PII scrub is a pure
    // column-expression scan
    def packing(d: DataFrame): Long =
      operators.Curation.packTokenBins(d, "source", "doc_id",
          functions.TextFunctions.wordCount(col("text")), 512)
        .agg(max("bin_id")).first().getLong(0)
    def contamination(d: DataFrame): Long = {
      val bench = d.filter(col("doc_id").isin(3, 57))
        .select(col("doc_id").as("bench_id"), col("text"))
      operators.Curation.contamination(d, "doc_id", "text",
        bench, "bench_id", "text", n = 3, threshold = 0.8).count()
    }
    def pii(d: DataFrame): Long = {
      val (scrubbed, _) = operators.Curation.scrubPii(col("text"))
      d.select(length(scrubbed).as("l")).agg(sum("l")).first().getLong(0)
    }
    secs(s"pack-token-bins 1x")(packing(docs))
    secs(s"pack-token-bins ${kDocs}x")(packing(bigDocs))
    secs(s"contamination-ngram 1x")(contamination(docs))
    secs(s"contamination-ngram ${kDocs}x")(contamination(bigDocs))
    secs(s"pii-scrub 1x")(pii(docs))
    secs(s"pii-scrub ${kDocs}x")(pii(bigDocs))

    // round-12 continuation: DSIR holds the TARGET side fixed while the
    // raw corpus grows (the production shape — a small quality corpus
    // scores an ever-larger crawl); shard export is one shuffle + one
    // per-shard window whose partition COUNT grows with the corpus
    def dsir(d: DataFrame, tgtSrc: String): Long =
      operators.Dsir.importanceWeights(d, "doc_id", "text",
          d.filter(col("source") === tgtSrc), "text")
        .agg(sum("logw_micro")).first().getLong(0)
    def shardExp(d: DataFrame): Long =
      operators.Sampling.shardOrder(d, "doc_id", 64)
        .agg(max("pos")).first().getLong(0)
    secs(s"dsir-weights 1x")(dsir(docs, "src0"))
    secs(s"dsir-weights ${kDocs}x")(dsir(bigDocs, "src0_0"))
    secs(s"shard-order 1x")(shardExp(docs))
    secs(s"shard-order ${kDocs}x")(shardExp(bigDocs))
    // bigram LM: two head-truncated counting passes + one broadcast-join
    // scoring pass — must stay linear with a fixed model size
    def lmBigram(d: DataFrame): Long =
      operators.LmQuality.scoreBigram(d, "doc_id", "text",
          vocabSize = 1000, bigramSize = 5000)
        .agg(sum("cost_micro")).first().getLong(0)
    secs(s"lm-bigram 1x")(lmBigram(docs))
    secs(s"lm-bigram ${kDocs}x")(lmBigram(bigDocs))

    secs(s"spell-correct50 1x")(spell(docs))
    secs(s"spell-correct50 ${kDocs}x")(spell(bigDocs))
    secs(s"i8-quantized-knn 1x")(i8knn(emb))
    secs(s"i8-quantized-knn ${kEmb}x")(i8knn(bigEmb))
    secs(s"ivf-batch50 1x")(ivfBatch(emb))
    secs(s"ivf-batch50 ${kEmb}x")(ivfBatch(bigEmb))
    // r14: the AT-REST ivf store — build+write attributed once per tag,
    // the serve row probes the cluster-partitioned files (the `ivf` verb
    // + stored-`query` path; oracle twin sim_knn_ivf_stored)
    def ivfStoreBuildServe(e: DataFrame, tag: String): Unit = {
      import graft.operators.VectorSearch
      val dir = s"$base/ivfstore_$tag"
      var rd: VectorSearch.IvfIndex = null
      secs(s"ivf-store-build $tag") {
        VectorSearch.writeIvf(
          VectorSearch.buildIvf(e, "vec_id", "embedding", nCentroids = 8), dir)
        rd = VectorSearch.readIvf(spark, dir)
        rd.centroids.length
      }
      if (rd != null) {
        val qv = e.filter(col("vec_id") === 0L)
          .select("embedding").head().getSeq[Float](0).toSeq
        secs(s"ivf-store-serve $tag")(
          operators.VectorSearch.ivfTopK(rd, qv, 20, nprobe = 2).count())
        // r15: append a FIXED 1000-vector batch to the stored index — the
        // claim is the FAISS add_with_ids economics: cost tracks the batch,
        // not the store (1× vs kEmb× rows should read ~equal)
        val batch = e.limit(1000).select(
          (col("vec_id") + lit(1900000000L)).as("vec_id"), col("embedding"))
        secs(s"ivf-store-append $tag") {
          operators.VectorSearch.appendIvfStore(spark, dir, batch)
          1000
        }
      }
    }
    ivfStoreBuildServe(emb, "1x")
    ivfStoreBuildServe(bigEmb, s"${kEmb}x")
    secs(s"graph-build+search50 1x")(graphAnn(emb))
    secs(s"graph-build+search50 ${kEmb}x")(graphAnn(bigEmb))
    // duplicate-robust graph variant: the Scale corpus is EXACT replication,
    // the regime where plain graphSearch recall collapses to ~0.08
    // (tools/recall_r10.txt) — graphSearchDeduped builds/searches over the
    // unique sub-corpus (kEmb× smaller here) and expands copies, recall
    // 0.86. The timed block includes the unique-count probe, the dedup
    // shuffles, and the fresh index build (no cacheKey) — the worst case.
    def graphDedup(e: DataFrame): Long = {
      val nUniq = e.select("embedding").distinct().count()
      operators.VectorSearch.graphSearchDeduped(e, "vec_id", "embedding",
        queries50(e), "query_id", "qvec", k = 20, kGraph = 8,
        numPlanes = operators.VectorSearch.graphPlanesFor(nUniq),
        beam = 48, hops = 3, nEntries = 4).count()
    }
    secs(s"graphdedup-build+search50 1x")(graphDedup(emb))
    secs(s"graphdedup-build+search50 ${kEmb}x")(graphDedup(bigEmb))

    // ── round-10: the incremental rung — the daily-ingest regime. The lake
    //    GROWS (1× vs K×) while the batch stays FIXED; each index's stored
    //    artifacts (LSH bucket table, IVF assignment, graph edge lists) are
    //    built once and attributed to their own build rows, so the
    //    incremental rows time ONLY what a daily run pays: batch
    //    signatures/assignments/edges + the probe against the stored index.
    //    The claim: incremental cost tracks BATCH size, not lake size. ────
    import org.apache.spark.storage.StorageLevel
    // lazy: localCheckpoint is EAGER, and a filtered run that skips every
    // incremental row should not pay for the batches it never probes
    lazy val batchDocs = docs.limit(500).select(
        (col("doc_id") + lit(1900000000L)).as("doc_id"), col("text"))
      .localCheckpoint(true) // fixed 500-doc batch, all planted dups of lake texts
    lazy val batchVecs = emb.limit(1000).select(
        (col("vec_id") + lit(1900000000L)).as("vec_id"), col("embedding"))
      .localCheckpoint(true) // fixed 1000-vector batch

    // incremental dedup: stored bucket table per lake; the timed step
    // re-shingles ONLY the batch, probes the stored buckets (guarded
    // broadcast), and Jaccard-verifies candidates only
    def storedBuckets(d: DataFrame): DataFrame =
      operators.Dedup.lshBuckets(
          operators.Dedup.minhashSignatures(d, "doc_id", "text"),
          bands = 4, rowsPerBand = 4)
        .persist(StorageLevel.MEMORY_AND_DISK)
    def incDedup(lake: DataFrame, lakeB: DataFrame,
                 batch: DataFrame = batchDocs): Long = {
      val bb = operators.Dedup.lshBuckets(
        operators.Dedup.minhashSignatures(batch, "doc_id", "text"),
        bands = 4, rowsPerBand = 4)
      // an ingest pipeline knows its batch size exactly (bucket rows =
      // docs × bands) — same contract the production callers use, so the
      // guard's bounded counting pass never runs in the timed step
      val cand = operators.Dedup.lshCandidatesAcross(lakeB, bb,
        knownBatchRows = Some(500L * 4))
      operators.Dedup.jaccardPairs(
          lake.select("doc_id", "text").unionByName(batch),
          "doc_id", "text", cand)
        .filter(col("jaccard") >= 0.5).count()
    }
    val lakeB1 = storedBuckets(docs)
    val lakeB20 = storedBuckets(bigDocs)
    secs(s"dedup-incr-index-build 1x")(lakeB1.count())
    secs(s"dedup-incr-index-build ${kDocs}x")(lakeB20.count())
    secs(s"dedup-incremental 1x")(incDedup(docs, lakeB1))
    secs(s"dedup-incremental ${kDocs}x")(incDedup(bigDocs, lakeB20))

    // incremental IVF: stored seeded assignment per lake (FAISS add()
    // semantics — centroids frozen, no retrain); append-assign row = the
    // batch's assignment alone, append+search row = the appended index
    // serving 50 queries (probed clusters only)
    def ivfLake(e: DataFrame): (operators.VectorSearch.IvfIndex, DataFrame) = {
      import spark.implicits._
      val cents = e.filter(col("vec_id") < 8).select(col("vec_id"), col("embedding"))
        .collect().map(r => (r.getLong(0).toInt, r.getSeq[Float](1))).sortBy(_._1).toSeq
      val assigned = operators.VectorSearch.seededIvfAssign(e, "vec_id", "embedding", cents)
        .persist(StorageLevel.MEMORY_AND_DISK)
      (operators.VectorSearch.IvfIndex(assigned,
        cents.map(_._2.toArray).toArray, "vec_id", "embedding"),
        cents.toDF("cid", "cv"))
    }
    def ivfAppendAssign(lakeIx: operators.VectorSearch.IvfIndex): Long =
      operators.VectorSearch.appendIvf(lakeIx, batchVecs)
        .assigned.filter(col("vec_id") >= 1900000000L).count()
    def ivfAppendSearch(lakeIx: operators.VectorSearch.IvfIndex,
                        centDf: DataFrame, e: DataFrame): Long = {
      val appended = operators.VectorSearch.appendIvf(lakeIx, batchVecs)
      operators.VectorSearch.ivfTopKBatch(appended.assigned, "vec_id", "embedding",
        centDf, queries50(e), "query_id", "qvec", k = 20, nprobe = 2).count()
    }
    lazy val (ivf1, cent1) = ivfLake(emb)
    lazy val (ivf50, cent50) = ivfLake(bigEmb)
    secs(s"ivf-lake-assign-build 1x")(ivf1.assigned.count())
    secs(s"ivf-lake-assign-build ${kEmb}x")(ivf50.assigned.count())
    secs(s"ivf-append-assign 1x")(ivfAppendAssign(ivf1))
    secs(s"ivf-append-assign ${kEmb}x")(ivfAppendAssign(ivf50))
    secs(s"ivf-append+search50 1x")(ivfAppendSearch(ivf1, cent1, emb))
    secs(s"ivf-append+search50 ${kEmb}x")(ivfAppendSearch(ivf50, cent50, bigEmb))

    // incremental graph: stored edge lists per lake (HNSW-insert batch
    // analogue — old lists untouched); append-edges row = new nodes' edges
    // only (one bucketing scan over the union, batch-bounded scoring),
    // append+search row = 50 queries over the appended graph
    def graphLake(e: DataFrame): (DataFrame, Int) = {
      val planes = operators.VectorSearch.graphPlanesFor(e.count())
      (operators.VectorSearch.knnGraph(e, "vec_id", "embedding",
        k = 8, numPlanes = planes).localCheckpoint(true), planes)
    }
    def graphAppendEdges(g: DataFrame, e: DataFrame, planes: Int): Long =
      operators.VectorSearch.appendGraph(g,
        e.select("vec_id", "embedding").unionByName(batchVecs),
        "vec_id", "embedding", batchVecs.select("vec_id"), k = 8,
        numPlanes = planes).filter(col("src") >= 1900000000L).count()
    def graphAppendSearch(g: DataFrame, e: DataFrame, planes: Int): Long = {
      val all = e.select("vec_id", "embedding").unionByName(batchVecs)
      val g2 = operators.VectorSearch.appendGraph(g, all, "vec_id", "embedding",
        batchVecs.select("vec_id"), k = 8, numPlanes = planes)
      operators.VectorSearch.graphSearch(g2, all, "vec_id", "embedding",
        queries50(batchVecs), "query_id", "qvec", k = 20, beam = 48, hops = 3,
        entryIds = Seq(0L, 100L, 200L, 300L)).count()
    }
    // localCheckpoint(true) is EAGER — build the lakes inside their timed
    // rows so the build cost is attributed, not the count
    var g1: DataFrame = null; var planes1 = 0
    var g50: DataFrame = null; var planes50 = 0
    secs(s"graph-lake-build 1x") {
      val (g, p) = graphLake(emb); g1 = g; planes1 = p; g1.count()
    }
    secs(s"graph-lake-build ${kEmb}x") {
      val (g, p) = graphLake(bigEmb); g50 = g; planes50 = p; g50.count()
    }
    def needGraphLake(g: DataFrame): DataFrame = {
      require(g != null,
        "graph-append rows need their graph-lake-build row — widen " +
          "SPARK_GRAFT_SCALE_FILTER to include 'graph-lake-build'")
      g
    }
    secs(s"graph-append-edges 1x")(graphAppendEdges(needGraphLake(g1), emb, planes1))
    secs(s"graph-append-edges ${kEmb}x")(graphAppendEdges(needGraphLake(g50), bigEmb, planes50))
    secs(s"graph-append+search50 1x")(graphAppendSearch(needGraphLake(g1), emb, planes1))
    secs(s"graph-append+search50 ${kEmb}x")(graphAppendSearch(needGraphLake(g50), bigEmb, planes50))

    // ── round-10: ANN serving tiers under the FULL e2e lifecycle — flat vs
    //    IVFPQ vs graph at 1× and 20× corpus, single query, index builds
    //    attributed to build rows. Expectation: flat grows with the corpus
    //    (full scan), IVFPQ scans only probed clusters' codes, graph only
    //    the beam frontier. ─────────────────────────────────────────────
    val bigEmbCap = bigEmb.filter(col("vec_id") < kDocs.toLong * 10000000L)
    def mkChunks(d: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
      d.select(col("doc_id"), col("text"), col("source").as("sourcedoc"),
        (row_number().over(w) - 1).cast("int").as("sid"))
        .localCheckpoint(true)
    }
    def embById(e: DataFrame): DataFrame =
      e.select(col("vec_id").as("doc_id"), col("embedding"))
    def seededPqServing(e2: DataFrame): operators.VectorSearch.Serving.IvfPq = {
      import operators.VectorSearch
      val centSeq = e2.filter(col("doc_id") < 8)
        .select(col("doc_id"), col("embedding")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1))).sortBy(_._1).toSeq
      val assigned = VectorSearch.seededIvfAssign(e2, "doc_id", "embedding", centSeq)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val cb = VectorSearch.seededPqCodebook(e2, "doc_id", "embedding",
        seedIds = 0L until 16L, m = 8)
      VectorSearch.Serving.IvfPq(
        VectorSearch.IvfIndex(assigned, centSeq.map(_._2.toArray).toArray,
          "doc_id", "embedding"), cb,
        VectorSearch.pqEncode(assigned, "doc_id", "embedding", cb)
          .persist(StorageLevel.MEMORY_AND_DISK), shortlist = 100)
    }
    def e2eServe(chunks: DataFrame, e2: DataFrame, ix: operators.Bm25.Index,
                 cfg: graft.config.KbConfig,
                 serving: operators.VectorSearch.Serving): Long =
      pipeline.KbPipeline.query(spark, chunks, e2,
        queries.EngineQueries.E2eQueryText, cfg,
        bm25Index = Some(ix), serving = serving).hits.count()

    for ((label, d, e) <- Seq(("1x", docs, emb), (s"${kDocs}x", bigDocs, bigEmbCap))
         // skip the whole iteration (incl. the EAGER mkChunks checkpoint)
         // when the filter matches none of its rows
         if rowFilter.forall(r =>
           Seq("e2e-bm25-build", "e2e-ivfpq-build", "e2e-graph-build",
             "e2e-serve-flat", "e2e-serve-ivfpq", "e2e-serve-graph")
             .exists(l => r.findFirstIn(s"$l $label").isDefined))) {
      import operators.VectorSearch
      val chunks = mkChunks(d)
      val e2 = embById(e)
      var bm: operators.Bm25.Index = null
      secs(s"e2e-bm25-build $label") {
        bm = operators.Bm25.buildIndex(chunks, "doc_id", "text", persist = true)
        bm.postings.count() + bm.idf.count()
      }
      var pqS: VectorSearch.Serving.IvfPq = null
      secs(s"e2e-ivfpq-build $label") {
        pqS = seededPqServing(e2); pqS.encoded.count()
      }
      var gS: VectorSearch.Serving.Graph = null
      secs(s"e2e-graph-build $label") {
        val g = VectorSearch.knnGraph(e2, "doc_id", "embedding", k = 8,
          numPlanes = VectorSearch.graphPlanesFor(e2.count())).localCheckpoint(true)
        gS = VectorSearch.Serving.Graph(g, beam = 64, hops = 3,
          entryIds = Seq(0L, 100L, 200L, 300L))
        g.count()
      }
      val base = graft.config.KbConfig()
      def needBuilt[T](s: T, what: String): T = {
        require(s != null,
          s"e2e-serve rows need their $what build row — widen " +
            "SPARK_GRAFT_SCALE_FILTER to 'e2e-'")
        s
      }
      secs(s"e2e-serve-flat $label")(
        e2eServe(chunks, e2, needBuilt(bm, "bm25"), base, VectorSearch.Serving.Flat))
      secs(s"e2e-serve-ivfpq $label")(
        e2eServe(chunks, e2, needBuilt(bm, "bm25"),
          base.copy(indexType = "ivfpq", ivfNprobe = 2), needBuilt(pqS, "ivfpq")))
      secs(s"e2e-serve-graph $label")(
        e2eServe(chunks, e2, needBuilt(bm, "bm25"),
          base.copy(indexType = "graph"), needBuilt(gS, "graph")))
      // drop EVERY iteration-scoped artifact, not just BM25 — the 1x
      // serving caches (persisted IvfPq assignment/codes, checkpointed
      // graph) must not occupy executor storage while the 20x rows run
      if (bm != null) { bm.postings.unpersist(); bm.lengths.unpersist(); bm.idf.unpersist() }
      if (pqS != null) { pqS.index.assigned.unpersist(); pqS.encoded.unpersist() }
      if (gS != null) gS.graph.unpersist()
    }

    // ── r11: duplicated-span dedup, temperature sampling, unigram-LM
    //    quality — all must be linear in corpus size (shingle/token-scale
    //    groupBys with partial aggregation, no pairwise term) ─────────────
    def dupSpans(d: DataFrame): Long =
      operators.Dedup.duplicatedSpans(d, "doc_id", "text", n = 8).count()
    secs(s"dup-spans 1x")(dupSpans(docs))
    secs(s"dup-spans ${kDocs}x")(dupSpans(bigDocs))
    def tempSample(d: DataFrame, t: Long): Long =
      operators.Sampling.temperatureSample(d, "source", "doc_id",
        targetRows = t, alpha = 0.5).count()
    // target grows with the corpus (a fixed target would measure an
    // ever-smaller filter, not the operator)
    secs(s"temp-sample 1x")(tempSample(docs, 200))
    secs(s"temp-sample ${kDocs}x")(tempSample(bigDocs, 200L * kDocs))
    def lmQuality(d: DataFrame): Long =
      operators.LmQuality.score(d, "doc_id", "text", vocabSize = 24).count()
    secs(s"lm-quality 1x")(lmQuality(docs))
    secs(s"lm-quality ${kDocs}x")(lmQuality(bigDocs))
    def curation(d: DataFrame): Long =
      operators.Curation.curationDecision(d, "doc_id", "text",
        vocabSize = 24).count()
    secs(s"curation-decision 1x")(curation(docs))
    secs(s"curation-decision ${kDocs}x")(curation(bigDocs))

    // ── r12: the composed pipeline with TABLE-BACKED stage boundaries —
    //    each seam is a written parquet artifact (pipeline.StageStore), the
    //    100 TB form of e2e_data_pipeline's localCheckpoint seams. Target
    //    row counts scale with the corpus (as temp-sample above) ──────────
    def pipelineStored(d: DataFrame, target: Long, tag: String): Long = {
      val store = new pipeline.StageStore(
        s"/tmp/graft_scale_stages/$tag")
      pipeline.DataPipeline.run(d, store.seam, vocabSize = 24,
        targetRows = target, sampleCol = "source").count()
    }
    secs(s"e2e-pipeline-stored 1x")(pipelineStored(docs, 2000, "p1"))
    secs(s"e2e-pipeline-stored ${kDocs}x")(
      pipelineStored(bigDocs, 2000L * kDocs, s"p$kDocs"))
    // r13: PER-STAGE attribution of the stored pipeline's growth — each
    // seam write is timed individually (stage compute + parquet write);
    // the residue is sample+pack+manifest. Names the super-linear stage
    // instead of guessing from the composite row.
    def pipelineStagedTimes(d: DataFrame, target: Long, tag: String): String = {
      val store = new pipeline.StageStore(s"/tmp/graft_scale_stages/$tag")
      val times = scala.collection.mutable.ArrayBuffer[Double]()
      val seam: DataFrame => DataFrame = df => {
        val t0 = System.nanoTime()
        val out = store.seam(df)
        times += (System.nanoTime() - t0) / 1e9
        out
      }
      val t0 = System.nanoTime()
      val n = pipeline.DataPipeline.run(d, seam, vocabSize = 24,
        targetRows = target, sampleCol = "source").count()
      val total = (System.nanoTime() - t0) / 1e9
      f"curate+write=${times(0)}%.2f dedup+write=${times(1)}%.2f " +
        f"sample+pack=${total - times.sum}%.2f total=$total%.2f rows=$n"
    }
    secs(s"e2e-pipeline-stored-stages 1x")(pipelineStagedTimes(docs, 2000, "ps1"))
    secs(s"e2e-pipeline-stored-stages ${kDocs}x")(
      pipelineStagedTimes(bigDocs, 2000L * kDocs, s"ps$kDocs"))
    // with the optional DSIR selection stage (target side fixed, n scales)
    def pipelineDsir(d: DataFrame, n: Int, tag: String): Long = {
      val store = new pipeline.StageStore(s"/tmp/graft_scale_stages/$tag")
      val target = docs.limit(20).select("doc_id", "text")
      pipeline.DataPipeline.run(d, store.seam, vocabSize = 24,
        targetRows = 2000L * kDocs, sampleCol = "source",
        dsirTarget = Some((target, n))).count()
    }
    secs(s"e2e-pipeline-dsir 1x")(pipelineDsir(docs, 2000, "pd1"))
    secs(s"e2e-pipeline-dsir ${kDocs}x")(
      pipelineDsir(bigDocs, 2000 * kDocs, s"pd$kDocs"))

    // ── r12: NB domain classifier — train on the 70% split + classify the
    //    held-out 30%, both token-level groupBys/joins (must be linear).
    //    LABELS HELD FIXED at 5 while data grows 20× (the replicated
    //    corpus's suffixed sources would otherwise grow L with the data
    //    and measure L·tokens — the classifier's true cost model, but not
    //    the data-scaling question this row asks) ─────────────────────────
    def nbClassify(d: DataFrame): Long =
      operators.QualityClassifier.trainAndClassify(
        d.withColumn("lbl", concat(lit("l"), pmod(col("doc_id"), lit(5)))),
        "doc_id", "text", "lbl").count()
    secs(s"nb-classifier 1x")(nbClassify(docs))
    secs(s"nb-classifier ${kDocs}x")(nbClassify(bigDocs))

    // ── r13: BPE tokenizer training — ONE corpus pass builds the word-freq
    //    table; the 8 merge rounds run on that vocab-sized table, so cost
    //    past the first pass is corpus-size-independent (the replicated
    //    corpus has the same vocabulary → rounds cost the same) ───────────
    def bpeTrain(d: DataFrame): Long =
      operators.Bpe.learnMerges(d, "text", numMerges = 8).count()
    secs(s"bpe-train8 1x")(bpeTrain(docs))
    secs(s"bpe-train8 ${kDocs}x")(bpeTrain(bigDocs))

    // ── r13: BPE ENCODE — merges applied to the DISTINCT word table
    //    (vocab-sized codegen projection) then broadcast-joined back onto
    //    per-doc word counts: the replicated corpus shares the vocabulary,
    //    so only the one corpus pass (word counts) grows with the data ────
    {
      val merges = operators.Bpe.learnMerges(docs, "text", numMerges = 8)
        .orderBy("rank").select("lhs", "rhs")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      def bpeEncode(d: DataFrame): Long =
        operators.Bpe.encode(d, "doc_id", "text", merges).count()
      secs(s"bpe-encode 1x")(bpeEncode(docs))
      secs(s"bpe-encode ${kDocs}x")(bpeEncode(bigDocs))
    }

    // ── r13: late-interaction MaxSim batch — the vocabulary embedding and
    //    the similarity table are vocab-sized (shared across the replicated
    //    corpus), so only the corpus token stream grows with the data ─────
    {
      val batch = (1L to 20L).map(i =>
        i -> s"spark join filter window query $i")
      def liBatch(d: DataFrame): Long =
        operators.LateInteraction.maxSimTopKBatch(
          d, "doc_id", "text", batch, k = 10).count()
      secs(s"late-interaction-batch20 1x")(liBatch(docs))
      secs(s"late-interaction-batch20 ${kDocs}x")(liBatch(bigDocs))
      // batch-width guard (r14): 200 queries ≈ 1,200 token columns split
      // into ~10 column-bounded waves sharing the checkpointed vocabulary
      // — per-query cost must stay within ~3× of the batch-20 row's
      val batch200 = (1L to 200L).map(i =>
        i -> s"spark join filter window query $i")
      def liBatch200(d: DataFrame): Long =
        operators.LateInteraction.maxSimTopKBatch(
          d, "doc_id", "text", batch200, k = 10).count()
      secs(s"late-interaction-batch200 ${kDocs}x")(liBatch200(bigDocs))
      // pruned tier (r14): candidate-token heads rank on the VOCABULARY,
      // the kept tokens semi-join-prune the corpus stream before scoring —
      // the 100× twin lives in the 100× block
      def liPruned(d: DataFrame): Long =
        operators.LateInteraction.maxSimTopKPruned(
          d, "doc_id", "text", scaleQ, 10).count()
      secs(s"late-pruned 1x")(liPruned(docs))
      secs(s"late-pruned ${kDocs}x")(liPruned(bigDocs))
      // r15: BATCHED pruned tier — the candidate semi-join prunes the
      // shared corpus pass before the wave-guarded batch scorer
      def liBatchPruned(d: DataFrame, n: Int): Long =
        operators.LateInteraction.maxSimTopKBatchPruned(
          d, "doc_id", "text",
          (1L to n.toLong).map(i => i -> s"spark join filter window query $i"),
          k = 10).count()
      secs(s"late-pruned-batch20 ${kDocs}x")(liBatchPruned(bigDocs, 20))
      secs(s"late-pruned-batch200 ${kDocs}x")(liBatchPruned(bigDocs, 200))
      // r15: the pruned batch's QUALITY receipt — per-query top-10 overlap
      // vs the exact batch (pruning can only exclude docs, so this is the
      // candidate sets' recall; the hash embedder makes candidates
      // pseudo-random, a real embedding provider makes them semantic)
      secs(s"late-pruned-batch20-recall ${kDocs}x") {
        val batch = (1L to 20L).map(i =>
          i -> s"spark join filter window query $i")
        def tops(df: DataFrame): Map[Long, Set[Long]] = df
          .select("query_id", "doc_id").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
        val exact = tops(operators.LateInteraction.maxSimTopKBatch(
          bigDocs, "doc_id", "text", batch, 10))
        val pruned = tops(operators.LateInteraction.maxSimTopKBatchPruned(
          bigDocs, "doc_id", "text", batch, 10))
        val rec = batch.map { case (q, _) =>
          pruned.getOrElse(q, Set.empty).intersect(exact(q)).size / 10.0
        }.sum / batch.size
        f"recall@10=$rec%.3f"
      }
    }

    // ── r13: TextRank keywords — ONE corpus pass builds the co-occurrence
    //    edge table; all 8 PageRank rounds run on that (vocab²-bounded,
    //    in practice vocab-sized) table, so round cost is corpus-size-
    //    independent — the replicated corpus shares the graph, only edge
    //    WEIGHTS scale ─────────────────────────────────────────────────
    def textrank(d: DataFrame): Long =
      operators.TextRank.keywords(d, "text", k = 30, iters = 8).count()
    secs(s"textrank8 1x")(textrank(docs))
    secs(s"textrank8 ${kDocs}x")(textrank(bigDocs))
    // serve-shape twins (r14): the 8 rounds on the AT-REST edge table —
    // the one corpus pass is the build row, iterations are vocab-bounded
    def trBuildServe(d: DataFrame, tag: String): Unit = {
      secs(s"textrank-edges-build $tag") {
        operators.TextRank.cooccurrenceEdges(d, "text")
          .write.mode("overwrite").parquet(s"$base/tredges_$tag")
        spark.read.parquet(s"$base/tredges_$tag").count()
      }
      secs(s"textrank-served $tag")(
        operators.TextRank.keywordsFromEdges(
          spark.read.parquet(s"$base/tredges_$tag"), 30, 8).count())
    }
    trBuildServe(docs, "1x")
    trBuildServe(bigDocs, s"${kDocs}x")

    // ── r13: phrase search — the computed tier re-reads the corpus per
    //    query (linear); the STORED positional tier pays the index build
    //    once and then serves from the phrase terms' bucket partitions
    //    (build attributed separately, serve rows are the shape that
    //    matters) ─────────────────────────────────────────────────────────
    {
      def phraseComputed(d: DataFrame): Long =
        operators.PhraseSearch.phraseTopK(d, "doc_id", "text",
          "window join", 50).count()
      secs(s"phrase-computed 1x")(phraseComputed(docs))
      secs(s"phrase-computed ${kDocs}x")(phraseComputed(bigDocs))
      def buildServe(d: DataFrame, tag: String): Unit = {
        val dir = s"$base/posix_$tag"
        var ix: operators.PositionalIndex.Index = null
        secs(s"phrase-store-build $tag") {
          operators.PositionalIndex.write(
            operators.PositionalIndex.build(d, "doc_id", "text"), dir)
          ix = operators.PositionalIndex.read(spark, dir)
          ix.corpusSize
        }
        secs(s"phrase-stored-serve $tag")(
          operators.PositionalIndex.phraseTopK(ix, "window join", 50).count())
        // r15: BATCHED serve (t12_phrase_batch20's fixtures) — one pruned
        // postings pass + requirement-count matching for all 20 phrases
        secs(s"phrase-batch20-stored $tag")(
          operators.PositionalIndex.phraseTopKBatch(ix,
            graft.queries.KbQueries.PhraseBatch, 20).count())
      }
      buildServe(docs, "1x")
      buildServe(bigDocs, s"${kDocs}x")
    }

    // ── r13: boolean search (set algebra over pruned postings) and
    //    snippet extraction (match-position self-join) — both linear in
    //    the corpus, set ops hash-partitioned on doc_id ──────────────────
    {
      def boolSearch(d: DataFrame): Long = {
        val ix = operators.Bm25.buildIndex(d, "doc_id", "text")
        operators.BooleanSearch.booleanTopK(ix, spark,
          "(window OR join) AND filter NOT slow", 20).count()
      }
      secs(s"boolean-search 1x")(boolSearch(docs))
      secs(s"boolean-search ${kDocs}x")(boolSearch(bigDocs))
      // serve-shape twins (r14): the same retrieval from the AT-REST BM25
      // store the bm25-store-write rows built — the build cost is theirs,
      // these rows time the doc-set algebra alone
      secs(s"boolean-stored 1x")(
        operators.BooleanSearch.booleanTopK(bm25StoredProbe(s"$base/bm25_1x"),
          spark, "(window OR join) AND filter NOT slow", 20).count())
      secs(s"boolean-stored ${kDocs}x")(
        operators.BooleanSearch.booleanTopK(
          bm25StoredProbe(s"$base/bm25_${kDocs}x"),
          spark, "(window OR join) AND filter NOT slow", 20).count())
      // r15: BATCHED serve from the store (t15_boolean_batch20's fixtures)
      // — the mask-based one-pass plan: two pruned postings scans for the
      // WHOLE batch, so per-query cost is the store probe itself, not
      // per-action overhead or per-query set-algebra shuffles
      secs(s"boolean-batch20-stored 1x")(
        operators.BooleanSearch.booleanTopKBatch(
          bm25StoredProbe(s"$base/bm25_1x"), spark,
          graft.queries.KbQueries.BooleanBatch, 20).count())
      secs(s"boolean-batch20-stored ${kDocs}x")(
        operators.BooleanSearch.booleanTopKBatch(
          bm25StoredProbe(s"$base/bm25_${kDocs}x"), spark,
          graft.queries.KbQueries.BooleanBatch, 20).count())
      def snippets(d: DataFrame): Long =
        operators.Snippets.bestSnippets(d, "doc_id", "text",
          "spark join filter window", 20).count()
      secs(s"snippets 1x")(snippets(docs))
      secs(s"snippets ${kDocs}x")(snippets(bigDocs))
    }

    // ── r13: RM3 feedback — two pruned-postings passes + two k-bounded
    //    driver collects; cost tracks the postings scans (index build
    //    included in each row, the dominant term) ────────────────────────
    {
      def rm3(d: DataFrame): Long = {
        val ix = operators.Bm25.buildIndex(d, "doc_id", "text")
        operators.Rm3.rm3TopK(ix, spark, "spark join filter window", 20)
          .count()
      }
      secs(s"rm3-feedback 1x")(rm3(docs))
      secs(s"rm3-feedback ${kDocs}x")(rm3(bigDocs))
      // serve-shape twins (r14): both passes from the at-rest store
      secs(s"rm3-stored 1x")(
        operators.Rm3.rm3TopK(bm25StoredProbe(s"$base/bm25_1x"), spark,
          "spark join filter window", 20).count())
      secs(s"rm3-stored ${kDocs}x")(
        operators.Rm3.rm3TopK(bm25StoredProbe(s"$base/bm25_${kDocs}x"), spark,
          "spark join filter window", 20).count())
      // r15: BATCHED serve (t13_rm3_batch20's fixtures) — both feedback
      // passes run ONCE for the whole batch (3 fixed actions total)
      secs(s"rm3-batch20-stored 1x")(
        operators.Rm3.rm3TopKBatch(bm25StoredProbe(s"$base/bm25_1x"), spark,
          graft.queries.KbQueries.Rm3Batch, 20).count())
      secs(s"rm3-batch20-stored ${kDocs}x")(
        operators.Rm3.rm3TopKBatch(bm25StoredProbe(s"$base/bm25_${kDocs}x"),
          spark, graft.queries.KbQueries.Rm3Batch, 20).count())
    }

    // ── r13: central-chunk selection — pairwise cosine only WITHIN a
    //    source document; replication multiplies groups, not group size,
    //    so the quadratic term is bounded and growth is linear ───────────
    {
      def central(d: DataFrame, e: DataFrame): Long =
        operators.Summarize.centralChunks(d, e,
          "source", "doc_id", "vec_id", "embedding").count()
      secs(s"central-chunk 1x")(central(docs, emb))
      secs(s"central-chunk ${kEmb}x")(central(bigDocs, bigEmb))
    }

    // ── r13/r14: connected components ABOVE the driver union-find limit on
    //    synthetic HIGH-DIAMETER chain graphs (the worst case for the
    //    min-label loop the stars replaced: a 200k-long chain would need
    //    200k propagation rounds). The POLICY rows exercise
    //    connectedComponents' r14 iterated seed-and-contract regime (each
    //    5M-edge driver head self-loops away, ⌈|E|/5M⌉ passes, zero star
    //    rounds at these sizes — logged per pass); the DIRECT row runs
    //    connectedComponentsStars itself so the distributed loop's
    //    per-round counts/times stay receipted for the >4×-limit regime.
    //    Validation: distinct component count == chain count. ──────────────
    def chainEdges(nChains: Int, chainLen: Long): org.apache.spark.sql.DataFrame =
      spark.range(nChains * chainLen)
        .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
        .filter((col("id") + lit(1)) % lit(chainLen) =!= 0)
    def countComps(df: org.apache.spark.sql.DataFrame, expect: Long): Long = {
      val comps = df.agg(countDistinct("component")).first().getLong(0)
      require(comps == expect, s"expected $expect components, got $comps")
      comps
    }
    secs(s"cc-chains 6.4M-edges (policy)")(countComps(
      operators.Dedup.connectedComponents(chainEdges(32, 200000L)), 32))
    secs(s"cc-chains 12.8M-edges (policy)")(countComps(
      operators.Dedup.connectedComponents(chainEdges(64, 200000L)), 64))
    // r17 #6: the policy path one decade up (⌈26M/5M⌉ driver seed passes)
    secs(s"cc-chains 25.6M-edges (policy)")(countComps(
      operators.Dedup.connectedComponents(chainEdges(128, 200000L)), 128))
    secs(s"cc-stars-chains 1.6M-edges (direct)")(countComps(
      operators.Dedup.connectedComponentsStars(chainEdges(8, 200000L)), 8))
    secs(s"cc-stars-chains 6.4M-edges (direct)")(countComps(
      operators.Dedup.connectedComponentsStars(chainEdges(32, 200000L)), 32))
    // the SCATTERED row defeats partition locality (round-robin shuffle of
    // the chain edges: adjacent edges never co-locate, the zero-shuffle
    // local contraction finds nothing) — it receipts the PURE star-loop
    // constant that the rows above no longer isolate
    secs(s"cc-stars-chains 1.6M-edges (scattered)")(countComps(
      operators.Dedup.connectedComponentsStars(
        chainEdges(8, 200000L).repartition(32)), 8))
    // the PERMUTED row additionally scrambles the NODE IDS with a
    // NON-AFFINE bijection on [0, 2^21) — odd-multiplier mod 2^21 (an
    // invertible ring map) composed with an xor-shift (invertible on a
    // fixed width) — so chain components are exactly relabeled but ids no
    // longer correlate with structure: this defeats the range-contraction
    // pass the same way repartition defeats producer locality, pinning
    // the PURE star-loop constant — the honest
    // no-locality-of-any-kind 100-TB upper bound
    def permuteId(c: org.apache.spark.sql.Column,
                  mod: Long = 2097152L): org.apache.spark.sql.Column = {
      val y = (c * 2654435761L) % mod
      y.bitwiseXOR(shiftrightunsigned(y, 10))
    }
    secs(s"cc-stars-chains 1.6M-edges (permuted)")(countComps(
      operators.Dedup.connectedComponentsStars(
        chainEdges(8, 200000L)
          .select(permuteId(col("doc_a")).as("doc_a"),
            permuteId(col("doc_b")).as("doc_b"))
          .repartition(32)), 8))
    // r18 #7 counterfactual: EARLY stall trigger (first action at 1 round
    // so the frozen-count signal is probed ~3 rounds sooner) — REJECTED
    // same-JVM: shallow trees gut the finisher's contraction factor
    secs(s"cc-stars-chains 1.6M-edges (permuted, early trigger)")(countComps(
      operators.Dedup.connectedComponentsStars(
        chainEdges(8, 200000L)
          .select(permuteId(col("doc_a")).as("doc_a"),
            permuteId(col("doc_b")).as("doc_b"))
          .repartition(32), firstActionRounds = 1), 8))
    // r17 #3: the permuted bound one decade up — does the pure loop's
    // round count (log²) or its per-round constant own the growth?
    secs(s"cc-stars-chains 6.4M-edges (permuted)")(countComps(
      operators.Dedup.connectedComponentsStars(
        chainEdges(32, 200000L)
          // 2²³-ring bijection: 6.4M node ids overflow the 1.6M row's 2²¹
          .select(permuteId(col("doc_a"), 8388608L).as("doc_a"),
            permuteId(col("doc_b"), 8388608L).as("doc_b"))
          .repartition(32)), 32))
    secs(s"cc-stars-chains 6.4M-edges (permuted, early trigger)")(countComps(
      operators.Dedup.connectedComponentsStars(
        chainEdges(32, 200000L)
          .select(permuteId(col("doc_a"), 8388608L).as("doc_a"),
            permuteId(col("doc_b"), 8388608L).as("doc_b"))
          .repartition(32), firstActionRounds = 1), 32))
    // r17 #3: per-ROUND live-edge counts + seconds for the permuted chain
    // (receipt-only probe — one action per round; the serving loop batches
    // 4 rounds per action precisely to avoid these actions)
    secs(s"cc-round-probe 1.6M (permuted)") {
      operators.Dedup.ccRoundProbe(
        chainEdges(8, 200000L)
          .select(permuteId(col("doc_a")).as("doc_a"),
            permuteId(col("doc_b")).as("doc_b"))
          .repartition(32))
        .map { case (r, n, s) => f"r$r=$n%d/${s}%.1fs" }.mkString(" ")
    }
    // r15: the MANY-COMPONENT shape real dup graphs have (most components
    // tiny, a few chains) — scattered so contraction can't pre-solve it;
    // this is the regime the freeze mechanism exists for (finished stars
    // leave the loop; the chain rows above never freeze mid-run)
    // true edge count: 128k stars × 9 edges + 4 × (80k−1) chain edges
    // = 1,471,996 ≈ 1.47M (the r15 label said 1.6M — ADVICE r15 fix)
    secs(s"cc-stars-mixed 1.47M-edges (scattered)")(countComps(
      operators.Dedup.connectedComponentsStars(
        // 128k size-10 star components + 4 chains of 80k nodes
        spark.range(1280000L)
          .select((col("id") - col("id") % 10).as("doc_a"), col("id").as("doc_b"))
          .filter(col("doc_a") =!= col("doc_b"))
          .unionByName(spark.range(2000000L, 2320000L)
            .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
            .filter((col("id") + 1) % 80000L =!= 0))
          .repartition(32)), 128000L + 4L))

    // ── r13: 100× rows for the headline paths — the "plans you'd want at
    //    100×" bar. In-process guards are EXPECTED to refuse here and the
    //    distributed plans carry; build rows attribute their one-time cost.
    //    Lazy: the 100× parquet tables are written only when a row runs. ────
    val k100 = 100
    lazy val docs100 = {
      (0 until k100).map(i => docs.select(
          (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"), col("text"),
          concat(col("source"), lit(s"_$i")).as("source"), col("n_chars")))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$base/documents100.parquet")
      spark.read.parquet(s"$base/documents100.parquet")
    }
    lazy val emb100 = {
      (0 until k100).map(i => emb.select(
          (col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"), col("embedding")))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$base/embeddings100.parquet")
      spark.read.parquet(s"$base/embeddings100.parquet")
    }
    // exact knn at 100×: distributed per-partition heaps (the plain row)
    // and the guarded in-process rung, which at 200k rows sits AT the
    // broadcast guard — whichever side it lands on, the fallback is the
    // identical distributed plan (refusal, not degradation)
    secs(s"knn-batch50 ${k100}x")(knn50(emb100))
    secs(s"knn-batch50-inproc ${k100}x")(knn50InProc(emb100, s"scale|knn${k100}x"))
    secs(s"ivf-batch50 ${k100}x")(ivfBatch(emb100))
    // BM25 at 100×: one-time bucketed store write, then the pruned-scan
    // distributed score and the in-process rung (expected to REFUSE at
    // ~5M+ postings and serve the same distributed plan)
    secs(s"bm25-store-write ${k100}x")(
      bm25StoreWrite(docs100, s"$base/bm25_${k100}x", operators.Bm25.DefaultTermBuckets))
    lazy val ix100 = bm25StoredProbe(s"$base/bm25_${k100}x")
    secs(s"bm25-stored-score-1q ${k100}x")(operators.Bm25.scoreWithIndex(
      ix100.keyless, spark, scaleQ).count())
    secs(s"bm25-stored-score-1q-inproc ${k100}x")(
      operators.Bm25.scoreWithIndex(ix100, spark, scaleQ).count())
    // incremental dedup vs a 100× lake: stored bucket table built once
    // (attributed), the timed step re-shingles only the FIXED 500-doc batch
    lazy val lakeB100 = storedBuckets(docs100)
    secs(s"dedup-incr-index-build ${k100}x")(lakeB100.count())
    secs(s"dedup-incremental ${k100}x")(incDedup(docs100, lakeB100))
    // e2e IVFPQ serving at 100×: builds attributed, the serve row scans
    // only the probed clusters' codes + the ADC shortlist re-rank.
    // (guarded like the 1x/20x loop: mkChunks checkpoints eagerly)
    if (rowFilter.forall(r =>
        Seq(s"e2e-bm25-build ${k100}x", s"e2e-ivfpq-build ${k100}x",
          s"e2e-serve-ivfpq ${k100}x")
          .exists(l => r.findFirstIn(l).isDefined))) {
      import operators.VectorSearch
      val chunks = mkChunks(docs100)
      val e2 = embById(emb100.filter(col("vec_id") < k100.toLong * 10000000L))
      var bm: operators.Bm25.Index = null
      secs(s"e2e-bm25-build ${k100}x") {
        bm = operators.Bm25.buildIndex(chunks, "doc_id", "text", persist = true)
        bm.postings.count() + bm.idf.count()
      }
      var pqS: VectorSearch.Serving.IvfPq = null
      secs(s"e2e-ivfpq-build ${k100}x") {
        pqS = seededPqServing(e2); pqS.encoded.count()
      }
      if (bm != null && pqS != null) {
        val base0 = graft.config.KbConfig()
        secs(s"e2e-serve-ivfpq ${k100}x")(
          e2eServe(chunks, e2, bm, base0.copy(indexType = "ivfpq", ivfNprobe = 2), pqS))
      }
      if (bm != null) { bm.postings.unpersist(); bm.lengths.unpersist(); bm.idf.unpersist() }
      if (pqS != null) { pqS.index.assigned.unpersist(); pqS.encoded.unpersist() }
    }

    // ── r14: 100× rows for the r13 retrieval tiers — stored-positional
    //    phrase serving, boolean + RM3 from the stored BM25 index (build
    //    attributed by bm25-store-write above), pruned late interaction,
    //    and TextRank iterating on the AT-REST edge table. Bar: within
    //    ≤5× of the 20× row or carrying a named reason. ──────────────────
    {
      var posIx: operators.PositionalIndex.Index = null
      secs(s"phrase-store-build ${k100}x") {
        operators.PositionalIndex.write(
          operators.PositionalIndex.build(docs100, "doc_id", "text"),
          s"$base/posix_${k100}x")
        posIx = operators.PositionalIndex.read(spark, s"$base/posix_${k100}x")
        posIx.corpusSize
      }
      if (posIx != null) {
        secs(s"phrase-stored-serve ${k100}x")(
          operators.PositionalIndex.phraseTopK(posIx, "window join", 50).count())
        secs(s"phrase-batch20-stored ${k100}x")(
          operators.PositionalIndex.phraseTopKBatch(posIx,
            graft.queries.KbQueries.PhraseBatch, 20).count())
      }
      secs(s"boolean-stored ${k100}x")(
        operators.BooleanSearch.booleanTopK(ix100, spark,
          "(window OR join) AND filter NOT slow", 20).count())
      secs(s"rm3-stored ${k100}x")(
        operators.Rm3.rm3TopK(ix100, spark, scaleQ, 20).count())
      secs(s"boolean-batch20-stored ${k100}x")(
        operators.BooleanSearch.booleanTopKBatch(ix100, spark,
          graft.queries.KbQueries.BooleanBatch, 20).count())
      secs(s"rm3-batch20-stored ${k100}x")(
        operators.Rm3.rm3TopKBatch(ix100, spark,
          graft.queries.KbQueries.Rm3Batch, 20).count())
      // r18 pass-structure attribution + fusion A/B (verdict #1): the
      // staged twin forces each pass with its own action; the fused row
      // shares pass 1's persisted postings slice with pass 2, the
      // counterfactual re-scans the store (r17's structure). Same JVM,
      // same store — host-drift-free.
      if (rowFilter.forall(_.findFirstIn("rm3-batch20-stored-stages").isDefined))
      for (fused <- Seq(false, true)) {
        val (nRows, stages) = operators.Rm3.rm3TopKBatchStaged(ix100, spark,
          graft.queries.KbQueries.Rm3Batch, 20, reuseP1 = fused)
        val lbl = if (fused) "fused" else "counterfactual r17"
        println(f"[scale] rm3-batch20-stored-stages ${k100}x ($lbl)   " +
          stages.map { case (s, t) => f"$s=$t%.2f" }.mkString(" ") +
          s"   (rows=$nRows)")
      }
      secs(s"late-pruned ${k100}x")(
        operators.LateInteraction.maxSimTopKPruned(docs100, "doc_id", "text",
          scaleQ, 10).count())
      // r15: the AUTO tier at 100× must route to pruned (500k docs >
      // ExactMaxDocs policy bound) — same cost class as the row above
      secs(s"late-auto ${k100}x")(
        operators.LateInteraction.maxSimTopKAuto(docs100, "doc_id", "text",
          scaleQ, 10, corpusDocs = Some(docs100.count())).count())
      // r15: batch-200 at 100× — the wave guard's widest receipt: ~10
      // column-bounded waves over the shared checkpointed vocabulary
      secs(s"late-interaction-batch200 ${k100}x")(
        operators.LateInteraction.maxSimTopKBatch(docs100, "doc_id", "text",
          (1L to 200L).map(i => i -> s"spark join filter window query $i"),
          k = 10).count())
      secs(s"late-pruned-batch200 ${k100}x")(
        operators.LateInteraction.maxSimTopKBatchPruned(docs100, "doc_id",
          "text",
          (1L to 200L).map(i => i -> s"spark join filter window query $i"),
          k = 10).count())
      // r16: the BATCH auto-policy rows — chooseBatchTier routes the
      // template batch to EXACT on overlap alone, and the DISJOINT batch
      // to EXACT too once the one-agg geometry probe sees the word-soup
      // corpus (vocab 31 → candidate keep-set = the whole corpus; the
      // counterfactual row receipts that pruned would have LOST, 15.0 vs
      // 7.4 s when first measured). The pruned side of the policy only
      // opens in the large-vocab/selective corner (spec-pinned); the
      // receipted pruned WIN remains the single-query late-auto row above.
      locally {
        import operators.LateInteraction
        val template200 = (1L to 200L)
          .map(i => i -> s"spark join filter window query $i")
        val disjoint20 = (1L to 20L).map(i =>
          i -> s"q${i}ax q${i}bx q${i}cx q${i}dx q${i}ex")
        val n100 = docs100.count()
        require(LateInteraction.chooseBatchTier(n100, template200) ==
          LateInteraction.Tier.Exact,
          "policy must serve the template batch exact")
        secs(s"late-batch-auto-template200 ${k100}x (exact)")(
          LateInteraction.maxSimTopKBatchAuto(docs100, "doc_id", "text",
            template200, k = 10, corpusDocs = Some(n100)).count())
        secs(s"late-batch-auto-disjoint20 ${k100}x (geometry->exact)")(
          LateInteraction.maxSimTopKBatchAuto(docs100, "doc_id", "text",
            disjoint20, k = 10, corpusDocs = Some(n100)).count())
        // the policy's counterfactual: the disjoint batch on the pruned
        // scorer — the side the geometry probe rejected
        secs(s"late-batch-pruned-disjoint20 ${k100}x (counterfactual)")(
          LateInteraction.maxSimTopKBatchPruned(docs100, "doc_id", "text",
            disjoint20, k = 10).count())
      }
      secs(s"textrank-edges-build ${k100}x") {
        operators.TextRank.cooccurrenceEdges(docs100, "text")
          .write.mode("overwrite").parquet(s"$base/tredges_${k100}x")
        spark.read.parquet(s"$base/tredges_${k100}x").count()
      }
      secs(s"textrank-served ${k100}x")(
        operators.TextRank.keywordsFromEdges(
          spark.read.parquet(s"$base/tredges_${k100}x"), 30, 8).count())
      ivfStoreBuildServe(emb100, s"${k100}x")
    }

    // ── r16: the 500× SERVING DECADE (verdict #7) — one more order of
    //    magnitude over the three headline serving rows, build rows split
    //    from serve rows, per-query ms printed. 2.5M docs / 1M vectors:
    //    the in-process guards are EXPECTED to refuse here (the serve
    //    rows measure the distributed 100-TB plans), and any hidden
    //    superlinear term shows against the 20×/100× rows. Lazy tables —
    //    a filtered run that skips the family never builds them. ─────────
    locally {
      val k500 = 500
      def servedRow(label: String, nQ: Int)(f: => Any): Unit =
        if (rowFilter.forall(_.findFirstIn(label).isDefined)) {
          val t0 = System.nanoTime()
          val r = f
          val s = (System.nanoTime() - t0) / 1e9
          println(f"[scale] $label%-34s $s%8.2f s   " +
            f"(${s * 1000.0 / nQ}%.1f ms/q, $r)")
        }
      // the decade's BUILD rows run unconditionally once any of its SERVE
      // rows is wanted (they assign the state the serves read; a generic
      // "bm25-store-write" filter elsewhere must NOT pull in this block)
      val wanted = rowFilter.forall(re =>
        re.findFirstIn(s"knn-batch50-inproc ${k500}x").isDefined ||
        re.findFirstIn(s"e2e-batch20-stored ${k500}x").isDefined ||
        re.findFirstIn(s"boolean-batch20-stored ${k500}x").isDefined ||
        re.findFirstIn(s"dedup-incremental ${k500}x").isDefined ||
        re.findFirstIn(s"phrase-batch20-stored ${k500}x").isDefined)
      def buildRow(label: String)(f: => Any): Unit = {
        val t0 = System.nanoTime()
        val r = f
        println(f"[scale] $label%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s   ($r)")
      }
      if (wanted) {
        lazy val docs500 = {
          (0 until k500).map(i => docs.select(
              (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
              col("text"), concat(col("source"), lit(s"_$i")).as("source"),
              col("n_chars")))
            .reduce(_ unionByName _)
            .write.mode("overwrite").parquet(s"$base/documents500.parquet")
          spark.read.parquet(s"$base/documents500.parquet")
        }
        lazy val emb500 = {
          (0 until k500).map(i => emb.select(
              (col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
              col("embedding")))
            .reduce(_ unionByName _)
            .write.mode("overwrite").parquet(s"$base/embeddings500.parquet")
          spark.read.parquet(s"$base/embeddings500.parquet")
        }
        buildRow(s"tables-build ${k500}x")(s"${docs500.count()} docs, " +
          s"${emb500.count()} vectors")
        servedRow(s"knn-batch50-inproc ${k500}x", 50)(
          knn50InProc(emb500, s"scale|knn${k500}x"))
        buildRow(s"bm25-store-write ${k500}x")(
          bm25StoreWrite(docs500, s"$base/bm25_${k500}x",
            operators.Bm25.DefaultTermBuckets))
        lazy val ix500 = bm25StoredProbe(s"$base/bm25_${k500}x")
        servedRow(s"e2e-batch20-stored ${k500}x", 20)(
          e2e20Stored(docs500, emb500, ix500))
        // verdict r17 #4: the 500× row's ~11×-per-25×-data growth gets a
        // stage attribution (embed / vector / bm25 / fuse+context+rerank)
        servedRow(s"e2e-batch20-stored-stages ${k500}x", 20)(
          e2e20StoredStages(docs500, emb500, ix500))
        servedRow(s"boolean-batch20-stored ${k500}x", 20)(
          operators.BooleanSearch.booleanTopKBatch(ix500, spark,
            graft.queries.KbQueries.BooleanBatch, 20).count())
        // r17 #6: second-decade receipts for the families that stopped at
        // 100× — incremental dedup vs a 2.5M-doc lake (cost must keep
        // tracking the FIXED 500-doc batch) and stored-positional phrase
        // serving (build attributed, serve = the pruned batch plan)
        buildRow(s"dedup-incr-index-build ${k500}x") {
          val b = storedBuckets(docs500)
          val n = b.count()
          // the shared 1.9B-offset batch fixture COLLIDES with the 500×
          // corpus's replica-190 id range (id-disjointness, ADVICE r15) —
          // this decade's batch sits beyond all 500 replica ranges
          val batch500 = docs.limit(500).select(
              (col("doc_id") + lit(9000000000L)).as("doc_id"), col("text"))
            .localCheckpoint(true)
          servedRow(s"dedup-incremental ${k500}x", 500)(
            incDedup(docs500, b, batch500))
          b.unpersist()
          n
        }
        buildRow(s"phrase-store-build ${k500}x") {
          operators.PositionalIndex.write(
            operators.PositionalIndex.build(docs500, "doc_id", "text"),
            s"$base/posix_${k500}x")
          operators.PositionalIndex.read(spark, s"$base/posix_${k500}x")
            .corpusSize
        }
        servedRow(s"phrase-batch20-stored ${k500}x", 20)(
          operators.PositionalIndex.phraseTopKBatch(
            operators.PositionalIndex.read(spark, s"$base/posix_${k500}x"),
            graft.queries.KbQueries.PhraseBatch, 20).count())
      }
    }

    // ── r17: ZIPF-VOCABULARY receipts (verdict #1) — three r16 policies
    //    cited the word-soup corpus's ~31-token vocabulary as their
    //    binding constraint (rm3-batch residual "every doc matches every
    //    query", the late-interaction batch policy's exact-always
    //    routing, the positional index's unsorted layout). This block
    //    re-measures each on [[zipfCorpus]] (~50k terms, Zipf 1.07, sf0.1
    //    length multiset) where term selectivity actually exists, plus
    //    the boolean >62-term set-algebra fallback (verdict #7 — a 63+-
    //    distinct-term query cannot even be phrased on a 31-token vocab).
    locally {
      def zterm(r: Int) = s"w$r"
      // three-term RM3 queries spanning the frequency spectrum (one
      // common, one mid, one rare rank) — realistic query shape
      val zipfRm3Batch: Seq[(Long, String)] = (0 until 20).map(i =>
        ((i + 1).toLong,
          s"${zterm(5 + i)} ${zterm(200 + 7 * i)} ${zterm(3000 + 97 * i)}"))
      val zipfBooleanBatch: Seq[(Long, String)] = (0 until 20).map(i =>
        ((i + 1).toLong,
          s"(${zterm(10 + i)} OR ${zterm(300 + 11 * i)}) AND " +
            s"${zterm(50 + 3 * i)} NOT ${zterm(1000 + 31 * i)}"))
      // two-term phrases over common ranks (phrases of rare terms almost
      // never co-occur adjacently in ANY corpus; common-term phrases are
      // the real workload and still prune to 2 of ~1k buckets)
      val zipfPhraseBatch: Seq[(Long, String)] = (0 until 20).map(i =>
        ((i + 1).toLong, s"${zterm(3 + i)} ${zterm(30 + 2 * i)}"))
      // 20 DISJOINT 5-term queries over mid/rare ranks — the shape the
      // pruned batch tier was built for
      val zipfDisjoint20: Seq[(Long, String)] = (0 until 20).map(i =>
        ((i + 1).toLong,
          (0 until 5).map(j => zterm(101 + i * 500 + j * 100)).mkString(" ")))
      // >62-distinct-term single query -> the set-algebra fallback path;
      // the 60-term twin stays on the mask path (the crossover control)
      def orChain(ranks: Range) = ranks.map(zterm).mkString(" OR ")
      val q70 = s"(${orChain(100 to 169)}) AND ${zterm(7)} NOT ${zterm(4000)}"
      val q60 = s"(${orChain(100 to 157)}) AND ${zterm(7)} NOT ${zterm(4000)}"

      val zipfLabels = Seq("zipf-tables-build", "bm25-store-write-zipf",
        "rm3-batch20-stored-zipf", "rm3-batch20-stored-stages-zipf",
        "boolean-batch20-stored-zipf",
        "boolean-wide70-zipf", "boolean-mask60-zipf",
        "posix-build-zipf", "phrase-batch20-stored-zipf",
        "late-batch-auto-zipf", "late-batch-exact-zipf",
        "late-batch-pruned-zipf", "late-store-build-zipf",
        "late-stored-batch20-zipf")
      val wanted = rowFilter.forall(re =>
        zipfLabels.exists(l => re.findFirstIn(l).isDefined))
      if (wanted) {
        import spark.implicits._
        def buildRow(label: String)(f: => Any): Unit = {
          val t0 = System.nanoTime()
          val r = f
          println(f"[scale] $label%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s   ($r)")
        }
        val lens = docs
          .select(size(split(col("text"), " ")).cast("int")).as[Int].collect()
        val dcount = docs.count()
        for (k <- Seq(20, 100)) {
          var zd: DataFrame = null
          buildRow(s"zipf-tables-build ${k}x") {
            zipfCorpus(spark, dcount * k, lens)
              .write.mode("overwrite").parquet(s"$base/zipfdocs_${k}x.parquet")
            zd = spark.read.parquet(s"$base/zipfdocs_${k}x.parquet")
            zd.count()
          }
          buildRow(s"bm25-store-write-zipf ${k}x")(
            bm25StoreWrite(zd, s"$base/bm25_zipf_${k}x",
              operators.Bm25.DefaultTermBuckets))
          val zix = bm25StoredProbe(s"$base/bm25_zipf_${k}x")
          secs(s"rm3-batch20-stored-zipf ${k}x")(
            operators.Rm3.rm3TopKBatch(zix, spark, zipfRm3Batch, 20).count())
          // r18 verdict #1: pass attribution + two-pass fusion A/B on the
          // realistic-vocabulary corpus (where r17 re-attributed the cost
          // to the pass structure itself)
          if (k == 100 && rowFilter.forall(
              _.findFirstIn("rm3-batch20-stored-stages-zipf").isDefined))
            for (fused <- Seq(false, true)) {
            val (nRows, stages) = operators.Rm3.rm3TopKBatchStaged(zix,
              spark, zipfRm3Batch, 20, reuseP1 = fused)
            val lbl = if (fused) "fused" else "counterfactual r17"
            println(f"[scale] rm3-batch20-stored-stages-zipf ${k}x ($lbl)   " +
              stages.map { case (s, t) => f"$s=$t%.2f" }.mkString(" ") +
              s"   (rows=$nRows)")
          }
          secs(s"boolean-batch20-stored-zipf ${k}x")(
            operators.BooleanSearch.booleanTopKBatch(zix, spark,
              zipfBooleanBatch, 20).count())
          // the >62-distinct-term single query: measured 4-9× slower on
          // the r15 set-algebra fallback (r17 same-day: 14.1/11.8 s at
          // 20×/100×), now served by the ⌈T/62⌉-word mask plan; the
          // 60-term twin is the single-word control
          secs(s"boolean-wide70-zipf ${k}x (multi-word mask)")(
            operators.BooleanSearch.booleanTopK(zix, spark, q70, 20).count())
          secs(s"boolean-mask60-zipf ${k}x (mask)")(
            operators.BooleanSearch.booleanTopK(zix, spark, q60, 20).count())
          // positional layout A/B: ONE build pass, both at-rest layouts
          buildRow(s"posix-build-zipf ${k}x (both layouts)") {
            val pix = operators.PositionalIndex.build(zd, "doc_id", "text")
            pix.postings.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              operators.PositionalIndex.write(pix, s"$base/posix_zipf_${k}x",
                termSorted = Some(false))
              operators.PositionalIndex.write(pix,
                s"$base/posix_zipf_sorted_${k}x", termSorted = Some(true))
            } finally pix.postings.unpersist()
            "2 layouts"
          }
          secs(s"phrase-batch20-stored-zipf ${k}x (unsorted)")(
            operators.PositionalIndex.phraseTopKBatch(
              operators.PositionalIndex.read(spark, s"$base/posix_zipf_${k}x"),
              zipfPhraseBatch, 20).count())
          secs(s"phrase-batch20-stored-zipf ${k}x (sorted)")(
            operators.PositionalIndex.phraseTopKBatch(
              operators.PositionalIndex.read(spark,
                s"$base/posix_zipf_sorted_${k}x"),
              zipfPhraseBatch, 20).count())
          // the late-interaction batch policy where geometry can bite:
          // print the tier the policy picks, then BOTH counterfactuals
          if (k == 100) {
            import operators.LateInteraction
            val n = zd.count()
            val g = zd.select(explode(split(col("text"), " ")).as("tok"))
              .agg(countDistinct("tok"), count(lit(1))).head()
            val tier = LateInteraction.chooseBatchTier(n, zipfDisjoint20,
              vocabSize = Some(g.getLong(0)),
              avgDocTokens = Some(g.getLong(1).toDouble / math.max(n, 1L)))
            println(f"[scale] late-batch policy on zipf ${k}x: vocab=${g.getLong(0)} " +
              f"avgDocTokens=${g.getLong(1).toDouble / n}%.1f -> $tier")
            // r18 verdict #3: the vocabulary state as an AT-REST artifact —
            // build-once (token stream + EMBEDDED vocabulary parquet),
            // then serve the same disjoint batch from the store. The serve
            // row runs BEFORE the computed rows below, so in a filtered
            // run it is the session's first maxSim row — the r17 ~20-35 s
            // first-row cliff (session vocab warmup) must NOT appear here.
            buildRow(s"late-store-build-zipf ${k}x") {
              LateInteraction.writeIndex(
                LateInteraction.buildIndex(zd, "doc_id", "text"),
                s"$base/late_zipf_${k}x")
              "built"
            }
            // same-shape warmup probe: the cold/warm gap attribution — a
            // 100k-row slice of the stored stream through the identical
            // wide plan compiles/JITs the same generated classes at o(1%)
            // of the serve's row volume
            secs(s"late-stored-warmup-zipf ${k}x (100k-row slice)") {
              val ixw = LateInteraction.readIndex(spark,
                s"$base/late_zipf_${k}x")
              LateInteraction.maxSimTopKBatchStored(
                ixw.copy(dtok = ixw.dtok.limit(100000)),
                zipfDisjoint20, k = 10).count()
            }
            secs(s"late-stored-batch20-zipf ${k}x (cold serve)")(
              LateInteraction.maxSimTopKBatchStored(
                LateInteraction.readIndex(spark, s"$base/late_zipf_${k}x"),
                zipfDisjoint20, k = 10).count())
            secs(s"late-stored-batch20-zipf ${k}x (warm serve)")(
              LateInteraction.maxSimTopKBatchStored(
                LateInteraction.readIndex(spark, s"$base/late_zipf_${k}x"),
                zipfDisjoint20, k = 10).count())
            // exact runs after: the leading COMPUTED maxSim row pays the
            // one-time session vocabulary state, so auto − exact then
            // isolates the policy's own cost (the sampled geometry probe)
            secs(s"late-batch-exact-zipf ${k}x (counterfactual)")(
              LateInteraction.maxSimTopKBatch(zd, "doc_id", "text",
                zipfDisjoint20, k = 10).count())
            secs(s"late-batch-auto-zipf ${k}x ($tier)")(
              LateInteraction.maxSimTopKBatchAuto(zd, "doc_id", "text",
                zipfDisjoint20, k = 10, corpusDocs = Some(n)).count())
            secs(s"late-batch-pruned-zipf ${k}x (counterfactual)")(
              LateInteraction.maxSimTopKBatchPruned(zd, "doc_id", "text",
                zipfDisjoint20, k = 10).count())
          }
        }
      }
    }

    // ── r18: the 500× decade on the ZIPF corpus (verdict #5) — r17's
    //    "BM25 owns 92%" e2e stage attribution was measured on the
    //    word-soup corpus, whose ~31-token vocabulary makes every query
    //    term match ~every document (the scored set is corpus × batch by
    //    construction). This block re-attributes the stored hybrid e2e at
    //    2.5M docs on the ~50k-term Zipf vocabulary, where the pruned
    //    stored-postings batch join has real term selectivity. The vector
    //    side embeds 1M zipf docs at the testdata dims (64) with the
    //    engine's deterministic embedder, matching the word-soup decade's
    //    vector-stage cardinality, so the vector rows compare directly
    //    and any attribution shift is the bm25/fuse stages' own. ─────────
    locally {
      val k500 = 500
      val z500Labels = Seq("zipf500-tables-build", "zipf500-emb-build",
        "bm25-store-write-zipf500", "e2e-batch20-stored-zipf500",
        "e2e-batch20-stored-stages-zipf500", "rm3-batch20-stored-zipf500",
        "boolean-batch20-stored-zipf500", "posix-build-zipf500",
        "phrase-batch20-stored-zipf500")
      val wanted = rowFilter.forall(re =>
        z500Labels.exists(l => re.findFirstIn(l).isDefined))
      if (wanted) {
        import spark.implicits._
        def buildRow(label: String)(f: => Any): Unit = {
          val t0 = System.nanoTime()
          val r = f
          println(f"[scale] $label%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s   ($r)")
        }
        def servedRow(label: String, nQ: Int)(f: => Any): Unit = {
          val t0 = System.nanoTime()
          val r = f
          val t = (System.nanoTime() - t0) / 1e9
          println(f"[scale] $label%-34s $t%8.2f s   " +
            f"(${t * 1000.0 / nQ}%.1f ms/q, $r)")
        }
        def zterm(r: Int) = s"w$r"
        // mixed-selectivity hybrid batch (the rm3-zipf query shape): one
        // common, one mid, one rare rank per query — zipf terms pass the
        // enhancement chain unchanged (letters-only repeat collapse, no
        // synonym heads), so the bm25 stage scores exactly these terms
        val zipfE2eBatch: Seq[(Long, String)] = (0 until 20).map(i =>
          ((i + 1).toLong,
            s"${zterm(5 + i)} ${zterm(200 + 7 * i)} ${zterm(3000 + 97 * i)}"))
        val lens = docs
          .select(size(split(col("text"), " ")).cast("int")).as[Int].collect()
        val dcount = docs.count()
        var zd: DataFrame = null
        buildRow(s"zipf500-tables-build ${k500}x") {
          zipfCorpus(spark, dcount * k500, lens)
            .write.mode("overwrite").parquet(s"$base/zipfdocs_${k500}x.parquet")
          zd = spark.read.parquet(s"$base/zipfdocs_${k500}x.parquet")
          zd.count()
        }
        var zemb: DataFrame = null
        buildRow(s"zipf500-emb-build ${k500}x") {
          // 2 of every 5 docs carry a vector -> 1M vectors over 2.5M docs
          // (the word-soup decade's exact vector-side cardinality)
          zd.filter(pmod(col("doc_id"), lit(5)) < 2)
            .select(col("doc_id").as("vec_id"),
              embed.Embedder.deterministicEmbed(col("text"), 64)
                .as("embedding"))
            .write.mode("overwrite").parquet(s"$base/zipfemb_${k500}x.parquet")
          zemb = spark.read.parquet(s"$base/zipfemb_${k500}x.parquet")
          zemb.count()
        }
        buildRow(s"bm25-store-write-zipf500 ${k500}x")(
          bm25StoreWrite(zd, s"$base/bm25_zipf_${k500}x",
            operators.Bm25.DefaultTermBuckets))
        val zix = bm25StoredProbe(s"$base/bm25_zipf_${k500}x")
        servedRow(s"e2e-batch20-stored-zipf500 ${k500}x", 20)(
          e2e20Stored(zd, zemb, zix, Some(zipfE2eBatch)))
        servedRow(s"e2e-batch20-stored-stages-zipf500 ${k500}x", 20)(
          e2e20StoredStages(zd, zemb, zix, Some(zipfE2eBatch)))
        // the retrieval family at the same decade (r18): the word-soup
        // 500x boolean/phrase/rm3 rows are the adversarial bound (every
        // term matches ~every doc, 62-72 s); these are the realistic-
        // vocabulary twins over the same 2.5M-doc corpus and stores
        val zipfBool500: Seq[(Long, String)] = (0 until 20).map(i =>
          ((i + 1).toLong,
            s"(${zterm(10 + i)} OR ${zterm(300 + 11 * i)}) AND " +
              s"${zterm(50 + 3 * i)} NOT ${zterm(1000 + 31 * i)}"))
        val zipfPhrase500: Seq[(Long, String)] = (0 until 20).map(i =>
          ((i + 1).toLong, s"${zterm(3 + i)} ${zterm(30 + 2 * i)}"))
        servedRow(s"rm3-batch20-stored-zipf500 ${k500}x", 20)(
          operators.Rm3.rm3TopKBatch(zix, spark, zipfE2eBatch, 20).count())
        servedRow(s"boolean-batch20-stored-zipf500 ${k500}x", 20)(
          operators.BooleanSearch.booleanTopKBatch(zix, spark,
            zipfBool500, 20).count())
        buildRow(s"posix-build-zipf500 ${k500}x") {
          operators.PositionalIndex.write(
            operators.PositionalIndex.build(zd, "doc_id", "text"),
            s"$base/posix_zipf_${k500}x")
          operators.PositionalIndex.read(spark, s"$base/posix_zipf_${k500}x")
            .corpusSize
        }
        servedRow(s"phrase-batch20-stored-zipf500 ${k500}x", 20)(
          operators.PositionalIndex.phraseTopKBatch(
            operators.PositionalIndex.read(spark,
              s"$base/posix_zipf_${k500}x"),
            zipfPhrase500, 20).count())
      }
    }

    // ── r15: at-rest BM25 store APPEND — a FIXED 500-doc batch against
    //    the 1x/20x/100x stores. Claim: cost tracks the BATCH (one new
    //    segment + vocab-sized idf rewrite), not the store. Each append
    //    commits a new version, so the serving rows above keep the
    //    one-segment version they opened; the rows run last so they time
    //    the append onto the store the write rows made, and a filtered
    //    run must include bm25-store-write. ──
    def bm25StoreAppend(tag: String): Long = {
      val batch = docs.limit(500).select(
        (col("doc_id") + lit(1950000000L)).as("doc_id"), col("text"))
      operators.Bm25.appendIndexStore(spark, s"$base/bm25_$tag", batch,
        "doc_id", "text")
      500L
    }
    secs(s"bm25-store-append 1x")(bm25StoreAppend("1x"))
    secs(s"bm25-store-append ${kDocs}x")(bm25StoreAppend(s"${kDocs}x"))
    secs(s"bm25-store-append ${k100}x")(bm25StoreAppend(s"${k100}x"))
    spark.stop()
  }
}
