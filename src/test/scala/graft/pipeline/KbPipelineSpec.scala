package graft.pipeline

import graft.SparkSpec
import graft.config.KbConfig
import graft.embed.Embedder
import org.apache.spark.sql.functions._

class KbPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "spark joins and filters run fast on columnar data", "a", 0),
    (2L, "window functions rank rows within partitions", "a", 1),
    (3L, "the quick brown fox jumps over the lazy dog", "a", 2),
    (4L, "broadcast joins avoid shuffles for small tables", "b", 0),
    (5L, "cats and dogs are common household pets", "b", 1))
    .toDF("doc_id", "text", "sourcedoc", "sid")

  private def embeddings = {
    // embed the corpus texts with the SAME deterministic provider the query
    // side uses, so query("...") genuinely ranks semantically-keyed vectors
    val p = Embedder.Deterministic(16)
    val texts = corpus.select("doc_id", "text").as[(Long, String)].collect()
    texts.map { case (id, t) => (id, p.embedBatch(Seq(t)).head) }
      .toSeq.toDF("doc_id", "embedding")
  }

  test("e2e oracle's pinned enhanced-query literal matches live Enhancement") {
    import graft.queries.EngineQueries
    val live = spark.range(1)
      .select(graft.query.Enhancement.enhance(lit(EngineQueries.E2eQueryText)))
      .first().getString(0)
    assert(live == EngineQueries.E2eEnhancedQuery,
      s"enhancement drifted; update E2eEnhancedQuery to: $live")
    val live2 = spark.range(1)
      .select(graft.query.Enhancement.enhance(lit(EngineQueries.E2eQueryText2)))
      .first().getString(0)
    assert(live2 == EngineQueries.E2eEnhancedQuery2,
      s"enhancement drifted; update E2eEnhancedQuery2 to: $live2")
  }

  test("all 20 pinned batch enhancements match live Enhancement output") {
    import graft.queries.EngineQueries
    val texts = EngineQueries.E2eBatch20.map(_._1)
    val lives = spark.createDataset(texts)(org.apache.spark.sql.Encoders.STRING)
      .select(graft.query.Enhancement.enhance(col("value")))
      .collect().map(_.getString(0))
    EngineQueries.E2eBatch20.zip(lives).foreach { case ((t, pinned), live) =>
      assert(live == pinned, s"enhancement drifted for '$t'; update pin to: $live")
    }
  }

  test("full query lifecycle returns ranked hits and formatted context") {
    val cfg = KbConfig(vectorDimensions = 16, queryTopK = 5, rerankingTopK = 3,
      queryContextScope = 1)
    val res = KbPipeline.query(spark, corpus, embeddings,
      "fast spark joins  and filters!!", cfg)
    val hits = res.hits.select("doc_id", "final_rank").as[(Long, Int)].collect().toMap
    assert(hits.nonEmpty)
    // doc 1 shares the most query terms — the lexical rerank must put it first
    assert(hits.map(_.swap).get(1).contains(1L), s"expected doc 1 first, got $hits")
    assert(res.formatted.startsWith("<references>"))
    assert(res.formatted.contains("spark joins and filters"))
    // context includes neighbors of the hit chunk (scope 1)
    val ctx = res.context.select("doc_id").as[Long].collect().toSet
    assert(ctx.contains(2L), "sid neighbor of hit chunk missing from context")
  }

  test("IVF vector stage (index_type=ivf, full probe) == exact pipeline, single and batch") {
    import graft.operators.VectorSearch
    val cfg = KbConfig(vectorDimensions = 16, queryTopK = 5, rerankingTopK = 3)
    val ivfCfg = cfg.copy(indexType = "ivf", ivfNprobe = 2) // == ncentroids
    val index = VectorSearch.buildIvf(embeddings, "doc_id", "embedding", nCentroids = 2)
    val q = "fast spark joins  and filters!!"

    val exact = KbPipeline.query(spark, corpus, embeddings, q, cfg)
      .hits.select("doc_id", "final_rank").as[(Long, Int)].collect().toSet
    val viaIvf = KbPipeline.query(spark, corpus, embeddings, q, ivfCfg,
        serving = VectorSearch.Serving.Ivf(index))
      .hits.select("doc_id", "final_rank").as[(Long, Int)].collect().toSet
    assert(viaIvf == exact, "full-probe IVF must equal the exact pipeline")

    val qs = Seq(1L -> q, 2L -> "window functions rank rows")
    val exactB = KbPipeline.queryBatch(spark, corpus, embeddings, qs, cfg)
      .select("query_id", "doc_id", "final_rank").as[(Long, Long, Int)].collect().toSet
    val viaIvfB = KbPipeline.queryBatch(spark, corpus, embeddings, qs, ivfCfg,
        serving = VectorSearch.Serving.Ivf(index))
      .select("query_id", "doc_id", "final_rank").as[(Long, Long, Int)].collect().toSet
    assert(viaIvfB == exactB, "full-probe IVF batch must equal the exact batch")

    // a KEYED index serves the Ivf tier in process (guarded broadcast) —
    // hits must equal the keyless distributed probe/scan, single and batch
    val keyedIx = index.copy(cacheKey = Some("spec|ivf-pipe"))
    val viaKeyed = KbPipeline.query(spark, corpus, embeddings, q, ivfCfg,
        serving = VectorSearch.Serving.Ivf(keyedIx))
      .hits.select("doc_id", "final_rank").as[(Long, Int)].collect().toSet
    assert(viaKeyed == exact, "keyed in-process IVF must equal the distributed IVF pipeline")
    val viaKeyedB = KbPipeline.queryBatch(spark, corpus, embeddings, qs, ivfCfg,
        serving = VectorSearch.Serving.Ivf(keyedIx))
      .select("query_id", "doc_id", "final_rank").as[(Long, Long, Int)].collect().toSet
    assert(viaKeyedB == exactB, "keyed in-process IVF batch must equal the distributed batch")

    // narrow probe still returns k rows per query (approximation trades
    // recall, not result shape); indexType="exact" ignores a supplied index
    val narrow = KbPipeline.query(spark, corpus, embeddings, q,
        ivfCfg.copy(ivfNprobe = 1), serving = VectorSearch.Serving.Ivf(index))
      .hits.select("doc_id").as[Long].collect()
    assert(narrow.nonEmpty && narrow.length <= 5)
    val ignored = KbPipeline.query(spark, corpus, embeddings, q,
        cfg, serving = VectorSearch.Serving.Ivf(index)) // indexType defaults to "exact"
      .hits.select("doc_id", "final_rank").as[(Long, Int)].collect().toSet
    assert(ignored == exact)
  }

  test("serving dispatch: IvfPq and Graph tiers serve the e2e path (plan shape + full-coverage == exact)") {
    import graft.operators.VectorSearch
    import VectorSearch.Serving
    val cfg = KbConfig(vectorDimensions = 16, queryTopK = 5, rerankingTopK = 3)
    val q = "fast spark joins  and filters!!"
    val exact = KbPipeline.query(spark, corpus, embeddings, q, cfg)
      .hits.select("doc_id", "final_rank").as[(Long, Int)].collect().toSet

    // IVFPQ: seeded 2-centroid coarse quantizer, 2×(4-codeword) codebook.
    // Full probe + shortlist covering the whole corpus → the exact re-rank
    // sees every row, so hits MUST equal the exact pipeline.
    val centSeq = embeddings.filter(col("doc_id") <= 2)
      .select(col("doc_id"), col("embedding")).collect()
      .map(r => ((r.getLong(0) - 1).toInt, r.getSeq[Float](1))).sortBy(_._1).toSeq
    val assigned = VectorSearch.seededIvfAssign(embeddings, "doc_id", "embedding", centSeq)
    val cb = VectorSearch.seededPqCodebook(embeddings, "doc_id", "embedding",
      seedIds = 1L to 4L, m = 2)
    val ivfIx = VectorSearch.IvfIndex(assigned,
      centSeq.map(_._2.toArray).toArray, "doc_id", "embedding")
    val pqServing = Serving.IvfPq(ivfIx, cb,
      VectorSearch.pqEncode(assigned, "doc_id", "embedding", cb), shortlist = 10)
    val pqCfg = cfg.copy(indexType = "ivfpq", ivfNprobe = 2)
    val viaPq = KbPipeline.query(spark, corpus, embeddings, q, pqCfg, serving = pqServing)
    assert(viaPq.hits.queryExecution.analyzed.toString.contains("codes"),
      "IvfPq serving must route the vector stage through the PQ codes column")
    assert(viaPq.hits.select("doc_id", "final_rank").as[(Long, Int)].collect().toSet == exact,
      "full-probe full-shortlist IVFPQ must equal the exact pipeline")

    // Graph: 5 nodes → one long-link block (blockSize 32) makes the graph
    // complete, so one hop at beam ≥ corpus reaches every node → == exact.
    val g = VectorSearch.knnGraph(embeddings, "doc_id", "embedding", k = 3)
    val gServing = Serving.Graph(g, beam = 8, hops = 2, entryIds = Seq(1L))
    val viaGraph = KbPipeline.query(spark, corpus, embeddings, q,
      cfg.copy(indexType = "graph"), serving = gServing)
    // under the in-memory serving guard (graft.operators.Resident) the beam
    // search runs inside a MapPartitions closure — the edges don't appear
    // as plan columns; above the guard the distributed hop joins carry
    // the `dst` edge column. Either marker proves the graph tier served.
    val graphPlan = viaGraph.hits.queryExecution.analyzed.toString
    assert(graphPlan.contains("dst") || graphPlan.contains("MapPartitions"),
      "Graph serving must route the vector stage through the graph tier " +
        "(distributed hop joins or the in-process beam search)")
    assert(viaGraph.hits.select("doc_id", "final_rank").as[(Long, Int)].collect().toSet == exact,
      "full-beam complete-graph search must equal the exact pipeline")

    // GraphDeduped — the duplicate-robust DEFAULT graph tier: reps graph +
    // copy expansion. Full coverage on the tiny corpus → == exact, and the
    // plan must route through the representative-expansion join.
    val gdServing = Serving.GraphDeduped(cacheKey = "spec|gd", kGraph = 3,
      beam = 8, hops = 2, nEntries = 2)
    val viaGd = KbPipeline.query(spark, corpus, embeddings, q,
      cfg.copy(indexType = "graph"), serving = gdServing)
    assert(viaGd.hits.queryExecution.analyzed.toString.contains("_rep"),
      "GraphDeduped serving must route through the representative expansion")
    assert(viaGd.hits.select("doc_id", "final_rank").as[(Long, Int)].collect().toSet == exact,
      "full-coverage deduped graph search must equal the exact pipeline")

    // batch == single under all three ANN tiers (the parity contract the
    // Flat tier already carries below)
    val qs = Seq(1L -> q, 2L -> "window functions rank rows")
    Seq(("ivfpq", pqCfg, pqServing), ("graph", cfg.copy(indexType = "graph"), gServing),
        ("graphdedup", cfg.copy(indexType = "graph"), gdServing))
      .foreach { case (tier, c, srv) =>
        val batch = KbPipeline.queryBatch(spark, corpus, embeddings, qs, c, serving = srv)
          .select("query_id", "doc_id", "final_rank").as[(Long, Long, Int)].collect().toSet
        val singles = qs.flatMap { case (qid, qq) =>
          KbPipeline.query(spark, corpus, embeddings, qq, c, serving = srv)
            .hits.select("doc_id", "final_rank").as[(Long, Int)].collect()
            .map { case (d, r) => (qid, d, r) }
        }.toSet
        assert(batch == singles, s"$tier: batch hits != per-query single hits")
      }

    // indexType="exact" ignores ANY supplied serving index
    val killed = KbPipeline.query(spark, corpus, embeddings, q, cfg, serving = pqServing)
      .hits.select("doc_id", "final_rank").as[(Long, Int)].collect().toSet
    assert(killed == exact)
  }

  test("queryBatch hits == per-query query() hits, column for column") {
    val cfg = KbConfig(vectorDimensions = 16, queryTopK = 5, rerankingTopK = 3)
    val qs = Seq(1L -> "fast spark joins  and filters!!",
      2L -> "window functions rank rows", 3L -> "household pets")
    val batch = KbPipeline.queryBatch(spark, corpus, embeddings, qs, cfg)
      .select("query_id", "doc_id", "final_rank", "score", "rerank_score")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getDouble(3), Option(r.get(4)))).toMap
    qs.foreach { case (qid, q) =>
      val single = KbPipeline.query(spark, corpus, embeddings, q, cfg)
        .hits.select("doc_id", "final_rank", "score", "rerank_score")
        .collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2), Option(r.get(3)))).toMap
      assert(single.nonEmpty, s"query $qid returned nothing")
      assert(single.keySet == batch.keySet.collect { case (`qid`, d) => d },
        s"query $qid hit sets differ")
      single.foreach { case (d, v) =>
        assert(batch((qid, d)) == v, s"query $qid doc $d: ${batch((qid, d))} != $v")
      }
    }
  }

  test("corpusKey in-process flat serving == keyless distributed pipeline, single and batch") {
    val cfg = KbConfig(vectorDimensions = 16, queryTopK = 5, rerankingTopK = 3)
    val qs = Seq(1L -> "fast spark joins  and filters!!",
      2L -> "window functions rank rows", 3L -> "household pets")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "doc_id", "final_rank", "score", "rerank_score")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3),
        Option(r.get(4)))).sortBy(t => (t._1, t._3)).toSeq
    val keyed = rows(KbPipeline.queryBatch(spark, corpus, embeddings, qs, cfg,
      corpusKey = Some("spec|inproc-flat")))
    val keyless = rows(KbPipeline.queryBatch(spark, corpus, embeddings, qs, cfg))
    assert(keyed == keyless)
    val s1 = KbPipeline.query(spark, corpus, embeddings, qs.head._2, cfg,
        corpusKey = Some("spec|inproc-flat"))
      .hits.select("doc_id", "final_rank", "score").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sortBy(_._2).toSeq
    val s0 = KbPipeline.query(spark, corpus, embeddings, qs.head._2, cfg)
      .hits.select("doc_id", "final_rank", "score").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sortBy(_._2).toSeq
    assert(s1 == s0)
  }

  test("registry model dims: query vector matches embed()-written corpus vectors") {
    // vector_model=embed-small declares 1536 dims in the registry while
    // config says 64 — the embed() corpus and the query() vector must BOTH
    // resolve through the registry (1536-d), or cosine scores garbage
    val cfg = KbConfig(vectorModel = "embed-small", vectorDimensions = 64,
      queryTopK = 3, rerankingTopK = 3)
    val emptyCache = Seq.empty[(String, Seq[Float])].toDF("content_key", "embedding")
    val embedded = KbPipeline.embed(
        corpus.withColumnRenamed("text", "chunk_text"), "chunk_text", emptyCache, cfg)
      .embedded.select(col("doc_id"), col("embedding"))
    val dims = embedded.select(size(col("embedding"))).as[Int].collect().toSet
    assert(dims == Set(1536), s"registry dims must win at embed time, got $dims")
    val res = KbPipeline.query(spark, corpus, embedded, "household pets", cfg)
    val hits = res.hits.select("doc_id", "score").as[(Long, Double)].collect()
    assert(hits.nonEmpty && hits.forall(h => !h._2.isNaN),
      s"query embedder must match corpus dims, got $hits")
    // end-to-end sanity with 1536-d vectors live in the DAG: querying a
    // corpus sentence still ranks its own chunk first (BM25 + rerank)
    val self = KbPipeline.query(spark, corpus, embedded,
      corpus.filter(col("doc_id") === 5L).select("text").as[String].head(), cfg)
    assert(self.hits.orderBy("final_rank").select("doc_id").as[Long].collect().head == 5L)
  }

  test("hybrid off degrades to pure vector search; rerank off keeps fusion order") {
    val cfg = KbConfig(vectorDimensions = 16, enableHybridSearch = false,
      enableReranking = false, queryTopK = 3)
    val res = KbPipeline.query(spark, corpus, embeddings, "household pets", cfg)
    assert(res.hits.count() == 3)
    assert(res.hits.columns.contains("score"))
  }

  test("category filter restricts hits (array_contains, not LIKE)") {
    val tagged = corpus.withColumn("categories",
      when(col("doc_id") <= 2, array(lit("tech"), lit("spark")))
        .otherwise(array(lit("animals"))))
    val cfg = KbConfig(vectorDimensions = 16, queryTopK = 5)
    val res = KbPipeline.query(spark, tagged, embeddings,
      "spark", cfg, categoryFilter = Seq("animals"))
    val ids = res.hits.select("doc_id").as[Long].collect().toSet
    assert(ids.subsetOf(Set(3L, 4L, 5L)), s"category filter leaked: $ids")
  }

  test("config knobs actually change behavior: k1/b, fusion method, adaptive scope") {
    import graft.operators.Bm25
    val docs = corpus.select(col("doc_id"), col("text"))
    val defaultScores = Bm25.scoreQuery(docs, "doc_id", "text", "spark joins")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val tunedScores = Bm25.scoreQuery(docs, "doc_id", "text", "spark joins",
        k1 = 2.0, b = 0.2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(defaultScores.keySet == tunedScores.keySet)
    assert(defaultScores.exists { case (k, v) => math.abs(v - tunedScores(k)) > 1e-9 },
      "k1/b must change scores")

    val cfgW = KbConfig(vectorDimensions = 16, fusionMethod = "weighted",
      enableReranking = false, queryTopK = 5)
    val cfgR = cfgW.copy(fusionMethod = "rrf")
    val w = KbPipeline.query(spark, corpus, embeddings, "spark joins", cfgW)
      .hits.select("doc_id", "score").as[(Long, Double)].collect().toMap
    val r = KbPipeline.query(spark, corpus, embeddings, "spark joins", cfgR)
      .hits.select("doc_id", "score").as[(Long, Double)].collect().toMap
    assert(w.nonEmpty && r.nonEmpty && w != r, "fusion method must change scores")

    // adaptive scope: rrf-fused scores sit far below the 0.6 similarity
    // threshold (reference quirk preserved: the FUSED score is compared),
    // so scope 4 halves to 2 — context per hit spans at most 5 chunks
    val cfgA = KbConfig(vectorDimensions = 16, queryTopK = 1, queryContextScope = 4)
    val res = KbPipeline.query(spark, corpus, embeddings, "spark joins", cfgA)
    val perDoc = res.context.groupBy("sourcedoc").count()
      .as[(String, Long)].collect().toMap
    assert(perDoc.values.forall(_ <= 5), s"scope not halved: $perDoc")
  }

  test("database verb produces the canonical chunk schema") {
    val docs = Seq((1L, (1 to 300).map(i => s"tok$i").mkString(" "))).toDF("doc_id", "text")
    val out = KbPipeline.database(docs, KbConfig(dbMaxTokens = 100))
    assert(out.columns.toSet.contains("embedtext"))
    assert(out.columns.toSet.contains("bm25_tokens"))
    assert(out.count() > 1) // 300 tokens / (100-25) step -> several chunks
  }
}
