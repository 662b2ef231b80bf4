package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.KbConfig
import graft.embed.Embedder
import graft.functions.TextFunctions
import graft.operators.{Bm25, ContextWindow, Fusion, VectorSearch}
import graft.query.{Enhancement, Rerank}

/** The reference's three CLI verbs as Spark jobs (SURVEY §3, Appendix).
  *
  * `query` is the flagship lifecycle (§3.1): enhance → embed the query →
  * vector k-NN + BM25 → RRF fusion → category filter → rerank → context
  * expansion. The reference runs this as ~10 sequential engine hops
  * (SQLite, FAISS, NPZ, HTTP); here it is ONE DataFrame DAG that Catalyst
  * plans end-to-end — the hit set stays tiny (broadcast everywhere), the
  * only full-corpus passes are the vector scan and the postings semi-join.
  */
object KbPipeline {

  /** The ONE registry-resolution + retry-policy construction shared by
    * corpus embedding ([[embed]]) and query-time embedding
    * ([[query]]/[[queryBatch]]): query vectors must come from the same
    * provider (same dims) under the same transient-failure policy as the
    * corpus vectors they score against, and that sameness should be
    * structural, not three copies kept in sync by comment. Permanent
    * provider failures do pay the full backoff schedule
    * (`cfg.apiMaxRetries`) — the knob interactive callers tune down.
    */
  private def retryingEmbedder(cfg: KbConfig): Embedder.Retrying =
    Embedder.Retrying(
      graft.models.ModelRegistry.embedderFor(cfg.vectorModel, cfg.vectorDimensions),
      maxRetries = cfg.apiMaxRetries)

  /** §3.2 `database` verb: chunk raw documents into the canonical chunk
    * table (SURVEY §1.2 `docs` analogue).
    */
  def database(docs: DataFrame, cfg: KbConfig = KbConfig()): DataFrame =
    graft.ingest.Chunker.chunkDocuments(docs, "doc_id", "text",
        chunkSize = cfg.dbMaxTokens, overlap = cfg.dbMaxTokens / 4)
      .withColumn("embedtext", TextFunctions.cleanText(col("chunk_text")))
      // P6: drop chunks whose cleaned text is empty
      // (/root/reference/database/db_manager.py:630-633)
      .filter(length(col("embedtext")) > 0)
      .withColumn("bm25_tokens", TextFunctions.tokenizeBm25(col("chunk_text")))
      .withColumn("doc_length", size(array_distinct(col("bm25_tokens"))))
      .withColumn("language", TextFunctions.languageId(
        TextFunctions.tokenize(col("chunk_text"))))

  /** §3.3 `embed` verb: cache-aware embedding of chunk rows — provider
    * wrapped in the retry/backoff policy (M3), batch size from config (M2).
    */
  def embed(chunks: DataFrame, textCol: String, cache: DataFrame,
            cfg: KbConfig = KbConfig()): Embedder.CacheResult = {
    // provider routing through the model registry: `vector_model` resolves
    // canonical/alias/partial exactly like the reference's
    // get_canonical_model (model_manager.py:24-85); unknown names fail here,
    // at config time
    val provider = retryingEmbedder(cfg)
    // M2: provider-call batch sized from a token-count sample, capped by
    // the configured maximum (embed_manager.py:216-257)
    val planned = Embedder.planBatchSize(chunks, textCol, provider.model,
      maxBatchSize = cfg.embeddingBatchSize)
    Embedder.embedWithCache(chunks, textCol, cache, provider, batchSize = planned)
  }

  /** Search-hit schema: (doc_id, score, rank). `formatted` is lazy: the
    * context expansion and formatting run only when the caller consumes
    * the formatted string — on the driver with no job when the serving
    * rung held the hits and the resident chunk index, otherwise as one
    * collect of the bounded block rows. `context` stays the lazy
    * distributed expansion either way; a caller that only needs the hit
    * DataFrame never materializes it.
    */
  final class QueryResult(val hits: DataFrame, val context: DataFrame,
                          formattedThunk: () => String) {
    lazy val formatted: String = formattedThunk()
  }

  /** §3.1 `query` verb over a corpus with `(doc_id, text, sourcedoc, sid,
    * categories?)` chunks and `(doc_id, embedding)` vectors.
    *
    * @param categoryFilter  P3: restrict hits to chunks tagged with any of
    *                        these categories (exact `array_contains`, the
    *                        deliberate upgrade over the reference's LIKE)
    */
  /** @param serving  the vector-stage serving index — the artifacts for
    *                  whatever tier [[VectorSearch.chooseIndex]] selected
    *                  (flat scan / IVF probe / IVFPQ ADC+re-rank / graph
    *                  beam), honored iff `cfg.indexType != "exact"` (the
    *                  reference's policy output IS its serving index,
    *                  `query/search.py:207-231`; `index_type=exact` is the
    *                  kill-switch back to the full scan). Every tier keeps
    *                  the SAME rounded ranking contract, so exactness is
    *                  the only thing traded (nprobe from `cfg.ivfNprobe`).
    */
  def query(spark: SparkSession, chunks: DataFrame, embeddings: DataFrame,
            queryText: String, cfg: KbConfig = KbConfig(),
            categoryFilter: Seq[String] = Nil,
            bm25Index: Option[Bm25.Index] = None,
            serving: VectorSearch.Serving = VectorSearch.Serving.Flat,
            corpusKey: Option[String] = None,
            queryVecCacheDir: Option[String] = None): QueryResult = {

    // 1. enhancement (F6-F8) — constant-folded on the driver (no job, no
    //    codegen compile of the regex chain; Enhancement.enhanceValue)
    val enhanced = Enhancement.enhanceValue(spark, queryText)

    // 2. query embedding — the SAME registry resolution AND retry policy as
    //    embed(), so the query vector always matches the corpus vectors'
    //    dims (a registry model whose declared dims differ from config,
    //    e.g. vector_model=embed-small → 1536-d, would otherwise silently
    //    score garbage against a Deterministic(cfg.vectorDimensions) query
    //    vector) and a transient provider failure retries instead of
    //    aborting the query
    //    With `queryVecCacheDir`, the vector comes through the AT-REST
    //    query-embedding cache (keyed by the ENHANCED text — the same
    //    string the provider would see): a repeated query reads its row
    //    back instead of re-calling the provider
    //    (query/embedding.py:47-143; hit ≡ recompute is the m16 oracle)
    val qvec = queryVecCacheDir match {
      case Some(dir) => graft.query.QueryCache
        .embedQueryCached(spark, dir, enhanced, retryingEmbedder(cfg)).toSeq
      case None => retryingEmbedder(cfg).embedBatch(Seq(enhanced)).head.toSeq
    }

    // 3a. vector k-NN (T1). Every top-k boundary in the pipeline ranks on a
    //     ROUNDED score (cosine 6dp, BM25 4dp): raw float sums are
    //     partition-order-dependent in the last bits, and a boundary flip
    //     would cascade through fusion ranks — the same determinism choice
    //     the standalone t1/t2/j3 queries make, and what lets the WHOLE
    //     pipeline carry a value-exact DuckDB oracle (e2e_hybrid_query).
    //     ANN opt-in: with a serving index and indexType != "exact", the
    //     vector stage dispatches on the policy's tier; ranking stays the
    //     rounded form in every branch
    import graft.functions.VectorFunctions.{cosine, vecLit}
    def exactTop(side: DataFrame): DataFrame = side
      .select(col("doc_id"),
        round(cosine(col("embedding"), vecLit(qvec)), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(cfg.queryTopK)
    val effServing =
      if (cfg.indexType == "exact") VectorSearch.Serving.Flat else serving

    // the vector tier's top-k plan — built only when the fully in-process
    // rung below misses
    lazy val vtop: DataFrame = effServing match {
      case VectorSearch.Serving.Flat =>
        // with a corpus key the flat tier serves IN-PROCESS when the
        // corpus fits the guarded broadcast (VectorSearch.corpusInMemory):
        // zero jobs for the vector stage, identical rounded ranking
        // (spec-proved); keyless or over-limit callers keep the scan plan
        corpusKey.flatMap(ck =>
          VectorSearch.roundedTopKInProcess(embeddings, "doc_id", "embedding",
            Seq((0L, qvec.toArray)), cfg.queryTopK, scale = 6,
            cacheKey = Some(ck)).map(_.select(col("doc_id"), col("score"))))
          .getOrElse(exactTop(embeddings))
      case VectorSearch.Serving.Ivf(ix) =>
        // probed scan replaces the full corpus scan (partition-pruned at
        // rest when `assigned` is stored by cluster_id). A keyed index
        // under the broadcast guard serves in process: probe ranking stays
        // probeClusters (exact probeScan parity), scoring stays rounded
        VectorSearch.roundedIvfTopKInProcess(ix,
            Seq((0L, qvec.toArray,
              VectorSearch.probeClusters(ix, qvec, cfg.ivfNprobe))),
            cfg.queryTopK, scale = 6)
          .map(_.select(col("doc_id"), col("score")))
          .getOrElse(
            exactTop(VectorSearch.probeScan(ix, qvec, cfg.ivfNprobe)
              .select(col(ix.idCol).as("doc_id"), col(ix.vecCol).as("embedding"))))
      case VectorSearch.Serving.IvfPq(ix, cb, encoded, shortlist) =>
        // FAISS IVFPQ+refine: probe (expression-ranked — probeIdsExact),
        // ADC-score only the probed clusters' CODES (m int lookups/row,
        // not a dim-float scan), exact re-rank of the shortlist. A keyed
        // caller under the broadcast guard serves both stages from the
        // resident (cluster → codes+vectors) state with zero jobs
        // (ivfPqTopKValues — same probe list, ADC order, and rounded
        // refine contract); over the guard the partition-pruned
        // distributed plan below is the 100 TB path.
        val probes = VectorSearch.probeIdsExact(spark, ix.centroids, qvec, cfg.ivfNprobe)
        corpusKey.flatMap(ck =>
            VectorSearch.ivfPqTopKValues(encoded, ix.idCol, ix.vecCol, cb,
              qvec.toArray, probes, cfg.queryTopK, shortlist,
              cacheKey = Some(ck)))
          .map { vals =>
            import spark.implicits._
            vals.toDF("doc_id", "score")
          }
          .getOrElse {
            val enc = encoded.filter(col("cluster_id").isin(probes: _*))
              .select(col(ix.idCol).as("doc_id"), col(ix.vecCol).as("embedding"), col("codes"))
            val short = VectorSearch.pqAdcTopK(enc, "doc_id", "codes", cb, qvec, shortlist)
              .select("doc_id")
            exactTop(enc.join(short, Seq("doc_id"), "left_semi"))
          }
      case VectorSearch.Serving.Graph(g, beam, hops, entries) =>
        // HNSW-analogue beam search; graphSearch's output already carries
        // the rounded-6dp score contract
        import spark.implicits._
        val qDf = Seq((0L, qvec)).toDF("query_id", "qvec")
        VectorSearch.graphSearch(g, embeddings, "doc_id", "embedding",
            qDf, "query_id", "qvec", k = cfg.queryTopK,
            beam = math.max(beam, cfg.queryTopK), hops = hops, entryIds = entries)
          .select(col("doc_id"), col("score"))
      case VectorSearch.Serving.GraphDeduped(ck, kg, planes, beam, hops, nEnt) =>
        // duplicate-robust graph tier: search the unique-vector graph,
        // expand hits to copies (same rounded-6dp contract)
        import spark.implicits._
        val qDf = Seq((0L, qvec)).toDF("query_id", "qvec")
        VectorSearch.graphSearchDeduped(embeddings, "doc_id", "embedding",
            qDf, "query_id", "qvec", k = cfg.queryTopK, kGraph = kg,
            numPlanes = planes, beam = beam, hops = hops, nEntries = nEnt,
            cacheKey = Some(ck))
          .select(col("doc_id"), col("score"))
    }

    // 3-warm. the hit rows on the driver, with the resident chunks they
    //    were fetched from, when a serving rung answers:
    //    - FULLY in-process: vector top-k, BM25, RRF, text fetch, and the
    //      lexical rerank all value-computed driver-side when every serving
    //      cache is resident (see [[hitsInProcess]]) — zero jobs;
    //    - warm stitch: the vector TIER ran distributed (ANN tiers / cold
    //      corpus), but the stitching caches are resident: collect the
    //      ≤ topK tier rows (ONE job) and run fusion → text fetch → rerank
    //      driver-side through the same hitRowsFor core — 4 warm stitch
    //      jobs become 1. Guards mirror hitsInProcess.
    //    A miss keeps the distributed stitch below unchanged.
    val warm: Option[(Seq[HitRow], ResidentChunks)] =
      (if (effServing == VectorSearch.Serving.Flat)
        hitsInProcess(spark, chunks, embeddings, enhanced, qvec, cfg,
          categoryFilter, bm25Index, corpusKey)
      else None).orElse {
        if (categoryFilter.nonEmpty || !cfg.enableReranking ||
            (cfg.enableHybridSearch &&
              (cfg.fusionMethod == "weighted" || bm25Index.isEmpty))) None
        else for {
          ck <- corpusKey
          rc <- chunksInMemory(chunks, ck)
          kraw <- if (!cfg.enableHybridSearch) Some(Seq.empty[(Long, Double)])
                  else Bm25.scoreWithIndexValues(bm25Index.get, spark, enhanced,
                    cfg.bm25K1, cfg.bm25B)
        } yield {
          val vvals = vtop.select(col("doc_id").cast("long"),
              col("score").cast("double"))
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          (hitRowsFor(spark, cfg, enhanced, vvals, kraw, rc.byId)
            .take(cfg.queryTopK), rc)
        }
      }
    val hits = warm.map { case (rows, _) => hitFrame(spark, rows) }.getOrElse {
    // 3b. BM25 (A2/T2) — skipped when hybrid disabled (the reference's
    //     low-memory tier does the same, README.md:454-459); k1/b and the
    //     candidate cap come from config
    val hits0 =
      if (cfg.enableHybridSearch) {
        val scored = (bm25Index match {
          case Some(ix) => Bm25.scoreWithIndex(ix, spark, enhanced, cfg.bm25K1, cfg.bm25B)
          case None     => Bm25.scoreQuery(chunks, "doc_id", "text", enhanced, cfg.bm25K1, cfg.bm25B)
        }).select(col("doc_id"), round(col("score"), 4).as("score"))
        // top-min(candidateCap, k) in ONE TakeOrdered: both boundaries sort
        // by the same (rounded score, doc_id) key, so the top-k of the
        // top-cap equals the top-k directly — the cap→top-k two-step would
        // cost a second ordering stage for identical rows
        val ktop = scored.orderBy(col("score").desc, col("doc_id"))
          .limit(math.min(cfg.bm25MaxResults, cfg.queryTopK))
        // 3c. fusion: RRF default; legacy weighted merge behind the config
        //     switch (search.py:414-439 vs 350-411)
        if (cfg.fusionMethod == "weighted")
          Fusion.weighted(vtop, ktop, cfg.vectorWeight, cfg.bm25Weight)
        else
          Fusion.rrf(Seq(vtop, ktop)).withColumnRenamed("rrf_score", "score")
      } else vtop

    // 3d. category filter (P3) — semi-join shape on the tiny hit set
    val hits1 =
      if (categoryFilter.isEmpty) hits0
      else hits0.join(
        chunks.filter(arrays_overlap(col("categories"),
            lit(categoryFilter.toArray)))
          .select(col("doc_id")), "doc_id")

    // 3e. rerank head (M7/T4) with the deterministic lexical scorer. The
    // hit set is ≤ 2·topK rows — BROADCAST it against the corpus text
    // fetch so chunks never shuffles (the planner can't know hits1 is tiny
    // from the plan alone)
    val withText = broadcast(hits1).join(chunks.select(col("doc_id"), col("text"),
      col("sourcedoc"), col("sid")), "doc_id")
    if (cfg.enableReranking)
      Rerank.rerankHead(withText, "score", cfg.rerankingTopK,
        Rerank.scorerFor(cfg.rerankingModel)
          .scoreWithRetrieval(enhanced, col("text"), col("score")))
        .orderBy("final_rank").limit(cfg.queryTopK)
    else withText.orderBy(col("score").desc, col("doc_id")).limit(cfg.queryTopK)
    }

    // 5. context expansion (J2/W2) with the P5 adaptive scope: low-scoring
    //    hits get a halved window (similarity_threshold /
    //    low_similarity_scope_factor from config)
    val context = ContextWindow.expandScoped(chunks,
      hits.select(col("sourcedoc"), col("sid"),
        ContextWindow.adaptiveScope(col("score"), cfg.queryContextScope,
          cfg.similarityThreshold, cfg.lowSimilarityScopeFactor).as("_scope")))

    // 6-7. consecutive-run blocks and formatting, deferred until the
    //    caller reads `formatted`. Hit rows held on the driver over a
    //    resident chunk index expand, group and render there with no job —
    //    the same band, dedup, grouping and renderer as the distributed
    //    form; otherwise `context`'s block rows (≤ top-k · scope) are
    //    collected once and rendered by that same renderer
    import graft.format.Formatters
    new QueryResult(hits, context, () =>
      warm.flatMap { case (rows, rc) => rc.bySource.map { ix =>
        Formatters.render(Formatters.blockValues(ContextWindow.expandValues(ix,
          rows.map(r => (r._4, r._5.toLong,
            ContextWindow.adaptiveScopeValue(r._2, cfg.queryContextScope,
              cfg.similarityThreshold, cfg.lowSimilarityScopeFactor))))),
          cfg.referenceFormat)
      } }.getOrElse(
        Formatters.document(Formatters.blocks(context, "text"), cfg.referenceFormat)))
  }

  /** A driver-side hit row: `(doc_id, score, text, sourcedoc, sid,
    * rerank_score, final_rank)`, the hit DataFrame's columns.
    */
  private type HitRow = (Long, Double, String, String, Int, Option[Double], Int)

  private def hitFrame(spark: SparkSession, rows: Seq[HitRow]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "score", "text", "sourcedoc", "sid",
      "rerank_score", "final_rank")
  }

  /** The resident chunk table of the serving rung, from ONE guarded
    * collect: `byId` (id → (text, sourcedoc, sid)) serves the hit text
    * fetch; `bySource` (sourcedoc → (ascending sids, texts), the same
    * String instances) serves the context window. `bySource` is None when
    * the chunk set holds what the driver window does not replicate: a
    * null sourcedoc or text, a repeated (sourcedoc, sid), or a sourcedoc /
    * sid type other than string / int / bigint.
    */
  private final case class ResidentChunks(
      byId: Map[Long, (String, String, Int)],
      bySource: Option[Map[String, (Array[Long], Array[String])]])

  /** Guarded in-memory chunk rows for the serving fast path — the
    * reference's resident SQLite chunk store (`query/search.py:207-231`
    * fetches hit text by id and context by `(sourcedoc, sid)` range from
    * the open connection, not a table scan). LIMIT-bounded row guard,
    * memoized per (session, key); None over the limit or when a sid is
    * null (a hit row cannot carry it) — the broadcast joins are the
    * 100 TB path either way.
    */
  private val chunkMapMemo = new graft.operators.SessionMemo[Option[ResidentChunks]]
  private def chunksInMemory(chunks: DataFrame, key: String,
                             maxRows: Int = 200000): Option[ResidentChunks] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    chunkMapMemo.getOrBuild(spark, s"$key|lim=$maxRows") {
      // maintained kbs key chunks by STRING ids (sourcedoc#sid) — the
      // Long-keyed resident map can't hold them (and the ANSI cast would
      // throw); those serve through the distributed text-fetch join
      val idType = chunks.schema("doc_id").dataType
      val sel = chunks.select(col("doc_id").cast("long"), col("text"),
        col("sourcedoc"), col("sid").cast("int"))
      if ((idType != LongType && idType != IntegerType) ||
          sel.limit(maxRows + 1).count() > maxRows) None
      else {
        val rows = sel.as[(Option[Long], String, String, Option[Int])].collect()
        if (rows.exists(_._4.isEmpty)) None
        else {
          // a null id never matches the text-fetch join, but its chunk
          // still lies in a context band
          val byId = rows.collect { case (Some(id), t, sd, Some(si)) =>
            id -> ((t, sd, si)) }.toMap
          val keyTypes = chunks.schema("sourcedoc").dataType == StringType &&
            Seq(IntegerType, LongType).contains(chunks.schema("sid").dataType)
          val bySource =
            if (!keyTypes || rows.exists(r => r._2 == null || r._3 == null) ||
                rows.map(r => (r._3, r._4)).distinct.length != rows.length) None
            else Some(rows.groupBy(_._3).map { case (sd, rs) =>
              val asc = rs.sortBy(_._4.get)
              sd -> ((asc.map(_._4.get.toLong), asc.map(_._2)))
            })
          Some(ResidentChunks(byId, bySource))
        }
      }
    }
  }

  /** Fully in-process single-query hit serving: when the vector corpus
    * ([[VectorSearch.roundedTopKValues]]), the BM25 index
    * ([[Bm25.scoreWithIndexValues]]), and the chunk text map
    * ([[chunksInMemory]]) are ALL resident under the session's guarded
    * serving caches, every stage after embedding — rounded vector top-k,
    * BM25 scoring, RRF fusion, inner-join text fetch, head/tail lexical
    * rerank — is value-computed on the driver and the hit rows arrive
    * rank-ready with zero jobs, together with the resident chunks the
    * context window reads ([[query]] wraps the rows in ONE LocalRelation):
    * the reference's resident SQLite+FAISS+NPZ regime. Stage semantics replicate the distributed
    * plan operation for operation (rounded rank keys, set-semantics
    * Jaccard, the rerankHead head/tail contract); InProcessPipelineSpec
    * pins warm == distributed column for column. None — any cache miss, a
    * category filter, weighted fusion, hybrid-without-index, or rerank
    * off — keeps the caller on the distributed DAG; the 100 TB path is
    * unchanged.
    */
  private def hitsInProcess(spark: SparkSession, chunks: DataFrame,
                            embeddings: DataFrame, enhanced: String,
                            qvec: Seq[Float], cfg: KbConfig,
                            categoryFilter: Seq[String],
                            bm25Index: Option[Bm25.Index],
                            corpusKey: Option[String])
      : Option[(Seq[HitRow], ResidentChunks)] = {
    if (categoryFilter.nonEmpty || !cfg.enableReranking) return None
    if (cfg.enableHybridSearch &&
        (cfg.fusionMethod == "weighted" || bm25Index.isEmpty)) return None
    for {
      ck <- corpusKey
      vtop <- VectorSearch.roundedTopKValues(embeddings, "doc_id", "embedding",
        qvec.toArray, cfg.queryTopK, scale = 6, cacheKey = Some(ck))
      kraw <- if (!cfg.enableHybridSearch) Some(Seq.empty[(Long, Double)])
              else Bm25.scoreWithIndexValues(bm25Index.get, spark, enhanced,
                cfg.bm25K1, cfg.bm25B)
      rc <- chunksInMemory(chunks, ck)
    } yield (hitRowsFor(spark, cfg, enhanced, vtop, kraw, rc.byId)
      .take(cfg.queryTopK), rc)
  }

  /** [[hitsInProcess]] for a BATCH: the same per-query driver computation
    * ([[hitRowsFor]]) looped over the driver-held query set against the
    * shared resident caches, emitted as one `(query_id, …)` LocalRelation —
    * value-identical to [[queryBatch]]'s distributed DAG because every
    * batch stage is per-query identical to the single-query form
    * (KbPipelineSpec pins batch ≡ single; InProcessPipelineSpec pins warm
    * single ≡ distributed single). Guards mirror [[hitsInProcess]]; an
    * absent prebuilt BM25 index falls back (the distributed path builds
    * one, which the warm path must not duplicate).
    */
  private def hitsBatchInProcess(spark: SparkSession, chunks: DataFrame,
                                 embeddings: DataFrame,
                                 qData: Seq[(Long, String, Array[Float])],
                                 cfg: KbConfig,
                                 bm25Index: Option[Bm25.Index],
                                 corpusKey: Option[String]): Option[DataFrame] = {
    if (!cfg.enableReranking) return None
    if (cfg.enableHybridSearch &&
        (cfg.fusionMethod == "weighted" || bm25Index.isEmpty)) return None
    // a duplicated query_id MERGES in the distributed batch (per-query_id
    // windows see both queries' rows) but would score independently here —
    // decline rather than diverge (same rule as Bm25.topKBatchInProcess)
    if (qData.map(_._1).distinct.size != qData.size) return None
    for {
      ck <- corpusKey
      rc <- chunksInMemory(chunks, ck)
      perQuery <- {
        val rows = qData.map { case (qid, enhanced, qv) =>
          for {
            vtop <- VectorSearch.roundedTopKValues(embeddings, "doc_id",
              "embedding", qv, cfg.queryTopK, scale = 6, cacheKey = Some(ck))
            kraw <- if (!cfg.enableHybridSearch) Some(Seq.empty[(Long, Double)])
                    else Bm25.scoreWithIndexValues(bm25Index.get, spark,
                      enhanced, cfg.bm25K1, cfg.bm25B)
          } yield hitRowsFor(spark, cfg, enhanced, vtop, kraw, rc.byId)
            .filter(_._7 <= cfg.queryTopK)
            .map(r => (qid, r._1, r._2, r._3, r._4, r._5, r._6, r._7))
        }
        if (rows.forall(_.isDefined)) Some(rows.flatMap(_.get)) else None
      }
    } yield {
      import spark.implicits._
      perQuery.toDF("query_id", "doc_id", "score", "text", "sourcedoc",
        "sid", "rerank_score", "final_rank")
    }
  }

  /** The per-query driver hit computation shared by [[hitsInProcess]] and
    * [[hitsBatchInProcess]]: RRF fusion of the (already rounded-6) vector
    * list with the rounded-4 BM25 list, inner-join text fetch from the
    * resident chunk map, and the rerankHead head/tail contract — rows in
    * final_rank order. Twin semantics, operation for operation:
    * [[Fusion.rrf]] (two addends — double sum order-exact),
    * [[graft.query.Rerank.lexicalScore]]'s set Jaccard (null text → 0.0,
    * the when(union > 0) null path), ranks tie-broken by doc_id.
    */
  private def hitRowsFor(spark: SparkSession, cfg: KbConfig, enhanced: String,
                         vtop: Seq[(Long, Double)], kraw: Seq[(Long, Double)],
                         cmap: Map[Long, (String, String, Int)])
      : Seq[HitRow] = {
    val hits0: Seq[(Long, Double)] =
      if (!cfg.enableHybridSearch) vtop
      else {
        val ktop = graft.operators.TopK.roundedHead(kraw,
          math.min(cfg.bm25MaxResults, cfg.queryTopK), scale = 4)
        def contribs(list: Seq[(Long, Double)]): Seq[(Long, Double)] =
          list.sortBy { case (id, s) => (-s, id) }.zipWithIndex
            .map { case ((id, _), i) => (id, 1.0 / (Fusion.RrfK.toDouble + (i + 1))) }
        (contribs(vtop) ++ contribs(ktop)).groupBy(_._1)
          .map { case (id, cs) => (id, cs.map(_._2).sum) }.toSeq
      }
    // text fetch: INNER-join semantics (ids absent from chunks drop)
    val wt = hits0.flatMap { case (id, s) =>
      cmap.get(id).map { case (t, sd, si) => (id, s, t, sd, si) } }
    val qToksOrdered = graft.functions.TextFunctions
      .tokenizeBm25Value(spark, enhanced)
    val qset = qToksOrdered.toSet
    // rung scorer mirrors the configured column scorer value-for-value:
    // lexical → set Jaccard (null text → 0.0, the when(union > 0) null
    // path); learned → LogisticScorer.scoreValue over the same token LIST
    // plus the hit's retrieval score (null text → the empty list, matching
    // featureColsQ's coalesce; the score arg matches scoreWithRetrieval's
    // col("score") in the column path; the query tokens stay ORDERED —
    // the proximity feature's bigrams depend on it)
    val jac: (String, Double) => Double =
      Rerank.scorerFor(cfg.rerankingModel) match {
        case m: Rerank.LogisticScorer =>
          (text, s) => m.scoreValue(qToksOrdered,
            if (text == null) Seq.empty
            else graft.functions.TextFunctions.tokenizeBm25Value(spark, text),
            s)
        case _ =>
          (text, _) =>
            if (text == null) 0.0
            else {
              val d = graft.functions.TextFunctions
                .tokenizeBm25Value(spark, text).toSet
              val union = (d union qset).size
              if (union > 0) (d intersect qset).size.toDouble / union else 0.0
            }
      }
    val topK = cfg.rerankingTopK
    val ranked = wt.sortBy { case (id, s, _, _, _) => (-s, id) }.zipWithIndex
      .map { case (r, i) => (r, i + 1) }
    val rescoredHead = ranked.filter(_._2 <= topK)
      .map { case ((id, s, t, sd, si), _) => (id, s, t, sd, si, jac(t, s)) }
      .sortBy { case (id, _, _, _, _, rs) => (-rs, id) }
      .zipWithIndex.map { case (r, i) => (r, i + 1) }
    val keptTail = ranked.filter(_._2 > topK)
    // final_rank: reranked head first (new_rank ≤ topK and non-null
    // rerank_score by construction), then the tail at its original ranks
    val ordered =
      rescoredHead.map { case ((id, s, t, sd, si, rs), nr) =>
        ((0, nr), (id, s, t, sd, si, Option(rs))) } ++
      keptTail.map { case ((id, s, t, sd, si), nr) =>
        ((1, nr), (id, s, t, sd, si, Option.empty[Double])) }
    ordered.sortBy(_._1).zipWithIndex
      .map { case ((_, r), i) => (r._1, r._2, r._3, r._4, r._5, r._6, i + 1) }
  }

  /** The FULL §3.1 lifecycle for a BATCH of queries in ONE DataFrame DAG —
    * the serving-throughput regime the reference cannot express (it loops
    * queries through sequential engine hops). Every stage is the batched
    * twin of [[query]]'s: per-query windows instead of global sorts, one
    * broadcast of the (tiny) query set, one pass over the corpus for the
    * vector side, one postings semi-join for BM25 — corpus work is shared
    * across the whole batch. Per-query results are IDENTICAL to
    * [[query]]'s (spec-asserted in KbPipelineSpec; same rounded rank keys).
    *
    * @return hits `(query_id, doc_id, score, text, sourcedoc, sid,
    *         rerank_score, final_rank)`, ≤ topK rows per query
    */
  def queryBatch(spark: SparkSession, chunks: DataFrame, embeddings: DataFrame,
                 queries: Seq[(Long, String)], cfg: KbConfig = KbConfig(),
                 bm25Index: Option[Bm25.Index] = None,
                 serving: VectorSearch.Serving = VectorSearch.Serving.Flat,
                 corpusKey: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byQ = Window.partitionBy("query_id")
    // 1-2. enhancement + embedding: driver-side per query (constant-folded;
    //      N queries are one small literal table). Registry-resolved AND
    //      retry-wrapped like embed() and query() so query/corpus dims
    //      always agree and transient provider failures don't abort the
    //      batch. Provider calls are batch-shaped but still subject to the
    //      SAME token-based batch planning as the corpus path (M2): a large
    //      query batch is split into provider-sized calls instead of one
    //      unbounded payload, and an empty batch issues no call at all.
    val enhancedTexts = queries.map { case (_, q) =>
      Enhancement.enhanceValue(spark, q) }
    val qVecs =
      if (enhancedTexts.isEmpty) Seq.empty[Array[Float]]
      else {
        val emb = retryingEmbedder(cfg)
        val bs = Embedder.optimalBatchSize(enhancedTexts.take(10),
          emb.model, cfg.embeddingBatchSize)
        enhancedTexts.grouped(bs).flatMap(emb.embedBatch).toSeq
      }
    val qData = queries.zip(enhancedTexts).zip(qVecs).map {
      case (((qid, _), e), qv) => (qid, e, qv)
    }

    // 3-warm. fully in-process batch serving (see [[hitsBatchInProcess]]):
    //    the whole batch answered driver-side against the resident caches,
    //    one LocalRelation, zero jobs; any miss keeps the distributed DAG
    val servedBatch: Option[DataFrame] =
      if ((if (cfg.indexType == "exact") VectorSearch.Serving.Flat
           else serving) == VectorSearch.Serving.Flat)
        hitsBatchInProcess(spark, chunks, embeddings, qData, cfg,
          bm25Index, corpusKey)
      else None
    servedBatch.getOrElse {
    val qRows = qData.map { case (qid, e, qv) =>
      org.apache.spark.sql.Row(qid, e, qv)
    }
    val qSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("qtext", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("qvec",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, containsNull = false))))
    val qDf = spark.createDataFrame(qRows.asJava, qSchema)

    // 3a. vector k-NN: one corpus pass scores all queries; rounded ranks.
    //     ANN opt-in (indexType != "exact" + a serving index): the vector
    //     stage dispatches on the policy's tier, every branch keyed so
    //     corpus rows join a BROADCAST per-query probe/frontier set instead
    //     of cross-joining every query against the whole corpus
    import spark.implicits._
    import graft.functions.VectorFunctions.cosine
    def topPerQuery(scored: DataFrame): DataFrame = scored
      .withColumn("_rk", row_number().over(byQ.orderBy(col("score").desc, col("doc_id"))))
      .filter(col("_rk") <= cfg.queryTopK).drop("_rk")
    def centroidProbes(centroids: Array[Array[Float]]): DataFrame = {
      val centDf = centroids.toIndexedSeq.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toDF("cid", "cv")
      qDf.select("query_id", "qvec").crossJoin(broadcast(centDf))
        .select(col("query_id"), col("qvec"), col("cid"),
          cosine(col("cv"), col("qvec")).as("cs"))
        .withColumn("_prn", row_number().over(byQ.orderBy(col("cs").desc, col("cid"))))
        .filter(col("_prn") <= cfg.ivfNprobe)
        .select(col("query_id"), col("qvec"), col("cid").as("cluster_id"))
    }
    val effServing =
      if (cfg.indexType == "exact") VectorSearch.Serving.Flat else serving
    val vtop = effServing match {
      case VectorSearch.Serving.Flat =>
        // in-process flat serving when keyed and under the broadcast guard
        // (query vectors are already driver-held): zero vector-stage jobs,
        // identical rounded ranking — see query()'s Flat branch
        corpusKey.flatMap(ck =>
          VectorSearch.roundedTopKInProcess(embeddings, "doc_id", "embedding",
            qData.map { case (qid, _, qv) => (qid, qv) }, cfg.queryTopK,
            scale = 6, cacheKey = Some(ck)))
          .getOrElse(
            topPerQuery(embeddings.crossJoin(broadcast(qDf.select("query_id", "qvec")))
              .select(col("query_id"), col("doc_id"),
                round(cosine(col("embedding"), col("qvec")), 6).as("score"))))
      case VectorSearch.Serving.Ivf(ix) =>
        // the ivfTopKBatch shape with the pipeline's rounded ranking; a
        // keyed index under the guard serves in process with the same
        // expression-ranked probes (probeIdsInMemory is the driver twin
        // of centroidProbes' cosine window)
        VectorSearch.roundedIvfTopKInProcess(ix,
            qData.map { case (qid, _, qv) =>
              (qid, qv, VectorSearch.probeIdsInMemory(ix.centroids, qv, cfg.ivfNprobe)) },
            cfg.queryTopK, scale = 6)
          .getOrElse(
            topPerQuery(ix.assigned.join(broadcast(centroidProbes(ix.centroids)), "cluster_id")
              .select(col("query_id"), col(ix.idCol).as("doc_id"),
                round(cosine(col(ix.vecCol), col("qvec")), 6).as("score"))))
      case VectorSearch.Serving.IvfPq(ix, cb, encoded, shortlist) =>
        // per-query ADC over the probed clusters' codes: each query's LUT
        // (m·k doubles, computed driver-side like its embedding) rides the
        // broadcast probe set; dist = PqAdcDistColsExpr — the codegen
        // sequential double accumulation, identical association order to
        // pqAdcTopK's literal-LUT expression and the DuckDB oracle (the
        // HOF zip_with/aggregate fold it replaces evaluated interpreted
        // per row)
        val luts = qData.map { case (qid, _, qv) =>
          (qid, VectorSearch.pqLut(cb, qv.toSeq).toSeq) }.toDF("query_id", "_lut")
        val probes = centroidProbes(ix.centroids).join(luts, "query_id")
        val enc = encoded.select(col(ix.idCol).as("doc_id"),
          col(ix.vecCol).as("embedding"), col("cluster_id"), col("codes"))
        val dist = graft.functions.FastFunctions.pqAdcDistCols(
          col("codes"), col("_lut"))
        val short = enc.join(broadcast(probes), "cluster_id")
          .select(col("query_id"), col("doc_id"), round(dist, 6).as("_dist"))
          .withColumn("_srk", row_number().over(byQ.orderBy(col("_dist").asc, col("doc_id"))))
          .filter(col("_srk") <= shortlist)
          .select("query_id", "doc_id")
        topPerQuery(short
          .join(enc.select("doc_id", "embedding"), "doc_id")
          .join(broadcast(qDf.select("query_id", "qvec")), "query_id")
          .select(col("query_id"), col("doc_id"),
            round(cosine(col("embedding"), col("qvec")), 6).as("score")))
      case VectorSearch.Serving.Graph(g, beam, hops, entries) =>
        VectorSearch.graphSearch(g, embeddings, "doc_id", "embedding",
            qDf.select("query_id", "qvec"), "query_id", "qvec",
            k = cfg.queryTopK, beam = math.max(beam, cfg.queryTopK),
            hops = hops, entryIds = entries)
          .select(col("query_id"), col("doc_id"), col("score"))
      case VectorSearch.Serving.GraphDeduped(ck, kg, planes, beam, hops, nEnt) =>
        VectorSearch.graphSearchDeduped(embeddings, "doc_id", "embedding",
            qDf.select("query_id", "qvec"), "query_id", "qvec",
            k = cfg.queryTopK, kGraph = kg, numPlanes = planes,
            beam = beam, hops = hops, nEntries = nEnt, cacheKey = Some(ck))
          .select(col("query_id"), col("doc_id"), col("score"))
    }

    // 3b-3c. BM25 batch + fusion
    val hits0 =
      if (cfg.enableHybridSearch) {
        val ix = bm25Index.getOrElse(
          Bm25.buildIndex(chunks, "doc_id", "text", persist = true))
        val ktopLimit = math.min(cfg.queryTopK, cfg.bm25MaxResults)
        // serving rung: a keyed index under the in-process guard scores the
        // driver-held enhanced queries in process and emits ONLY the
        // |queries|·k head rows (same rounded ranking as the window below —
        // identity spec-proved); over the guard or unkeyed, the distributed
        // batch DAG below is unchanged
        val ktop = Bm25.topKBatchInProcess(ix, spark,
            qData.map { case (qid, e, _) => (qid, e) }, ktopLimit,
            cfg.bm25K1, cfg.bm25B)
          .getOrElse {
            // the enhanced query strings are driver-held: their tokenized
            // union lets a term-bucketed at-rest index partition-prune the
            // postings scan for the whole batch (no-op in-memory)
            val batchTerms = Some(enhancedTexts.flatMap(t =>
              graft.functions.TextFunctions.tokenizeBm25Value(spark, t)).distinct)
            Bm25.scoreBatch(ix, qDf.select("query_id", "qtext"),
                "query_id", "qtext", cfg.bm25K1, cfg.bm25B, knownTerms = batchTerms)
              .select(col("query_id"), col("doc_id"), round(col("score"), 4).as("score"))
              .withColumn("_rk", row_number().over(byQ.orderBy(col("score").desc, col("doc_id"))))
              .filter(col("_rk") <= ktopLimit).drop("_rk")
          }
        if (cfg.fusionMethod == "weighted")
          Fusion.weightedBatch(vtop, ktop, cfg.vectorWeight, cfg.bm25Weight)
        else
          Fusion.rrfBatch(Seq(vtop, ktop)).withColumnRenamed("rrf_score", "score")
      } else vtop

    // 3e. rerank head per query with each query's OWN enhanced tokens
    val withText = hits0.join(chunks.select(col("doc_id"), col("text"),
        col("sourcedoc"), col("sid")), "doc_id")
      .join(broadcast(qDf.select("query_id", "qtext")), "query_id")
    val hits =
      if (cfg.enableReranking) {
        val qToks = graft.functions.TextFunctions.tokenizeBm25(col("qtext"))
        val scorer = Rerank.scorerFor(cfg.rerankingModel) match {
          case m: Rerank.LogisticScorer =>
            m.scoreCols(qToks, col("text"), col("score"))
          case _ => Rerank.lexicalScoreCols(qToks, col("text"))
        }
        Rerank.rerankHeadBatch(withText, "query_id", "score", cfg.rerankingTopK,
            scorer)
          .filter(col("final_rank") <= cfg.queryTopK)
      }
      else withText
        .withColumn("final_rank", row_number().over(byQ.orderBy(col("score").desc, col("doc_id"))))
        .filter(col("final_rank") <= cfg.queryTopK)
    hits.select(col("query_id"), col("doc_id"), col("score"), col("text"),
      col("sourcedoc"), col("sid"),
      (if (cfg.enableReranking) col("rerank_score") else lit(null).cast("double")).as("rerank_score"),
      col("final_rank"))
    }
  }

  private implicit class SeqAsJava[A](private val s: Seq[A]) extends AnyVal {
    def asJava: java.util.List[A] = {
      val l = new java.util.ArrayList[A](s.size)
      s.foreach(l.add)
      l
    }
  }
}
