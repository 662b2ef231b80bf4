package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.config.KbConfig
import graft.pipeline.{KbPipeline, Tuning}

/** The reference's CLI surface (SURVEY Appendix: `customkb <verb> ...`) as a
  * Spark application. A KB here is a directory of parquet tables
  * (`chunks/`, `embeddings/`, `cache/`, `bm25/`) — the reference's
  * `$VECTORDBS/<name>/` directory re-imagined for a cluster filesystem.
  *
  * Verbs:
  * {{{
  *   runMain graft.Main database <kbDir> <inputGlob> [cfg.ini]
  *   runMain graft.Main embed    <kbDir> [cfg.ini]
  *   runMain graft.Main bm25     <kbDir>
  *   runMain graft.Main query    <kbDir> "<query text>" [cfg.ini]
  *   runMain graft.Main optimize <kbDir>
  *   runMain graft.Main verify-indexes <kbDir>
  *   runMain graft.Main categorize <kbDir>
  *   runMain graft.Main convert-encoding <inputGlob> <outDir>
  *   runMain graft.Main edit <kbDir> [<key> <value>]
  * }}}
  * plus extension verbs dedup / components / knn / graph / pq / curate /
  * classify / select / export / tokenize (training-pipeline suite),
  * search (keyword, --phrase, --boolean, --snippets), eval (retrieval
  * metrics), and maintain (the streaming lifecycle).
  */
object Main {

  /** Explicit cfg path beats the KB's own `config.ini` (written by the
    * `edit` verb) beats defaults — the reference resolves its `.cfg` the
    * same way (nearest config wins).
    */
  private def loadCfg(args: Array[String], idx: Int, kb: String = ""): KbConfig = {
    def readFile(p: String): String =
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
    if (args.length > idx) KbConfig.load(readFile(args(idx)))
    else if (kb.nonEmpty && new java.io.File(s"$kb/config.ini").exists())
      KbConfig.load(readFile(s"$kb/config.ini"))
    else KbConfig.load()
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    try run(args, spark)
    finally spark.stop()
  }

  /** Dimensionality of an existing embeddings table, if any (M6 probe —
    * one row, not a scan).
    */
  private def storedDims(spark: SparkSession, path: String): Option[Int] =
    if (!graft.sources.KbStorage.pathExists(spark, path)) None
    else spark.read.parquet(path).select(size(col("embedding")))
      .take(1).headOption.map(_.getInt(0))

  /** M6: rewrite ONLY the `vector_dimensions` key in an existing KB
    * config.ini, preserving every other line verbatim — the reference's
    * `_update_cfg_value` (`embed_manager.py:748-756`) updates the single
    * key and returns without writing when no config file exists.
    */
  private[graft] def syncDimsKey(path: String, dims: Int): Unit =
    syncCfgKey(path, "vector_dimensions", dims.toString)

  /** Rewrite ONE key in an existing KB config.ini, preserving every other
    * line verbatim (the reference's `_update_cfg_value`); no-op when the KB
    * has no config file of its own.
    */
  private[graft] def syncCfgKey(path: String, key: String, value: String): Unit = {
    val f = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(f)) return
    val text = new String(java.nio.file.Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.UTF_8)
    val keyLine = s"(?m)^\\s*$key\\s*=.*$$".r
    val updated =
      if (keyLine.findFirstIn(text).isDefined)
        keyLine.replaceAllIn(text, s"$key = $value")
      else text.stripLineEnd + s"\n$key = $value\n"
    java.nio.file.Files.write(f,
      updated.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  /** The serving chunk table for a kb (verdict r18 #8): the batch-built
    * `chunks/` artifact when present; otherwise — for a `maintain`-built
    * kb — chunks derived on the fly from [[graft.streaming.StreamingIngest.lakeCurrent]],
    * the audited CURRENT view of the append-only lake. Reading THROUGH
    * the view is what gives serving the reference's AFTER-UPDATE trigger
    * semantics (`migrations.py:253-283`): a re-ingested document with
    * changed content serves its LATEST committed text, with the sticky
    * `created_at` / bumped `updated_at` columns riding on every chunk
    * row. Chunk ids reproduce the maintenance lifecycle's
    * `sourcedoc#sid` form with the same config-resolved geometry, so
    * they line up with the versioned BM25 store and the maintained
    * embeddings table.
    */
  private def servingChunks(spark: SparkSession, kb: String,
                            cfg: KbConfig): Option[org.apache.spark.sql.DataFrame] =
    if (graft.sources.KbStorage.pathExists(spark, s"$kb/chunks"))
      Some(spark.read.parquet(s"$kb/chunks")
        .withColumnRenamed("chunk_text", "text"))
    else if (graft.sources.KbStorage.pathExists(spark, s"$kb/lake"))
      Some(graft.streaming.StreamingIngest.lakeCurrent(spark, kb)
        .select(col("doc_id").as("sourcedoc"), col("created_at"),
          col("updated_at"),
          explode(graft.ingest.Chunker.chunks(col("text"),
            cfg.dbMaxTokens, cfg.dbMaxTokens / 4)).as("c"))
        .select(concat(col("sourcedoc"), lit("#"), col("c.sid")).as("doc_id"),
          col("sourcedoc"), col("c.sid").as("sid"),
          col("c.chunk_text").as("text"),
          col("created_at"), col("updated_at")))
    else None

  /** The stored BM25 index the serving verbs read: the batch-built
    * `kb/bm25` store wins; otherwise the current version of a
    * `maintain`-built store, so a stream-maintained kb serves without a
    * separate batch `bm25` run.
    */
  private def storedBm25(spark: SparkSession,
                         kb: String): Option[graft.operators.Bm25.Index] =
    (if (graft.sources.KbStorage.pathExists(spark, s"$kb/bm25")) Some(s"$kb/bm25")
     else graft.streaming.StreamingIngest.currentIndexPath(kb))
      .map(graft.operators.Bm25.readIndex(spark, _))

  /** The serving embeddings table: maintained kbs key vectors by
    * `chunk_id` (the lifecycle's append-only artifact) — adapt to the
    * pipeline's `doc_id` convention.
    */
  private def servingEmbeddings(spark: SparkSession,
                                kb: String): org.apache.spark.sql.DataFrame = {
    val emb = spark.read.parquet(s"$kb/embeddings")
    if (emb.columns.contains("chunk_id"))
      emb.select(col("chunk_id").as("doc_id"), col("embedding"))
    else emb
  }

  /** The per-file inventory of `embeddings` ([[graft.operators.PathInventory]])
    * that the `ivf` verb recorded when it last built or extended the store
    * at `storeDir`. None when the store records none, or an empty one: such
    * a store is unattested, and both the `ivf` and the `query` verb rebuild
    * instead of serving it.
    */
  private def ivfSource(spark: SparkSession,
                        storeDir: String): Option[Set[(String, Long, Long)]] =
    scala.util.Try(
      spark.read.parquet(s"$storeDir/meta_inventory")
        .select("file", "mtime", "length").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet)
      .toOption.filter(_.nonEmpty)

  private[graft] val Version = "0.9.0"

  private[graft] val Usage: String =
    """usage: graft.Main <verb> ...
      |  database <kbDir> <inputGlob> [cfg.ini] [--force]   ingest + chunk (incremental)
      |  embed    <kbDir> [cfg.ini]               embed chunks (cache-aware)
      |  bm25     <kbDir> [--positions [--relayout]]  build the BM25 (+ positional) index / migrate its layout
      |  search   <kbDir> "<text>" [k] [--phrase|--boolean] [--snippets]   keyword search
      |  query    <kbDir> "<text>" [cfg.ini] [--context-only]   hybrid retrieval (+answer)
      |  tune     <kbDir> [target] [cfg.ini]      calibrate ANN knobs to a recall target
      |  optimize <kbDir>                         storage layout tuning
      |  verify-indexes <kbDir>                   index consistency checks
      |  categorize <kbDir>                       LLM-shaped categorization
      |  convert-encoding <inputGlob> <outDir>    legacy files -> UTF-8
      |  edit <kbDir> [<key> <value>]             show/set config.ini
      |  ivf      <kbDir> [nCentroids]            build + persist the IVF index at rest
      |  dedup | components | knn | graph | pq | curate   training-pipeline suite
      |  classify <kbDir> [labelCol]              NB domain classifier (train/held-out)
      |  maintain <kbDir> <inputGlob>             streaming lifecycle: dedup -> chunk -> embed -> index
      |  select   <kbDir> <targetGlob> [n]        DSIR importance selection vs a target corpus
      |  export   <kbDir> [nShards]               deterministic training-order shard export
      |  tokenize <kbDir> [numMerges]             train BPE merges + per-chunk token counts
      |  eval     <kbDir> "<q1>[;;<q2>...]" [k] [--rerank]   nDCG/MRR/P/R of BM25 vs the vector tier
      |  help | version""".stripMargin

  /** Verb dispatch against a caller-owned session (main owns stop()). */
  def run(args: Array[String], spark: SparkSession): Unit = {
    // reference `customkb help` / `customkb version` (customkb.py:422-429):
    // the two verbs that take no KB directory
    if (args.headOption.contains("version")) {
      println(s"graft $Version (Spark ${spark.version})"); return
    }
    if (args.headOption.contains("help")) { println(Usage); return }
    require(args.length >= 2, "usage: graft.Main <verb> <kbDir> [...]")
    val verb = args(0)
    val kb = args(1).stripSuffix("/")

    verb match {
      case "database" =>
        val pos = args.filterNot(_.startsWith("--"))
        // requirement is on POSITIONAL args: `database <kb> --force` must
        // fail with the usage message, not an ArrayIndexOutOfBounds
        require(pos.length >= 3, "database <kbDir> <inputGlob> [cfg.ini] [--force]")
        val force = args.contains("--force")
        val cfg = loadCfg(pos, 3, kb)
        // Incremental by default, like the reference (db_manager.py:349-374:
        // files already in file_metadata are skipped unless --force): the
        // registry is the S5 anti-join input keyed on CONTENT hash, so a
        // changed file re-ingests and a renamed-but-identical one doesn't.
        // --force drops registry + chunks and rebuilds from scratch
        // (test_end_to_end.py:208's force-reprocess contract).
        val registryPath = s"$kb/registry"
        val chunksPath = s"$kb/chunks"
        val incremental = !force &&
          graft.sources.KbStorage.pathExists(spark, registryPath) &&
          graft.sources.KbStorage.pathExists(spark, chunksPath)
        if (!incremental) {
          val chunks = graft.ingest.Ingest.ingestFiles(spark, pos(2),
              chunkSize = cfg.dbMaxTokens, overlap = cfg.dbMaxTokens / 4)
            .withColumn("doc_id",
              row_number().over(org.apache.spark.sql.expressions.Window
                .orderBy("sourcedoc", "sid")).cast("long"))
          chunks.write.mode("overwrite").parquet(chunksPath)
          // overwrite-in-place invalidates any cached file listing for the
          // path in this session (stale listings throw FILE_NOT_EXIST)
          spark.catalog.refreshByPath(chunksPath)
          spark.read.parquet(chunksPath).select("file_hash").distinct()
            .write.mode("overwrite").parquet(registryPath)
          spark.catalog.refreshByPath(registryPath)
          println(s"[graft] database: ${spark.read.parquet(chunksPath).count()} chunks -> $chunksPath" +
            (if (force) " (forced rebuild)" else ""))
        } else {
          val registry = spark.read.parquet(registryPath)
          val fresh = graft.ingest.Ingest.ingestFiles(spark, pos(2),
            registry = Some(registry),
            chunkSize = cfg.dbMaxTokens, overlap = cfg.dbMaxTokens / 4)
          // coalesce: an EMPTY existing chunks table (all inputs filtered
          // by the P6 empty-text drop) yields max=null — start ids at 0
          val maxId = spark.read.parquet(chunksPath)
            .agg(coalesce(max("doc_id"), lit(0L))).head().getLong(0)
          val newChunks = fresh.withColumn("doc_id",
            (row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy("sourcedoc", "sid")) + lit(maxId)).cast("long"))
            .localCheckpoint(true) // one scan for count + both appends
          val nNew = newChunks.count()
          if (nNew == 0) println(s"[graft] database: no new files (registry skip); --force to reprocess")
          else {
            // a CHANGED file passes the content-hash anti-join as "new" —
            // its previous version's chunks must be REPLACED, not kept
            // beside the new ones (the reference re-ingests a changed
            // file's rows in place, db_manager.py:349-374; accumulating
            // both versions would retrieve stale and current text side by
            // side). Rewrite = old chunks minus re-ingested sourcedocs,
            // plus the new batch; registry rebuilt from the surviving set.
            val changedDocs = newChunks.select("sourcedoc").distinct()
            val old = spark.read.parquet(chunksPath)
            val survivors = old.join(changedDocs, Seq("sourcedoc"), "left_anti")
              .localCheckpoint(true) // sever lineage from the path we overwrite
            val nReplaced = old.count() - survivors.count()
            survivors.unionByName(newChunks)
              .write.mode("overwrite").parquet(chunksPath)
            spark.catalog.refreshByPath(chunksPath)
            spark.read.parquet(chunksPath).select("file_hash").distinct()
              .write.mode("overwrite").parquet(registryPath)
            spark.catalog.refreshByPath(registryPath)
            println(s"[graft] database: +$nNew chunks (incremental" +
              (if (nReplaced > 0) s", $nReplaced stale replaced" else "") +
              s") -> $chunksPath")
          }
        }

      case "embed" =>
        val cfg0 = loadCfg(args, 2, kb)
        // M6 dims auto-sync (embed_manager.py:748-756): an existing
        // embeddings table is the source of truth for dimensionality — a
        // stale config value is corrected IN the KB's config file (not just
        // in memory), so every later verb sees the synced value. Like the
        // reference's _update_cfg_value, ONLY the vector_dimensions key is
        // rewritten (an explicitly-passed one-off cfg must not be persisted
        // as the KB's config) and the write is skipped when the KB has no
        // config.ini of its own.
        val cfg = storedDims(spark, s"$kb/embeddings") match {
          case Some(d) if d != cfg0.vectorDimensions =>
            println(s"[graft] embed: WARNING config vector_dimensions=" +
              s"${cfg0.vectorDimensions} updated to match stored embeddings dims=$d")
            syncDimsKey(s"$kb/config.ini", d)
            cfg0.copy(vectorDimensions = d)
          case _ => cfg0
        }
        val chunks = spark.read.parquet(s"$kb/chunks")
        val cachePath = s"$kb/cache"
        val cache =
          if (graft.sources.KbStorage.pathExists(spark, cachePath)) spark.read.parquet(cachePath)
          else {
            import spark.implicits._
            Seq.empty[(String, Array[Float])].toDF("content_key", "embedding")
          }
        val res = KbPipeline.embed(chunks, "chunk_text", cache, cfg)
        res.embedded.select(col("doc_id"), col("embedding"))
          .write.mode("overwrite").parquet(s"$kb/embeddings")
        res.newCacheRows.write.mode("append").parquet(cachePath)
        res.unpersist()
        println(s"[graft] embed: ${spark.read.parquet(s"$kb/embeddings").count()} vectors -> $kb/embeddings")

      case "bm25" =>
        val chunks = spark.read.parquet(s"$kb/chunks")
          .withColumnRenamed("chunk_text", "text")
        graft.operators.Bm25.writeIndex(
          graft.operators.Bm25.buildIndex(chunks, "doc_id", "text"), s"$kb/bm25")
        println(s"[graft] bm25: index -> $kb/bm25")
        // --positions: also persist the positional inverted index so the
        // `search --phrase` verb serves from bucket-pruned partitions.
        // --relayout migrates an EXISTING store's within-bucket layout in
        // place (pre-r18 stores serve forever unsorted otherwise) without
        // re-tokenizing the corpus — postings rows and stats values are
        // preserved, only the physical order and the layout field change
        if (args.contains("--positions")) {
          val pdir = s"$kb/posindex"
          if (args.contains("--relayout") &&
              graft.sources.KbStorage.pathExists(spark, pdir)) {
            val changed = graft.operators.PositionalIndex.relayout(spark, pdir)
            println(s"[graft] bm25: positional index " +
              (if (changed) "relayout rewritten" else "layout already current") +
              s" -> $pdir")
          } else {
            graft.operators.PositionalIndex.write(
              graft.operators.PositionalIndex.build(chunks, "doc_id", "text"),
              pdir)
            println(s"[graft] bm25: positional index -> $pdir")
          }
        }

      case "search" =>
        // keyword / exact-phrase search over the chunk table — the
        // retrieval surface without the hybrid pipeline: BM25 top-k by
        // default, `--phrase` switches to BM25-with-phrase-as-term (served
        // from $kb/posindex when `bm25 --positions` built it, else
        // computed), `--snippets` adds each hit's best keyword-in-context
        // window. usage: search <kbDir> "<text>" [k] [--phrase] [--snippets]
        require(args.length >= 3,
          "search <kbDir> \"<text>\" [k] [--phrase|--boolean] [--snippets]")
        val q = args(2)
        // k must LOOK like a number — a stray positional arg (a cfg path,
        // a typo'd flag) must not crash the verb (the eval verb's idiom)
        val k = args.drop(3)
          .find(a => a.nonEmpty && a.forall(_.isDigit))
          .map(_.toInt).getOrElse(10)
        // same maintained-kb fallback as the query verb: keyword search on
        // a stream-maintained store reads text through lakeCurrent
        val chunks = servingChunks(spark, kb, loadCfg(Array.empty, 99, kb))
          .getOrElse(sys.error(s"search: no $kb/chunks and no $kb/lake — " +
            "run the database or maintain verb first"))
        def loadIx() = storedBm25(spark, kb).getOrElse(
          graft.operators.Bm25.buildIndex(chunks, "doc_id", "text"))
        val hits =
          if (args.contains("--phrase")) {
            if (graft.sources.KbStorage.pathExists(spark, s"$kb/posindex")) {
              val pix = graft.operators.PositionalIndex.read(
                spark, s"$kb/posindex")
              // layout provenance (verdict r18 #6): a pre-r18 store has no
              // layout field and may be serving unsorted on a vocabulary
              // where page pruning pays — tell the operator how to migrate
              if (pix.layout.isEmpty)
                println(s"[graft] search: $kb/posindex predates the layout " +
                  "record (may serve unsorted); migrate with " +
                  "`bm25 <kbDir> --positions --relayout`")
              graft.operators.PositionalIndex.phraseTopK(pix, q, k)
            } else graft.operators.PhraseSearch.phraseTopK(
              chunks, "doc_id", "text", q, k)
          } else if (args.contains("--boolean"))
            graft.operators.BooleanSearch.booleanTopK(loadIx(), spark, q, k)
          else
            graft.operators.Bm25.topK(
              graft.operators.Bm25.scoreWithIndex(loadIx(), spark, q)
                .select(col("doc_id"), round(col("score"), 4).as("score")), k)
        // snippets highlight QUERY TERMS — for a boolean query that is the
        // positive terms of the parsed AST, never the AND/OR/NOT keywords
        // or negated terms in the raw string (an all-negative query has
        // nothing to highlight: skip snippets rather than crash)
        val snipQ =
          if (args.contains("--boolean"))
            graft.operators.BooleanSearch.positiveTerms(
              graft.operators.BooleanSearch.parse(spark, q)).mkString(" ")
          else q
        val shown =
          if (args.contains("--snippets") && snipQ.nonEmpty) {
            val hitDocs = chunks.join(hits.select("doc_id"), Seq("doc_id"),
              "left_semi")
            hits.join(graft.operators.Snippets.bestSnippets(
                hitDocs, "doc_id", "text", snipQ, k), Seq("doc_id"), "left")
              .select(col("doc_id"), col("score"),
                coalesce(col("snippet"), lit("")).as("snippet"))
          } else hits
        val rows = shown.orderBy(col("score").desc, col("doc_id"))
          .collect()
        rows.foreach { r =>
          val snip = if (r.schema.fieldNames.contains("snippet"))
            s"  | ${r.getAs[String]("snippet")}" else ""
          println(f"[graft] ${r.getAs[Number]("doc_id").longValue()}%8d  " +
            f"${r.getAs[Number]("score").doubleValue()}%8.4f$snip")
        }
        println(s"[graft] search: ${rows.length} hits for \"$q\"" +
          (if (args.contains("--phrase")) " (phrase)" else ""))

      case "query" =>
        require(args.length >= 3, "query <kbDir> \"<text>\" [cfg.ini] [--context-only]")
        // flags are not positional: strip them before the cfg-path lookup
        val cfg0 = loadCfg(args.filterNot(_.startsWith("--")), 3, kb)
        // maintained kbs (no batch chunks/) serve text THROUGH the audited
        // lakeCurrent view — latest committed version, sticky created_at
        val chunks = servingChunks(spark, kb, cfg0).getOrElse(
          sys.error(s"query: no $kb/chunks and no $kb/lake — run the " +
            "database or maintain verb first"))
        val emb = servingEmbeddings(spark, kb)
        // M6 verify-at-load: the query vector must match the stored corpus
        // dims or the cosine is meaningless — warn and use the stored value
        // (embed_manager.py:616-626 probes the same way)
        val cfg = storedDims(spark, s"$kb/embeddings") match {
          case Some(d) if d != cfg0.vectorDimensions =>
            println(s"[graft] query: WARNING config vector_dimensions=" +
              s"${cfg0.vectorDimensions} != stored embeddings dims=$d; using $d")
            cfg0.copy(vectorDimensions = d)
          case _ => cfg0
        }
        val ix = storedBm25(spark, kb)
        // one listing of the embeddings per call: the corpus key's stamp and
        // the stored IVF's freshness check both read it
        val embInv = graft.operators.PathInventory(spark, s"$kb/embeddings")
        // ANN opt-in (config `index_type` = ivf/auto): build/reuse the
        // serving index for whatever tier the auto-selection policy picks —
        // the policy output IS the serving index (query/search.py:207-231);
        // "exact" (default) keeps the full-scan vector stage
        val serving = {
          import graft.operators.VectorSearch
          // an `ivf`-verb store wins over a per-session rebuild (the
          // reference loads whatever .faiss sidecar exists the same way) —
          // but ONLY while the embeddings file inventory it recorded equals
          // the current one: after a re-embed/maintain rewrote or appended
          // vectors, a stale index silently misses them (or serves deleted
          // ids), so a stale store, or one that records no inventory, falls
          // back to the rebuild path below.
          def storedIvfFresh: Boolean =
            graft.sources.KbStorage.pathExists(spark, s"$kb/ivf/assigned") && {
              val ok = ivfSource(spark, s"$kb/ivf").contains(embInv.toSet)
              if (!ok) println(s"[graft] query: WARNING $kb/ivf was not " +
                "recorded as built from the current embeddings; rebuilding " +
                "the serving index — re-run the ivf verb to refresh the store")
              ok
            }
          if (cfg.indexType == "exact") VectorSearch.Serving.Flat
          else if (storedIvfFresh)
            VectorSearch.Serving.Ivf(VectorSearch.readIvf(spark, s"$kb/ivf"))
          else VectorSearch.chooseIndex(emb.count(), cfg.vectorDimensions) match {
            case VectorSearch.IndexStrategy.Ivf(nc) =>
              VectorSearch.Serving.Ivf(
                VectorSearch.cachedIvf(s"$kb/embeddings", emb, "doc_id", "embedding", nc))
            case pq: VectorSearch.IndexStrategy.IvfPq =>
              // memoized like cachedIvf/cachedGraph: KMeans + Lloyd PQ
              // training is a build-time cost, never a per-query one;
              // the shortlist is the config's (tuned by the `tune` verb)
              VectorSearch.cachedServing(s"$kb/embeddings", emb, "doc_id", "embedding",
                pq, shortlist = cfg.pqShortlist)
            case _ => VectorSearch.Serving.Flat // small/high-dim: exact IS the policy
          }
        }
        val t0 = System.nanoTime()
        val res = KbPipeline.query(spark, chunks, emb, args(2), cfg,
          bm25Index = ix, serving = serving,
          // stamped: a corpus rewrite in the SAME session must never
          // serve the stale memoized broadcast
          corpusKey = Some(s"$kb/embeddings@${graft.operators.PathInventory.stamp(embInv)}"),
          // query-embedding cache: a repeated query is served from its
          // resident map instead of re-calling the provider
          queryVecCacheDir = Some(s"$kb/qcache"))
        // The reference's query flow returns the built context when
        // `--context-only` is passed and otherwise generates the answer
        // from it (`query/processing.py:262-285`). query_model = "none"
        // (our default) is the same answer-generation kill switch the
        // reference honors; any other configured model resolves through
        // the registry and lands on the extractive provider (recorded
        // exclusion), with the routed model name reported as the
        // reference would have called it.
        val contextOnly =
          args.contains("--context-only") || cfg.queryModel == "none"
        if (contextOnly) {
          println(res.formatted)
          graft.sources.KbStorage.logQuery(spark, s"$kb/logs", kb, args(2),
            answer = "", latencyMs = (System.nanoTime() - t0) / 1000000)
        } else {
          val (routed, provider) =
            graft.query.AnswerGen.providerFor(cfg.queryModel)
          // --style=<template> / --role=<system role> mirror the reference's
          // prompt_template / role query args (processing.py:268,319)
          val style = args.collectFirst {
            case a if a.startsWith("--style=") => a.drop("--style=".length)
          }.getOrElse("default")
          val role = args.collectFirst {
            case a if a.startsWith("--role=") => a.drop("--role=".length)
          }
          val ans = provider.complete(graft.query.AnswerGen.buildPrompt(
            style, res.formatted, args(2), role))
          println(s"[graft] answer (routed model: $routed):")
          println(ans)
          graft.sources.KbStorage.logQuery(spark, s"$kb/logs", kb, args(2),
            answer = ans, latencyMs = (System.nanoTime() - t0) / 1000000)
        }
        // a one-shot verb persists its query vector before the session ends
        graft.query.QueryCache.flush(spark)

      case "tune" =>
        // Serving-knob calibration (VectorSearch.tuneServing): measure the
        // cheapest (nprobe, shortlist) reaching the recall target on THIS
        // corpus and persist them into the KB's config — the reference
        // carries the same knob statically (`faiss_nprobe`,
        // query/search.py:222-231); here it is measured, once, at build
        // time. Tier comes from the same policy the query verb serves.
        // `tune <kb> [target] [cfg.ini]` — target is optional, so a lone
        // non-numeric arg(2) IS the config path (`tune kb custom.ini` must
        // load custom.ini, not silently tune against defaults)
        val targetArg = args.lift(2).flatMap(a => scala.util.Try(a.toDouble).toOption)
        val cfg = loadCfg(args, if (targetArg.isDefined) 3 else 2, kb)
        val target = targetArg
          .orElse(Option(cfg.recallTarget).filter(_ > 0)).getOrElse(0.9)
        val emb = spark.read.parquet(s"$kb/embeddings")
        import graft.operators.VectorSearch
        val strategy = VectorSearch.chooseIndex(emb.count(), cfg.vectorDimensions)
        strategy match {
          case VectorSearch.IndexStrategy.Flat(_) =>
            println(s"[graft] tune: policy tier is flat (exact) - nothing to tune")
          case _ =>
            val serving = strategy match {
              case VectorSearch.IndexStrategy.Ivf(nc) =>
                VectorSearch.Serving.Ivf(
                  VectorSearch.cachedIvf(s"$kb/embeddings", emb, "doc_id", "embedding", nc))
              case pq: VectorSearch.IndexStrategy.IvfPq =>
                VectorSearch.cachedServing(s"$kb/embeddings", emb, "doc_id", "embedding",
                  pq, shortlist = cfg.pqShortlist)
              case _ => VectorSearch.Serving.Flat
            }
            val (_, knobs) = VectorSearch.tuneServing(emb, "doc_id", "embedding",
              serving, k = cfg.queryTopK.min(20), recallTarget = target)
            val demoted = if (knobs.demotedFrom.nonEmpty)
              s" (demoted from ${knobs.demotedFrom})" else ""
            println(f"[graft] tune: tier=${strategy.kind} target=$target%.2f -> " +
              f"nprobe=${knobs.nprobe} shortlist=${knobs.shortlist} " +
              f"measured recall=${knobs.measuredRecall}%.3f$demoted")
            if (knobs.nprobe > 0)
              syncCfgKey(s"$kb/config.ini", "ivf_nprobe", knobs.nprobe.toString)
            if (knobs.shortlist > 0)
              syncCfgKey(s"$kb/config.ini", "pq_shortlist", knobs.shortlist.toString)
            // a recorded demotion is actionable config, not just a log
            // line: persist the tier switch so the query verb serves the
            // tier the tuner measured (the reference's auto-selection
            // writes its index choice the same way)
            if (knobs.demotedFrom.nonEmpty)
              syncCfgKey(s"$kb/config.ini", "index_type", "ivfpq")
        }

      case "optimize" =>
        // Hadoop-FS probe (r16, ADVICE sweep): java.io.File.listFiles()
        // NPE'd on a missing chunks dir and answered wrong for remote kbs
        graft.sources.KbStorage.dirBytes(spark, s"$kb/chunks") match {
          case None =>
            println(s"[graft] optimize: no chunk table at $kb/chunks — " +
              "run `database` first")
          case Some(bytes) =>
            val advice = Tuning.advise(bytes,
              Runtime.getRuntime.availableProcessors(),
              Runtime.getRuntime.maxMemory())
            println(s"[graft] optimize: $advice")
        }

      case "verify-indexes" =>
        val findings = Tuning.verifyLayout(spark, s"`$kb`.chunks",
          Some(s"$kb/embeddings_ivf")) // catalog-registered KBs only
        val pathFindings = Seq(
          s"$kb/chunks" -> "chunk table", s"$kb/embeddings" -> "embeddings")
          .flatMap { case (p, what) =>
            if (!graft.sources.KbStorage.pathExists(spark, p))
              Some(s"$what missing at $p")
            else None
          }
        // the BM25 store: a committed version of the `bm25` verb's store,
        // else of a `maintain`-built one
        val bm25 = Seq(s"$kb/bm25", kb).view
          .flatMap(graft.operators.Bm25.Version.latest(spark, _)).headOption
        bm25.foreach(v => println(
          s"[graft] verify-indexes: bm25 version ${v.number} at ${v.manifest.root}"))
        val all = pathFindings ++ // layout findings need catalog tables
          Option.when(bm25.isEmpty)(s"bm25 store missing: no committed version under $kb/bm25 or $kb")
        if (all.isEmpty) println("[graft] verify-indexes: healthy")
        else all.foreach(f => println(s"[graft] verify-indexes: $f"))

      case "dedup" =>
        // extension verb (training-pipeline suite): exact + MinHash-LSH +
        // SimHash near-dup pair tables over the chunk table
        import graft.operators.Dedup
        val chunks = spark.read.parquet(s"$kb/chunks")
          .withColumnRenamed("chunk_text", "text")
        Dedup.exactGroups(chunks, "doc_id", "text")
          .filter(col("dup_id") =!= col("keep_id"))
          .write.mode("overwrite").parquet(s"$kb/dedup/exact")
        // auto regime: a duplicate-saturated chunk table (the common case
        // right after ingesting near-identical sources) takes the
        // representative collapse; a clean one keeps the raw plan
        Dedup.minhashPairsAuto(chunks, "doc_id", "text", threshold = 0.7)
          .write.mode("overwrite").parquet(s"$kb/dedup/minhash_lsh")
        Dedup.simhashPairs(chunks, "doc_id", "text")
          .write.mode("overwrite").parquet(s"$kb/dedup/simhash")
        Seq("exact", "minhash_lsh", "simhash").foreach { d =>
          println(s"[graft] dedup: ${spark.read.parquet(s"$kb/dedup/$d").count()} pairs -> $kb/dedup/$d")
        }

      case "classify" =>
        // extension verb (training-pipeline suite): Naive-Bayes domain/
        // quality classifier over the chunk table — train on the 70%
        // id-hash split labeled by `labelCol` (default sourcedoc), score
        // the held-out 30%, persist predictions, report held-out accuracy
        // (the GPT-3/CCNet curated-vs-crawl filter regime).
        import graft.operators.QualityClassifier
        val labelCol = if (args.length > 2) args(2) else "sourcedoc"
        val chunks = spark.read.parquet(s"$kb/chunks")
          .withColumnRenamed("chunk_text", "text")
        val out = QualityClassifier.trainAndClassify(chunks, "doc_id",
          "text", labelCol)
        out.write.mode("overwrite").parquet(s"$kb/classify/heldout")
        val scored = spark.read.parquet(s"$kb/classify/heldout")
        val n = scored.count()
        val correct = scored.filter(col("label") === col("actual")).count()
        val acc = if (n > 0) correct.toDouble / n else 0.0
        println(f"[graft] classify: $n held-out chunks, accuracy $acc%.3f " +
          s"-> $kb/classify/heldout")

      case "maintain" =>
        // extension verb: the WHOLE incremental lifecycle as one stream —
        // landed files dedup against the lake, survivors chunk, new
        // content keys embed through the cache, chunks merge into the
        // versioned BM25 store. Re-runs process only new files
        // (checkpointed source); replays are idempotent at every stage.
        // usage: maintain <kbDir> <inputGlob> [--curate]
        require(args.length >= 3, "usage: maintain <kbDir> <inputGlob> [--curate]")
        // provider + chunk geometry from config, EXACTLY like the batch
        // `database`/`embed` verbs (registry-resolved model under the same
        // retry policy; db_max_tokens chunking) — a maintained store must
        // be indistinguishable from a batch-built one
        val mcfg = loadCfg(args.filterNot(_ == "--curate"), 3, kb)
        graft.streaming.StreamingIngest.startKbMaintenance(
          spark, args(2), kb,
          graft.embed.Embedder.Retrying(
            graft.models.ModelRegistry.embedderFor(
              mcfg.vectorModel, mcfg.vectorDimensions),
            maxRetries = mcfg.apiMaxRetries),
          surfaceGate = args.contains("--curate"),
          chunkSize = mcfg.dbMaxTokens, overlap = mcfg.dbMaxTokens / 4)
          .awaitTermination()
        // the glob may have matched no files (or --curate gated everything
        // out) — then no lake dir exists and the run is still a success
        val (lakeN, curN) =
          if (graft.sources.KbStorage.pathExists(spark, s"$kb/lake"))
            (spark.read.parquet(s"$kb/lake").count(),
             // audited current view: version rows collapse per doc_id with
             // created_at sticky / updated_at bumped (F16 lifecycle)
             graft.streaming.StreamingIngest.lakeCurrent(spark, kb).count())
          else (0L, 0L)
        // the store's committed version and its live segments
        val bm25 = graft.operators.Bm25.Version.latest(spark, kb)
          .fold("version=none")(v => s"version=${v.number} segments=${v.segments.size}")
        println(s"[graft] maintain: lake=$lakeN version rows / $curN current docs, " +
          s"bm25 $bm25")
        println(s"[graft] maintain: the `query` verb serves this version " +
          s"automatically when no batch-built $kb/bm25 exists")

      case "select" =>
        // extension verb (training-pipeline suite): DSIR importance
        // selection — score every chunk's hashed-n-gram distribution
        // against a small TARGET corpus (one document per file in the
        // glob, the "Wikipedia-like" side) and keep the top-n most
        // target-like chunks. usage: select <kbDir> <targetGlob> [n]
        import graft.operators.Dsir
        require(args.length >= 3, "usage: select <kbDir> <targetGlob> [n]")
        val n = if (args.length > 3) args(3).toInt else 1000
        val chunks = spark.read.parquet(s"$kb/chunks")
          .withColumnRenamed("chunk_text", "text")
        val target = spark.read.option("wholetext", "true").text(args(2))
          .select(col("value").as("text"))
        val weights = Dsir.importanceWeights(chunks, "doc_id", "text",
          target, "text")
        weights.select("doc_id", "n_feats", "logw_micro", "logw")
          .write.mode("overwrite").parquet(s"$kb/select/weights")
        Dsir.resample(weights, "doc_id", n)
          .select("doc_id", "logw")
          .write.mode("overwrite").parquet(s"$kb/select/selected")
        val kept = spark.read.parquet(s"$kb/select/selected").count()
        println(s"[graft] select: $kept of ${chunks.count()} chunks kept " +
          s"(top-$n by DSIR weight) -> $kb/select/selected")

      case "export" =>
        // extension verb (training-pipeline suite): deterministic
        // training-order shard export of the chunk table — shard by the
        // Knuth draw, position by an independent hash, one
        // position-ordered parquet file per shard. usage: export <kbDir> [nShards]
        import graft.operators.Sampling
        val nShards = if (args.length > 2) args(2).toInt else 64
        val chunks = spark.read.parquet(s"$kb/chunks")
        Sampling.shardOrder(chunks, "doc_id", nShards)
          .repartition(col("shard")).sortWithinPartitions("pos")
          .write.mode("overwrite").partitionBy("shard")
          .parquet(s"$kb/export/shards")
        val out = spark.read.parquet(s"$kb/export/shards")
        println(s"[graft] export: ${out.count()} chunks -> $nShards shards " +
          s"at $kb/export/shards")

      case "eval" =>
        // extension verb: retrieval-quality metrics of the KB's BM25
        // ranking against graded qrels — nDCG@k / MRR / P@k / R@k per
        // query (ranking depth 2k); --rerank adds an A/B of the rerank
        // scorers (bm25 vs lexical vs learned) on the same qrels.
        // Qrels source: `--qrels=<parquet>` reads explicit judgments
        // (query_id, doc_id, grade) — the TREC shape, and the only
        // meaningful A/B basis when the embedding provider is the
        // deterministic hash (its cosine tier is uncorrelated with
        // relevance at corpus scale — receipted in tools/eval_r15.txt);
        // without the flag the KB's own vector tier supplies graded
        // pseudo-qrels (grades 3/2/1 by vector rank tier).
        // usage: eval <kbDir> "<q1>[;;<q2>...]" [k] [--rerank]
        //        [--qrels=<parquet>]
        require(args.length >= 3, "eval <kbDir> \"<q1>[;;<q2>...]\" [k]")
        import org.apache.spark.sql.expressions.Window
        import spark.implicits._
        val queries = args(2).split(";;").toSeq.map(_.trim).filter(_.nonEmpty)
        require(queries.nonEmpty, "no queries given")
        val k = args.lift(3).filter(_.forall(_.isDigit)).map(_.toInt)
          .getOrElse(10)
        val cfg = loadCfg(args.filterNot(_.startsWith("--")), 4, kb)
        val chunks = spark.read.parquet(s"$kb/chunks")
          .withColumnRenamed("chunk_text", "text")
        val emb = spark.read.parquet(s"$kb/embeddings")
        val ix = storedBm25(spark, kb).getOrElse(
          graft.operators.Bm25.buildIndex(chunks, "doc_id", "text"))
        val provider = graft.embed.Embedder.Retrying(
          graft.models.ModelRegistry.embedderFor(cfg.vectorModel,
            cfg.vectorDimensions), cfg.apiMaxRetries)
        val qSeq = queries.zipWithIndex.map { case (t, i) =>
          ((i + 1).toLong, t) }
        val ktopScored = graft.operators.Bm25.scoreBatch(ix,
            qSeq.toDF("query_id", "qtext"), "query_id", "qtext")
          .withColumn("rank", row_number().over(
            Window.partitionBy("query_id")
              .orderBy(round(col("score"), 4).desc, col("doc_id"))))
          .filter(col("rank") <= 2 * k)
        val ktop = ktopScored.select("query_id", "doc_id", "rank")
        val qrels = args.collectFirst {
          case a if a.startsWith("--qrels=") => a.drop("--qrels=".length)
        } match {
          case Some(p) =>
            spark.read.parquet(p)
              .select(col("query_id").cast("long"), col("doc_id"),
                col("grade").cast("double"))
          case None =>
            // the same enhancement + registry-resolved embedding the query
            // verb uses, so the pseudo-qrels reflect the serving vector tier
            val qv = qSeq.map { case (qid, t) =>
              (qid, provider.embedBatch(
                Seq(graft.query.Enhancement.enhanceValue(spark, t))).head)
            }.toDF("query_id", "qvec")
            emb.crossJoin(broadcast(qv))
              .select(col("query_id"), col("doc_id"),
                graft.functions.VectorFunctions.cosine(col("embedding"),
                  col("qvec")).as("c"))
              .withColumn("rk", row_number().over(
                Window.partitionBy("query_id")
                  .orderBy(round(col("c"), 6).desc, col("doc_id"))))
              .filter(col("rk") <= 2 * k)
              .select(col("query_id"), col("doc_id"),
                when(col("rk") <= math.max(k / 2, 1), 3.0)
                  .when(col("rk") <= k, 2.0).otherwise(1.0).as("grade"))
        }
        val rows = graft.operators.RetrievalMetrics.evaluate(ktop, qrels, k)
          .collect()
        val byId = qSeq.toMap
        rows.foreach { r =>
          val qid = r.getAs[Number]("query_id").longValue()
          println(f"[graft] eval q$qid%-3d ndcg@$k=${r.getAs[Double]("ndcg")}%.4f " +
            f"mrr=${r.getAs[Double]("mrr")}%.4f p@$k=${r.getAs[Double]("p_at_k")}%.4f " +
            f"r@$k=${r.getAs[Double]("r_at_k")}%.4f  \"${byId(qid)}\"")
        }
        // --rerank: A/B the rerank scorers through the SAME head rerank
        // and the SAME pseudo-qrels — the learned path's quality claim
        // gets a number next to the lexical default and the raw BM25
        // ranking (reference seam: rerank_manager.py:133-277)
        if (args.contains("--rerank")) {
          import graft.query.Rerank
          val qToks = array_distinct(
            graft.functions.TextFunctions.tokenizeBm25(col("qtext")))
          val withText = ktopScored
            .join(chunks.select("doc_id", "text"), Seq("doc_id"))
            .join(broadcast(qSeq.toDF("query_id", "qtext")), Seq("query_id"))
          def ranked(scorer: org.apache.spark.sql.Column) =
            Rerank.rerankHeadBatch(withText, "query_id", "score", k, scorer)
              .select(col("query_id"), col("doc_id"),
                col("final_rank").cast("int").as("rank"))
          val variants = Seq(
            "bm25" -> ktop,
            "rerank-lexical" -> ranked(
              Rerank.lexicalScoreCols(qToks, col("text"))),
            "rerank-learned" -> ranked(
              Rerank.LogisticScorer.pretrained.scoreCols(qToks, col("text"),
                col("score"))))
          variants.foreach { case (name, ranking) =>
            val m = graft.operators.RetrievalMetrics.evaluate(ranking, qrels, k)
              .agg(avg("ndcg"), avg("mrr")).head()
            println(f"[graft] eval A/B $name%-15s mean ndcg@$k=" +
              f"${m.getDouble(0)}%.4f mean mrr=${m.getDouble(1)}%.4f")
          }
        }

      case "tokenize" =>
        // extension verb (training-pipeline suite): train the BPE merge
        // table on the chunk text (one corpus pass + vocab-sized rounds),
        // then encode every chunk under it — per-chunk word/token counts
        // and fertility, the trained-tokenizer twin of the a19 KPI.
        // usage: tokenize <kbDir> [numMerges]
        import graft.operators.Bpe
        val numMerges = if (args.length > 2) args(2).toInt else 32
        val chunks = spark.read.parquet(s"$kb/chunks")
          .select(col("doc_id"), col("chunk_text").as("text"))
        val mergesDf = Bpe.learnMerges(chunks, "text", numMerges)
        mergesDf.coalesce(1).write.mode("overwrite")
          .parquet(s"$kb/tokenizer/merges")
        val merges = spark.read.parquet(s"$kb/tokenizer/merges")
          .orderBy("rank").select("lhs", "rhs")
          .collect().map(r => (r.getString(0), r.getString(1))).toSeq
        Bpe.encode(chunks, "doc_id", "text", merges)
          .write.mode("overwrite").parquet(s"$kb/tokenizer/token_counts")
        val stats = spark.read.parquet(s"$kb/tokenizer/token_counts")
          .agg(count(lit(1)), sum("n_tokens"),
            avg(when(col("n_words") > 0, col("fertility"))))
          .collect()(0)
        println(f"[graft] tokenize: ${merges.size} merges -> $kb/tokenizer/merges; " +
          f"${stats.getLong(0)} chunks, ${stats.getLong(1)} tokens, " +
          f"avg fertility ${stats.getDouble(2)}%.4f -> $kb/tokenizer/token_counts")

      case "curate" =>
        // extension verb (training-pipeline suite): sequence packing + PII
        // scrub over the chunk table, plus an optional benchmark-
        // contamination check against a glob of benchmark files.
        // usage: curate <kbDir> [benchGlob]
        import graft.operators.Curation
        import graft.functions.TextFunctions
        val chunks = spark.read.parquet(s"$kb/chunks")
        Curation.packTokenBins(chunks, "sourcedoc", "doc_id",
            TextFunctions.wordCount(col("chunk_text")), budget = 2048)
          .select("doc_id", "sourcedoc", "n_tok", "bin_id", "bin_offset")
          .write.mode("overwrite").parquet(s"$kb/curate/bins")
        val (scrubbed, counts) = Curation.scrubPii(col("chunk_text"))
        chunks.select(col("doc_id") +: scrubbed.as("chunk_text") +:
            counts.map { case (n, c) => c.as(s"n_$n") }: _*)
          .write.mode("overwrite").parquet(s"$kb/curate/scrubbed")
        println(s"[graft] curate: ${spark.read.parquet(s"$kb/curate/bins").count()} chunks " +
          s"packed -> $kb/curate/bins; scrubbed -> $kb/curate/scrubbed")
        if (args.length >= 3) {
          // one benchmark item per file; ids are the (deterministic) file
          // names, and the benchmark side stays broadcast-small by contract
          val bench = spark.read.option("wholetext", "true").text(args(2))
            .select(input_file_name().as("bench_id"), col("value").as("text"))
          Curation.contamination(
              chunks.select(col("doc_id"), col("chunk_text").as("text")),
              "doc_id", "text", bench, "bench_id", "text",
              n = 8, threshold = 0.5)
            .write.mode("overwrite").parquet(s"$kb/curate/contamination")
          val flagged = spark.read.parquet(s"$kb/curate/contamination")
            .filter(col("contaminated")).count()
          println(s"[graft] curate: $flagged contaminated chunk-benchmark pairs -> $kb/curate/contamination")
        }

      case "knn" =>
        // extension verb: top-k nearest chunks to a given doc_id. The index
        // strategy is auto-selected by corpus size/dim exactly as the
        // reference does per search (embed_manager.py:163-213): flat = exact
        // scan; ivf/ivfpq = cluster-probed scan (nprobe = ncentroids/4,
        // ≥1 — the reference's default nprobe heuristic regime).
        require(args.length >= 3, "knn <kbDir> <doc_id> [k]")
        import graft.operators.VectorSearch
        import VectorSearch.IndexStrategy._
        val k = if (args.length > 3) args(3).toInt else 10
        val emb = spark.read.parquet(s"$kb/embeddings")
        val n = emb.count()
        val dim = emb.select(size(col("embedding"))).head().getInt(0)
        val strategy = VectorSearch.chooseIndex(n, dim)
        val qv = emb.filter(col("doc_id") === args(2).toLong)
          .select("embedding").head().getSeq[Float](0)
        println(s"[graft] knn: strategy=${strategy.kind} (n=$n dim=$dim)")
        val hits = strategy match {
          case Flat(_) =>
            VectorSearch.bruteTopK(emb, "doc_id", "embedding", qv, k)
          case Ivf(nc) =>
            VectorSearch.ivfTopK(
              VectorSearch.cachedIvf(s"$kb/embeddings", emb, "doc_id", "embedding", nc),
              qv, k, nprobe = math.max(1, nc / 4))
          case IvfPq(nc, _) => // PQ codes are an at-rest artifact (`pq` verb);
            // the interactive verb probes IVF clusters with exact scoring
            VectorSearch.ivfTopK(
              VectorSearch.cachedIvf(s"$kb/embeddings", emb, "doc_id", "embedding", nc),
              qv, k, nprobe = math.max(1, nc / 4))
        }
        hits.collect().foreach(r => println(f"[graft] knn: ${r.getLong(0)} ${r.getDouble(1)}%.6f"))

      case "graph" =>
        // extension verb: graph-ANN top-k (the HNSW-analogue rung) — build
        // (or reuse) the small-world k-NN graph over the KB's embeddings,
        // then beam-search from fixed entry points. Entries are the k
        // lowest doc ids (deterministic; HNSW uses its top-layer entry the
        // same way: a fixed, query-independent starting set).
        require(args.length >= 3, "graph <kbDir> <doc_id> [k]")
        import graft.operators.VectorSearch
        val k = if (args.length > 3) args(3).toInt else 10
        val emb = spark.read.parquet(s"$kb/embeddings")
        val n = emb.count()
        // corpus-sized plane count (graphPlanesFor: expected bucket size ≈
        // 64) — a fixed 16-bucket default degrades local-edge quality on
        // large KBs even though the sorted-neighborhood window keeps the
        // build bounded
        val g = VectorSearch.cachedGraph(s"$kb/embeddings", emb, "doc_id", "embedding",
          k = 8, numPlanes = VectorSearch.graphPlanesFor(n))
        val entries = emb.select("doc_id").orderBy("doc_id")
          .limit(4).collect().map(_.getLong(0)).toSeq
        val queries = emb.filter(col("doc_id") === args(2).toLong)
          .select(col("doc_id").as("query_id"), col("embedding").as("qvec"))
        println(s"[graft] graph: n=$n edges=${g.count()} entries=${entries.mkString(",")}")
        VectorSearch.graphSearch(g, emb, "doc_id", "embedding",
            queries, "query_id", "qvec", k = k, beam = math.max(48, 2 * k),
            hops = 3, entryIds = entries)
          .collect().foreach(r =>
            println(f"[graft] graph: ${r.getLong(1)} ${r.getDouble(2)}%.6f rank=${r.getInt(3)}"))

      case "components" =>
        // extension verb: duplicate-GROUP closure over the stored dedup
        // pair tables (run `dedup` first) — emits (node, component) so a
        // keep-one-per-group policy is a min() filter away
        import graft.operators.Dedup
        val pairs = spark.read.parquet(s"$kb/dedup/minhash_lsh")
          .select("doc_a", "doc_b")
          .unionByName(spark.read.parquet(s"$kb/dedup/simhash")
            .select("doc_a", "doc_b"))
          .distinct()
        Dedup.connectedComponents(pairs)
          .write.mode("overwrite").parquet(s"$kb/dedup/components")
        val comp = spark.read.parquet(s"$kb/dedup/components")
        println(s"[graft] components: ${comp.count()} nodes in " +
          s"${comp.select("component").distinct().count()} groups -> $kb/dedup/components")

      case "ivf" =>
        // extension verb (FAISS-file analogue): build the policy-sized IVF
        // index once and persist it AT REST — assigned vectors partitioned
        // by cluster_id (file-pruned probes), centroids as a sidecar. The
        // `query` verb serves this store without re-clustering.
        // usage: ivf <kbDir> [nCentroids]
        import graft.operators.VectorSearch
        val emb = spark.read.parquet(s"$kb/embeddings")
        val nc =
          if (args.length > 2 && args(2).forall(_.isDigit)) args(2).toInt
          else {
            val dim = emb.select(size(col("embedding"))).head().getInt(0)
            VectorSearch.chooseIndex(emb.count(), dim) match {
              case VectorSearch.IndexStrategy.Ivf(n) => n
              case VectorSearch.IndexStrategy.IvfPq(n, _) => n
              case _ => 8 // small corpus: a handful of clusters still prunes
            }
          }
        // incremental refresh: an existing store keeps its centroids and
        // only the MISSING vectors (appended since the last build) are
        // assigned + appended partition-wise — FAISS add_with_ids, not a
        // re-cluster. `--rebuild` (or no store) takes the full build path.
        val storeDir = s"$kb/ivf"
        // the append-only refresh is sound ONLY for id-disjoint growth.
        // A re-embed (model/dims change, chunk edit) rewrites vectors IN
        // PLACE — blessing the store then serves vectors from the wrong
        // embedding space. nFresh = 0 catches the pure rewrite, but a
        // rewrite that ALSO adds new docs in the same step has nFresh > 0
        // (ADVICE r15) — so soundness is attested by the PER-FILE
        // inventory of the embeddings dir recorded when the store was
        // last blessed: append-only parquet growth adds part files
        // without touching old ones, so every recorded file must still be
        // present with the same mtime+length. An equal inventory is an
        // untouched source. A changed/missing recorded file, or a store
        // with no recorded inventory, takes the rebuild.
        import spark.implicits._
        val curInv = graft.operators.PathInventory(spark, s"$kb/embeddings")
        def recordSource(): Unit =
          curInv.toDF("file", "mtime", "length")
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$storeDir/meta_inventory")
        val recordedInv = ivfSource(spark, storeDir)
        val hasStore = !args.contains("--rebuild") &&
          graft.sources.KbStorage.pathExists(spark, s"$storeDir/assigned")
        val (nFreshOpt, appendSound, soundnessNote) =
          if (!hasStore) (None, false, "")
          else {
            val assignedIds = spark.read.parquet(s"$storeDir/assigned")
              .select(col("doc_id"))
            val fresh = emb.join(assignedIds, Seq("doc_id"), "left_anti")
            val n = fresh.count()
            val curSet = curInv.toSet
            // count reconciliation (ADVICE r16/r17): a re-embed done VIA
            // append mode (new part files that re-carry existing doc_ids
            // plus new ids) passes the file-inventory subset test — but
            // then the embeddings table holds duplicate doc_ids. Total
            // row counts miss duplicates confined to NEW ids (two rows of
            // one fresh doc_id still balance |emb| = |assigned| + nFresh),
            // so reconcile on DISTINCT doc_ids: every id is either already
            // assigned or fresh-and-unique, else route to rebuild.
            lazy val balanced = {
              val c = emb.agg(count(lit(1)), countDistinct(col("doc_id")))
                .head()
              c.getLong(0) == c.getLong(1) && // no duplicate ids anywhere
                c.getLong(1) ==
                  spark.read.parquet(s"$storeDir/assigned").count() + n
            }
            val sound = recordedInv.contains(curSet) || // untouched: no-op ok
              (n > 0 && recordedInv.exists(_.subsetOf(curSet)) && // attested pure growth
                balanced)
            val note =
              if (sound) ""
              else if (recordedInv.isEmpty)
                "no attestable file inventory for the embeddings dir " +
                  "(none recorded, or the store path has no listable view)"
              else if (!recordedInv.get.subsetOf(curSet))
                "recorded embedding files were rewritten or removed"
              else if (n > 0 && !balanced)
                "embeddings row count disagrees with assigned + fresh " +
                  "(duplicate doc_ids — re-embed via append-mode write)"
              else "no new vectors but the embedding files changed"
            if (sound && n > 0)
              VectorSearch.appendIvfStore(spark, storeDir, fresh)
            (Some(n), sound, note)
          }
        if (hasStore && appendSound) {
          // refresh the staleness sidecar: the store now covers the
          // current embeddings table's per-file inventory
          recordSource()
          println(s"[graft] ivf: appended ${nFreshOpt.get} new vectors -> $storeDir")
        } else {
          if (hasStore)
            println(s"[graft] ivf: store is stale beyond append — $soundnessNote — rebuilding")
          VectorSearch.writeIvf(
            VectorSearch.buildIvf(emb, "doc_id", "embedding", nc), storeDir)
          recordSource()
          println(s"[graft] ivf: ${spark.read.parquet(s"$storeDir/assigned").count()} " +
            s"vectors in $nc clusters -> $storeDir")
        }

      case "pq" =>
        // extension verb: build the PQ-encoded table (codes replace raw
        // vectors for first-pass ANN scoring; 32x smaller at 64-dim f32).
        // m defaults to the auto-selection policy's subquantizer count for
        // this corpus (chooseIndex), overridable as arg 2.
        import graft.operators.VectorSearch
        val emb = spark.read.parquet(s"$kb/embeddings")
        val m =
          if (args.length > 2) args(2).toInt
          else {
            val dim = emb.select(size(col("embedding"))).head().getInt(0)
            VectorSearch.chooseIndex(emb.count(), dim) match {
              case VectorSearch.IndexStrategy.IvfPq(_, sub) => sub
              case _ => math.max(1, math.min(16, dim / 8)) // small corpus: denser codes
            }
          }
        val seeds = emb.select("doc_id").orderBy("doc_id").limit(16)
          .collect().map(_.getLong(0)).toSeq
        val cb = VectorSearch.seededPqCodebook(emb, "doc_id", "embedding", seeds, m)
        VectorSearch.pqEncode(emb, "doc_id", "embedding", cb)
          .select("doc_id", "codes")
          .write.mode("overwrite").parquet(s"$kb/pq_codes")
        println(s"[graft] pq: ${spark.read.parquet(s"$kb/pq_codes").count()} " +
          s"vectors encoded (m=$m, k=${seeds.length}) -> $kb/pq_codes")

      case "categorize" =>
        // reference `customkb categorize` (customkb.py:620-625 →
        // categorize_manager.process_categorize): sample chunks per
        // sourcedoc, categorize, fuzzy-dedup the label set, import back
        import graft.categorize.Categorize
        val chunks = spark.read.parquet(s"$kb/chunks")
          .withColumnRenamed("chunk_text", "text")
        val cats = Categorize.keywordCategorize(
          Categorize.sampleChunks(chunks), "text")
        // canonicalize near-duplicate labels (rapidfuzz>=85 analogue)
        val labels = cats.select(explode(col("categories")).as("label")).distinct()
        val canonMap = Categorize.dedupLabels(labels).collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap // label set is tiny
        val entries = canonMap.toSeq.sortBy(_._1).map { case (l, c) =>
          struct(lit(l).as("k"), lit(c).as("v"))
        }
        val m = map_from_entries(array(entries: _*))
        val canonical = cats.select(col("sourcedoc"),
          element_at(m, col("primary_category")).as("primary_category"),
          array_distinct(sort_array(transform(col("categories"),
            c => element_at(m, c)))).as("categories"))
        canonical.write.mode("overwrite").parquet(s"$kb/categories")
        Categorize.importCategories(chunks, canonical)
          .write.mode("overwrite").parquet(s"$kb/chunks_categorized")
        println(s"[graft] categorize: ${spark.read.parquet(s"$kb/categories").count()} " +
          s"sourcedocs categorized -> $kb/categories, $kb/chunks_categorized")

      case "convert-encoding" =>
        // reference `customkb convert-encoding` (customkb.py:451-472):
        // batch-convert possibly-legacy-encoded files to UTF-8.
        // usage: convert-encoding <inputGlob> <outDir>
        require(args.length >= 3, "convert-encoding <inputGlob> <outDir>")
        val outDir = args(2)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        val n = graft.sources.KbStorage.convertEncoding(spark, args(1), outDir)
        println(s"[graft] convert-encoding: $n files -> $outDir")

      case "edit" =>
        // reference `customkb edit` (customkb.py:69-131) opens the .cfg in
        // $EDITOR; headless analogue: print the effective config, or set a
        // known key and round-trip the canonical INI to <kb>/config.ini
        // (query/database/embed then pick it up via loadCfg).
        // usage: edit <kbDir> [<key> <value>]
        val cfgPath = java.nio.file.Paths.get(s"$kb/config.ini")
        val existing =
          if (java.nio.file.Files.exists(cfgPath))
            new String(java.nio.file.Files.readAllBytes(cfgPath))
          else ""
        if (args.length >= 4) {
          val (key, value) = (args(2).toLowerCase, args(3))
          require(KbConfig.KnownKeys.contains(key),
            s"unknown config key '$key' (known: ${KbConfig.KnownKeys.mkString(", ")})")
          // parseIni keeps the LAST occurrence, so appending the override and
          // re-rendering canonicalizes the file with the new value applied —
          // and load() validates the value's type before anything is written
          val updated = KbConfig.load(existing + s"\n$key = $value", env = Map.empty)
          java.nio.file.Files.write(cfgPath,
            KbConfig.renderIni(updated).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"[graft] edit: $key = $value -> $cfgPath")
        } else {
          val effective = KbConfig.load(existing, env = Map.empty)
          println(KbConfig.renderIni(effective))
        }

      case other => sys.error(s"unknown verb $other")
    }
  }
}
