package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.embed.Embedder
import graft.operators.SessionMemo
import graft.store.Versioned

/** The reference's two QUERY-side caches, re-expressed as cache-table
  * JOINS (the other two of its four caches already serve this way:
  * chunk-embedding = m5, enhancement = f6):
  *
  *  - query-EMBEDDING cache (`query/embedding.py:47-143` — an in-process
  *    dict keyed by the query string): here exactly
  *    [[Embedder.embedWithCache]] applied to the QUERY table — content-key
  *    join for hits, one anti-join isolates misses for the provider;
  *  - RERANK-SCORE cache (`embedding/rerank_manager.py:25-130` — an LRU of
  *    (query, passage) → score): [[rerankWithCache]] below, keyed by
  *    (query content key, candidate id).
  *
  * Serving contract (what the m16 oracles prove): a cache HIT's value is
  * READ from the table, never recomputed — the warm-pass plan touches the
  * scorer/provider only for misses, and a hit ≡ recompute because both
  * caches are keyed by full content. 100 TB shape: the cache is a table
  * like any other — hits are one equi-join against it (broadcastable while
  * small, shuffle-join when not), misses are one anti-join, and appends
  * are the returned `newCacheRows`; nothing is resident driver state. The
  * single-query form ([[embedQueryCached]]) alone keeps a resident map in
  * front of its table, under the budget the vector rungs use, and writes
  * its misses to the table behind the request.
  */
object QueryCache {

  /** `scored` = every candidate with its `rscore` (hits read from cache,
    * misses computed); `newCacheRows` = the computed misses,
    * `(query_key, <idCol>, rscore)`, for the caller to append.
    */
  final case class RerankCache(scored: DataFrame, newCacheRows: DataFrame)

  /** Score candidate pairs through a `(query_key, <idCol>, rscore)` cache
    * table. `cands` must carry the query text (`qTextCol`), the candidate
    * id (`idCol`), and whatever columns `scoreCol` reads (doc text/tokens);
    * the output keeps every `cands` column plus `query_key` and `rscore`.
    * Hits take their score FROM THE TABLE; only misses evaluate
    * `scoreCol`, once, and come back as `newCacheRows`.
    */
  def rerankWithCache(cands: DataFrame, qTextCol: String, idCol: String,
                      cache: DataFrame, scoreCol: Column): RerankCache = {
    val keyed = cands.withColumn("query_key",
      Embedder.contentKey(col(qTextCol)))
    // dedup the lookup side: a duplicated cache row (two concurrent
    // appends of the same key) must not fan out candidates — scores per
    // (query, doc) key are identical, so either copy is correct
    val lookup = cache.select(col("query_key"), col(idCol), col("rscore"))
      .dropDuplicates("query_key", idCol)
    val hits = keyed.join(lookup, Seq("query_key", idCol))
    // persist: misses feed BOTH the result union and newCacheRows — without
    // it each action re-evaluates the scorer (2× model calls for a real
    // cross-encoder, the cost the cache exists to avoid)
    val misses = keyed
      .join(lookup.select(col("query_key"), col(idCol)),
        Seq("query_key", idCol), "left_anti")
      .withColumn("rscore", scoreCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    RerankCache(hits.unionByName(misses),
      misses.select(col("query_key"), col(idCol), col("rscore")))
  }

  /** Single-query serving form of the query-embedding cache, the one the
    * `query` CLI verb runs per request: the reference's in-process dict
    * (`query/embedding.py:47-143`) in front of an at-rest table the whole
    * cluster shares. The batched join form ([[Embedder.embedWithCache]])
    * covers bulk paths, and m16 proves hit ≡ recompute value-exactly.
    *
    * Serving contract, per `(model, dims)` cache directory, a
    * [[graft.store.Versioned]] store of `(content_key, embedding)` rows:
    *  - resident hit: the newest version's rows, loaded by one collect
    *    into a [[graft.operators.SessionMemo]] entry keyed by the directory
    *    and marked with the version's number (0 = none), serve a copy with
    *    no listing and no job: a vector is a function of its key, so a map
    *    that missed a commit, or outlived its directory, is still correct;
    *  - miss reload: a key the map lacks lists `_manifest`, and a newest
    *    number that differs from the map's (the first load, a foreign
    *    flush, a deleted directory) reloads the map before the key is
    *    looked up again;
    *  - at rest over the budget: a table over
    *    [[graft.operators.Resident.MaxFloats]] is served by one
    *    pushdown-filtered read of the newest version per lookup. The cache
    *    only grows, so it stays at rest until `forget` evicts its entry;
    *  - write-behind miss: a key still missing calls the provider once
    *    and adds the row to the map and to its pending rows, with no job.
    *    The miss that makes 32 pending rows commits them all as one
    *    segment `v<N>/`, listed after the previous version's segments (a
    *    commit that would list more than [[graft.store.Versioned.MaxSegments]]
    *    writes one merged segment instead), so the engine's own commit
    *    never forces a reload. [[flush]] commits a session's pending rows
    *    at any time; the `query` verb calls it before it exits. A reload
    *    keeps the pending rows. A table over the budget commits each
    *    miss's row at once. Commits to one directory from one JVM, from
    *    any session, run one at a time;
    *  - lost rows: pending rows that never reach the table (a crash, a
    *    failed flush, a `forget`, a session that never calls [[flush]])
    *    cost a recompute, a duplicate row is tolerated, and a crashed
    *    flush's segment is listed by no manifest, so no reader sees it.
    * A row whose embedding is null or of the wrong length (a corrupt or
    * hand-migrated cache) is never a hit on either path: the query
    * recomputes instead of serving a vector the cosine stage would
    * silently mis-score.
    */
  def embedQueryCached(spark: SparkSession, cacheDir: String, text: String,
                       provider: Embedder.Provider): Array[Float] = {
    // the cache identity is (model, dims, content): vectors from different
    // embedding models live in different subdirectories, so an `edit` that
    // switches models (or a re-embed that changes vector_dimensions) can
    // never serve a stale vector of the wrong space. Model names sanitize
    // to a path token; the dims ride separately so a same-name dims change
    // still separates. Older layouts (rows at the cacheDir ROOT, or files
    // in a model directory with no manifest) are deliberately ORPHANED:
    // an unkeyed entry does not record its model, so serving it is the
    // stale-model bug keying prevents; each costs one re-embed.
    val dir = s"$cacheDir/${provider.model.replaceAll("[^A-Za-z0-9_.-]", "_")}" +
      s"_${provider.dims}"
    val key = contentKeyValue(text)
    val ref = residentRef(spark, dir)
    def lookup(r: Resident): Option[Array[Float]] =
      if (!r.overBudget) r.vecs.get(key).map(_.clone) // callers own it
      else store.latest(spark, dir).flatMap(v => rows(spark, v)
        .filter(col("content_key") === key && size(col("embedding")) === provider.dims)
        .select("embedding").take(1).headOption
        .map(_.getSeq[Float](0).toArray))
    val hit = lookup(ref.get).orElse {
      lazy val latest = store.latest(spark, dir)
      if (ref.get.overBudget || latest.fold(0L)(_.number) == ref.get.stamp) None
      else {
        // the reload keeps this session's pending rows, resident and
        // pending; a table now over the budget gets them written at once
        val loaded = loadResident(spark, latest, provider.dims)
        val r = ref.updateAndGet(r =>
          if (loaded.overBudget) loaded.copy(pending = r.pending)
          else loaded.copy(vecs = loaded.vecs ++ r.pending, pending = r.pending))
        if (r.overBudget) flushDir(spark, dir, ref)
        lookup(r)
      }
    }
    hit.getOrElse {
      val v = provider.embedBatch(Seq(text)).head
      val held = v.clone
      val r = ref.updateAndGet(r => r.copy(
        vecs = if (r.overBudget) r.vecs else r.vecs.updated(key, held),
        pending = r.pending.updated(key, held)))
      if (r.overBudget || r.pending.size >= FlushRows) flushDir(spark, dir, ref)
      v
    }
  }

  /** Commit every pending row of this session's cache directories, one
    * segment per directory that has any. The `query` verb calls it before
    * it exits; a long-lived caller may call it at any time.
    */
  def flush(spark: SparkSession): Unit =
    residentCache.entries(spark).foreach { case (dir, ref) => flushDir(spark, dir, ref) }

  /** Pending rows per directory that one miss writes behind together. */
  private val FlushRows = 32

  /** The cache directories' store: a version is its manifest. */
  private[graft] val store = new Versioned[Versioned.Manifest](identity)
  private def rows(spark: SparkSession, v: Versioned.Manifest): DataFrame =
    spark.read.schema("content_key STRING, embedding ARRAY<FLOAT>").parquet(v.segmentPaths: _*)

  /** One cache directory's valid rows as loaded plus this session's own
    * misses, and the number of the version the loaded rows are current
    * for (0 = none); `pending` = the misses not yet written (each also in
    * `vecs`); `overBudget` marks a table served at rest.
    */
  private final case class Resident(stamp: Long, vecs: Map[String, Array[Float]],
                                    pending: Map[String, Array[Float]] = Map.empty,
                                    overBudget: Boolean = false)
  private type ResidentRef = java.util.concurrent.atomic.AtomicReference[Resident]
  private val residentCache = new SessionMemo[ResidentRef]

  private def residentRef(spark: SparkSession, dir: String): ResidentRef =
    residentCache.getOrBuild(spark, dir)(
      new java.util.concurrent.atomic.AtomicReference(Resident(0L, Map.empty)))

  /** Swap `dir`'s pending rows out and commit them, by one job. A map
    * current for the version the commit follows becomes current for the
    * new one; otherwise the next miss reloads and finds the written rows.
    */
  private def flushDir(spark: SparkSession, dir: String, ref: ResidentRef): Unit = {
    val taken = ref.getAndUpdate(_.copy(pending = Map.empty))
    if (taken.pending.nonEmpty) {
      import spark.implicits._
      var base = 0L
      val v = store.commit(spark, dir) { (number, prev) =>
        base = prev.fold(0L)(_.number)
        val kept = prev.fold(Seq.empty[String])(_.segments)
        val fresh = taken.pending.toSeq.toDF("content_key", "embedding")
        val merge = prev.filter(_ => kept.size >= Versioned.MaxSegments)
        merge.fold(fresh)(rows(spark, _).unionByName(fresh))
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/v$number")
        (Nil, (if (merge.isDefined) Nil else kept) :+ s"v$number")
      }
      if (!taken.overBudget && base == taken.stamp)
        ref.updateAndGet(r => if (r.stamp == taken.stamp) r.copy(stamp = v.number) else r)
    }
  }

  /** The rows of version `v`, by one job: the explicit schema spares the
    * footer read, and the row limit over one partition stops the scan one
    * row past the budget. No job where the store has no version.
    */
  private def loadResident(spark: SparkSession, v: Option[Versioned.Manifest],
                           dims: Int): Resident =
    v.fold(Resident(0L, Map.empty)) { v =>
      val maxRows = (graft.operators.Resident.MaxFloats / math.max(dims, 1)).toInt
      val got = rows(spark, v)
        .filter(col("content_key").isNotNull && size(col("embedding")) === dims)
        .coalesce(1).limit(maxRows + 1).collect()
      if (got.length > maxRows) Resident(v.number, Map.empty, overBudget = true)
      else Resident(v.number, got.iterator
        .map(r => r.getString(0) -> r.getSeq[Float](1).toArray).toMap)
    }

  /** Driver-side twin of [[Embedder.contentKey]] (sha2 hex, lowercase). */
  private[graft] def contentKeyValue(text: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** A provider that REFUSES to embed — wiring it into a warm pass turns
    * "the cache served every row" from an assumption into a property the
    * run itself enforces (any miss crashes instead of silently
    * recomputing). The m16_query_cache oracle's second pass runs on this.
    *
    * @param mirrorModel the REAL provider's model name to impersonate —
    *   [[embedQueryCached]] keys its at-rest cache by (model, dims), so a
    *   warm-pass refuser must look up the same cache the real provider
    *   filled (empty = the standalone `cache-only-<dims>` identity).
    */
  def refusingProvider(dimensions: Int,
                       mirrorModel: String = ""): Embedder.Provider =
    new Embedder.Provider {
      val model =
        if (mirrorModel.nonEmpty) mirrorModel else s"cache-only-$dimensions"
      val dims = dimensions
      def embedBatch(texts: Seq[String]): Seq[Array[Float]] =
        throw new IllegalStateException(
          s"cache miss reached the provider for ${texts.size} text(s): " +
            texts.headOption.getOrElse(""))
    }
}
