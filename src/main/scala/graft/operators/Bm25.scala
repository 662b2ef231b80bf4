package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Okapi BM25 as DataFrame programs (SURVEY §2.4 A1/A2, §2.1 S8).
  *
  * The reference builds a single-node NPZ index with rank_bm25
  * (`/root/reference/embedding/bm25_manager.py:64-99`) and scores queries by
  * materializing a dense score per document
  * (`bm25_manager.py:284-287`). Here the "index" is two DataFrames —
  * postings `(doc_id, term, tf)` and per-document lengths — that in
  * production would be written as parquet bucketed by `term`, so query-side
  * scoring is a semi-join that touches only the postings of the query's
  * terms (partition-pruned at 100 TB instead of a full dense pass).
  *
  * Okapi parameters k1=1.2, b=0.75 match the reference defaults
  * (`/root/reference/config/models.py:162-163`).
  */
object Bm25 {
  val K1 = 1.2
  val B = 0.75

  /** Postings list: one row per (doc_id, term) with term frequency.
    * `explode` + `groupBy` — map-side partial aggregation keeps the shuffle
    * to distinct (doc_id, term) pairs, not raw token occurrences.
    */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokenizeBm25(col(textCol))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))

  /** Per-document BM25 length = number of token occurrences after
    * tokenization (the reference stores unique-token counts in `doc_length`,
    * `/root/reference/utils/text_utils.py:314`, but feeds rank_bm25 the full
    * token sequence whose length is what Okapi's normalization wants; we use
    * the sum of tfs so postings and lengths stay consistent).
    */
  def docLengths(postings: DataFrame): DataFrame =
    postings.groupBy("doc_id").agg(sum("tf").as("doc_len"))

  /** Per-term document frequency and Okapi idf:
    * idf(t) = ln( (N - df + 0.5) / (df + 0.5) + 1 )  — rank_bm25's variant
    * (non-negative), computed from the postings alone.
    */
  def idf(postings: DataFrame, corpusSize: Long): DataFrame =
    postings.groupBy("term")
      .agg(count(lit(1)).as("df"))
      .withColumn("idf",
        log((lit(corpusSize.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1.0))

  /** The BM25 per-(doc,term) score expression. */
  def termScore(tf: Column, docLen: Column, avgdl: Column, idf: Column,
                k1: Double = K1, b: Double = B): Column =
    idf * (tf * (k1 + 1.0)) /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * docLen.cast("double") / avgdl))

  /** The prebuilt BM25 index (S8): postings + lengths + idf + corpus
    * stats. The reference persists this as NPZ and loads it per query
    * (`/root/reference/embedding/bm25_manager.py:115-211`); here the
    * DataFrames are persisted (memory/disk) and — at cluster scale —
    * written as parquet bucketed by `term`.
    */
  final case class Index(postings: DataFrame, lengths: DataFrame,
                         idf: DataFrame, stats: DataFrame,
                         cacheKey: Option[String] = None) {
    /** The one-row stats row, snapshotted on the driver ONCE per index with
      * a single job (r18: [[avgdl]] and [[termBuckets]] each ran their own
      * one-row head — two sequential jobs per served index; every scalar
      * now reads from this shared snapshot).
      */
    private[operators] lazy val statsRow: org.apache.spark.sql.Row = stats.head()

    /** Corpus avgdl — served from [[statsRow]]; serving queries inline it
      * as a literal instead of re-running the stats aggregation (or a
      * 1-row broadcast build) per query. The reference holds the same
      * scalar in memory with its loaded index.
      */
    lazy val avgdl: Double =
      statsRow.getDouble(statsRow.fieldIndex("avgdl"))

    /** Corpus document count — served from [[statsRow]] like [[avgdl]];
      * the driver-side scale signal adaptive policies key on (r18:
      * [[Rm3]] gates its pass-1 slice reuse on it). Pre-`n` legacy
      * stores fall back to counting lengths, the [[mergeIndex]] rule.
      */
    lazy val nDocs: Long =
      if (stats.columns.contains("n"))
        statsRow.getLong(statsRow.fieldIndex("n"))
      else lengths.count()

    /** Term-bucket count of an at-rest bucketed index (None for in-memory
      * or pre-bucketing indexes). Served from [[statsRow]] like [[avgdl]].
      */
    lazy val termBuckets: Option[Int] =
      if (stats.columns.contains("term_buckets") &&
          postings.columns.contains("term_bucket"))
        Some(statsRow.getInt(statsRow.fieldIndex("term_buckets")))
          .filter(_ > 0)
      else None
  }

  /** Default term-bucket count for at-rest postings. At 100 TB each bucket
    * is a partition directory; a query's handful of terms touches a handful
    * of directories out of 64 — the NPZ-loads-only-term-arrays regime
    * (`/root/reference/embedding/bm25_manager.py:115-211`) as file-level
    * partition pruning.
    */
  val DefaultTermBuckets = 64

  /** Bucket expression for a term column — crc32 over the UTF-8 bytes, mod
    * n. CRC32 (not Spark's murmur `hash`) so the driver twin below is
    * bit-identical by construction: a divergent twin would silently prune a
    * needed posting.
    */
  def termBucket(term: Column, n: Int): Column =
    pmod(crc32(term.cast("binary")), lit(n.toLong)).cast("int")

  /** Driver twin of [[termBucket]], for turning a query's (driver-held)
    * term list into a partition-pruning `isin` literal with no Spark job.
    * Twin≡expression is spec-asserted over the full test vocabulary.
    */
  def termBucketValue(term: String, n: Int): Int = {
    val c = new java.util.zip.CRC32()
    c.update(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (c.getValue % n).toInt
  }

  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
                 persist: Boolean = false): Index = {
    val n = docs.count()
    val post0 = postings(docs, idCol, textCol)
    // denormalize doc_len INTO the postings rows (one build-time join):
    // per-(doc,term) scoring needs (tf, doc_len), and carrying doc_len in
    // the row removes a corpus-sized lengths join from EVERY query — pay
    // 8 bytes/posting at rest instead of a shuffle per query (the same
    // build-vs-serve trade the reference's dense NPZ index makes)
    // ONE lengths aggregation, reused for both the denormalizing join and
    // Index.lengths — docLengths over the joined result would re-run the
    // corpus-wide aggregation at build time for identical rows
    val lens = docLengths(post0)
    val l = if (persist) lens.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) else lens
    val post = post0.join(l, "doc_id")
    val p = if (persist) post.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) else post
    val idfDf = idf(p, n)
    val i = if (persist) idfDf.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) else idfDf
    // corpus size rides in stats so an index can be incrementally MERGED
    // later (idf needs N; avgdl consumers ignore the extra columns), and
    // the EXACT integer doc_len sum so an at-rest APPEND can update avgdl
    // bit-identically to a rebuild ([[appendIndexStore]])
    // n counts ALL docs (idf's N) while avgdl averages over the
    // TOKEN-BEARING lengths rows only — n_len records that denominator so
    // an append can reproduce both exactly even when docs tokenize empty
    val stats = l.agg(avg(col("doc_len").cast("double")).as("avgdl"),
        sum(col("doc_len").cast("long")).as("sum_dl"),
        count(lit(1)).as("n_len"))
      .withColumn("n", lit(n))
    Index(p, l, i, stats)
  }

  /** Incremental index maintenance (S8 at 100 TB: never rebuild the whole
    * postings table for a new batch of documents). New docs' postings are
    * UNIONED onto the old postings — an append-only parquet write in
    * practice — and only the term-level statistics (idf, avgdl) are
    * recomputed, from the merged postings and the tracked corpus size.
    * Equivalent to a full rebuild over old ∪ new (spec-asserted).
    *
    * Contract: `newDocs` ids are disjoint from the indexed corpus (route
    * re-ingests through the S5 anti-join first).
    */
  def mergeIndex(old: Index, newDocs: DataFrame, idCol: String, textCol: String): Index = {
    val newN = newDocs.count()
    // corpus size off the index's one shared statsRow snapshot (r19: this
    // ran its own one-row head job per merge even when `old` was a
    // memoized cachedIndex/readIndex instance whose snapshot already
    // existed — e2e_incremental paid it on every invocation); Index.nDocs
    // keeps the pre-`n` legacy fallback of counting lengths
    val oldN = old.nDocs
    val np0 = postings(newDocs, idCol, textCol)
    val npLens = docLengths(np0)
    val np = np0.join(npLens, "doc_id")
    // a term-bucketed STORED index carries the term_bucket partition
    // column the fresh batch lacks — drop it before the union (the merged
    // in-memory index is not bucket-complete anyway; Index.termBuckets
    // goes None so no pruning is attempted, and writeIndex re-derives the
    // column from scratch on the next store)
    val oldPost0 = withDocLen(old)
    val oldPost = if (oldPost0.columns.contains("term_bucket"))
      oldPost0.drop("term_bucket") else oldPost0
    val post = oldPost.unionByName(np)
    val lens = old.lengths.unionByName(npLens)
    val idfDf = idf(post, oldN + newN)
    val stats = lens.agg(avg(col("doc_len").cast("double")).as("avgdl"),
        sum(col("doc_len").cast("long")).as("sum_dl"),
        count(lit(1)).as("n_len"))
      .withColumn("n", lit(oldN + newN))
    Index(post, lens, idfDf, stats)
  }

  /** Incremental index maintenance, delete side: drop a set of doc ids from
    * the index without touching other postings — an anti-join on `doc_id`
    * (at rest: partition/bucket-pruned rewrite of only the affected files)
    * plus a stats/idf recompute from the surviving postings. Equivalent to a
    * full rebuild over corpus ∖ removed (spec-asserted).
    */
  def removeDocs(old: Index, removeIds: DataFrame, idCol: String): Index = {
    val rm = removeIds.select(col(idCol).as("doc_id"))
    val post = old.postings.join(rm, Seq("doc_id"), "left_anti")
    val lens = old.lengths.join(rm, Seq("doc_id"), "left_anti")
    val oldN = old.nDocs // shared statsRow snapshot (see mergeIndex)
    val removedN = old.lengths.join(rm, Seq("doc_id"), "left_semi").count()
    val n = oldN - removedN
    val idfDf = idf(post, n)
    val stats = lens.agg(avg(col("doc_len").cast("double")).as("avgdl"),
        sum(col("doc_len").cast("long")).as("sum_dl"),
        count(lit(1)).as("n_len"))
      .withColumn("n", lit(n))
    Index(post, lens, idfDf, stats)
  }

  /** S8 index persistence: the reference writes NPZ + JSON sidecars
    * (`bm25_manager.py:71-112`); here the index IS tables — written as
    * parquet with postings PARTITIONED by `term_bucket` (crc32(term) mod
    * `termBuckets`), so a query's semi-join scans only its terms' bucket
    * directories (PartitionFilters in the served plan — Bm25Spec asserts
    * it). `termBuckets = 0` writes flat postings (the pre-r11 layout; reads
    * of either layout keep working).
    */
  def writeIndex(ix: Index, dir: String,
                 termBuckets: Int = DefaultTermBuckets): Unit = {
    // lengths/idf/stats all derive from postings: persist it for the span
    // of the four writes or the full corpus aggregation re-runs per sink
    val alreadyPersisted =
      ix.postings.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val post = if (alreadyPersisted) ix.postings
      else ix.postings.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // postings are SORTED BY TERM within each bucket file, so parquet
      // page/row-group min-max statistics line up with the term IN (…)
      // pushdown [[prunedPostings]] emits: a query's scan skips to its
      // terms' page runs instead of decoding the whole bucket. The
      // repartition also consolidates each bucket to one file per task
      // instead of one per (writer task × bucket) — on the small-vocab
      // test corpus (where buckets resolve to 1-2 terms and page pruning
      // has little left to skip) the measured rm3-batch win (30.8 →
      // 21.6 s at 100×, same-day A/B) is substantially this footer/open
      // amplification disappearing; on real vocabularies the page
      // pruning is the operative half
      if (termBuckets > 0)
        post.withColumn("term_bucket", termBucket(col("term"), termBuckets))
          .repartition(col("term_bucket"))
          .sortWithinPartitions("term_bucket", "term", "doc_id")
          .write.mode("overwrite").partitionBy("term_bucket")
          .parquet(s"$dir/postings")
      else
        post.sortWithinPartitions("term", "doc_id")
          .write.mode("overwrite").parquet(s"$dir/postings")
      ix.lengths.write.mode("overwrite").parquet(s"$dir/lengths")
      ix.idf.write.mode("overwrite").parquet(s"$dir/idf")
      ix.stats.withColumn("term_buckets", lit(termBuckets))
        .write.mode("overwrite").parquet(s"$dir/stats")
    } finally if (!alreadyPersisted) post.unpersist()
  }

  // r19: the Index PLANS are memoized per (session, dir@fingerprint) too —
  // every spark.read.parquet schedules a footer/listing job, so each
  // readIndex call was four sequential driver jobs plus a fresh one-row
  // statsRow head on first scalar access (t13_rm3_served/_batch20 and
  // t15_boolean_served paid all five per invocation). The fingerprint in
  // the key is the SAME staleness contract the in-process memo already
  // rides: every store mutation (writeIndex, appendIndexStore) rewrites
  // stats last, so a rewritten store reads fresh and an unchanged store
  // serves the memoized plans (and its already-snapshotted statsRow).
  private val storedIndexCache = new SessionMemo[Index]
  def readIndex(spark: org.apache.spark.sql.SparkSession, dir: String): Index = {
    // a stored index has a natural identity — the serving fast path
    // ([[indexInProcess]]) memoizes its in-memory term arrays under it,
    // the reference's load-NPZ-arrays-once regime. The key carries a
    // cheap directory fingerprint (stats file mtimes+sizes) so a
    // REWRITTEN index read in the same session gets a fresh snapshot
    // instead of the stale memoized arrays; non-local filesystems
    // (no java.io view) fingerprint as 0 and fall back to dir-only
    // identity, which [[appendIndexStore]] keeps coherent by evicting
    // the store ([[SessionMemo.forget]]) around its commit
    val key = s"stored:$dir@${PathFingerprint(s"$dir/stats")}"
    storedIndexCache.getOrBuild(spark, key)(Index(
      spark.read.parquet(s"$dir/postings"),
      spark.read.parquet(s"$dir/lengths"),
      spark.read.parquet(s"$dir/idf"),
      spark.read.parquet(s"$dir/stats"),
      cacheKey = Some(key)))
  }

  /** Incremental append to an AT-REST BM25 store — [[mergeIndex]]'s
    * economics on the persisted artifact (the [[graft.operators.VectorSearch.appendIvfStore]]
    * analogue; reference: the NPZ sidecar is rebuilt whole on every
    * change, `embedding/bm25_manager.py:71-112`): the batch's postings
    * and lengths APPEND partition-wise into the bucketed directories
    * (existing files never read or rewritten), and only the VOCAB-sized
    * idf table and the one-row stats are rewritten — from the STORED df
    * counts plus the batch's, never by rescanning the postings.
    * Equivalent to `writeIndex(buildIndex(old ∪ batch))` scoring-value-
    * exactly:
    *  - postings/lengths rows are per-doc independent — identical;
    *  - `df' = df_stored + df_batch` in integers and `N' = N + |batch|`,
    *    so every term's idf double recomputes from identical inputs;
    *  - avgdl derives from the EXACT integer doc_len sum (integer-valued
    *    doubles sum exactly below 2^53, so the rebuild's avg aggregation
    *    equals `sum/count` bit-for-bit) — the stored `sum_dl` plus the
    *    batch's; stores written before `sum_dl` pay one slim scan of the
    *    stored lengths table instead.
    * The stats rewrite changes the store's [[PathFingerprint]], so the
    * in-process serving memo can never serve the pre-append snapshot on a
    * filesystem with a `java.io` view. On any filesystem the append
    * evicts the store from every session memo ([[SessionMemo.forget]])
    * before its read and after its commit, so its stats and listings, the
    * later readers' plans and the in-process term arrays stay fresh.
    * Contract (as [[mergeIndex]]): batch doc ids are disjoint from the
    * store's — ENFORCED here (one slim semi-join against the stored
    * lengths), which also makes a crashed append retry-SAFE: lengths are
    * appended before postings, so a retry after any partial failure sees
    * the overlap and aborts with a rebuild instruction instead of
    * silently double-counting tf/df.
    */
  def appendIndexStore(spark: org.apache.spark.sql.SparkSession, dir: String,
                       newDocs: DataFrame, idCol: String,
                       textCol: String): Unit = {
    import spark.implicits._
    SessionMemo.forget(spark, dir)
    val stored = readIndex(spark, dir)
    // ONE one-row head for every stats scalar this append needs (r18: n,
    // term_buckets, n_len and sum_dl each ran their own job — four
    // sequential one-row jobs on the same one-row table)
    val statsCols = stored.stats.columns.toSet
    val statsRow = stored.statsRow // shared snapshot; one head per store read
    def statL(c: String): Long = statsRow.getLong(statsRow.fieldIndex(c))
    val oldN = statL("n")
    val storedBuckets =
      if (statsCols.contains("term_buckets"))
        statsRow.getInt(statsRow.fieldIndex("term_buckets"))
      else 0
    // consistency sentinel (ADVICE r15): stats is written LAST, so its
    // n_len is the committed lengths row count — a crash between the
    // postings append and the idf/stats rewrite leaves actual lengths
    // (appended FIRST) ahead of the committed count, and the store would
    // otherwise serve with stale idf/avgdl/n without complaint. One slim
    // lengths scan per append catches it even when the NEXT batch's ids
    // are disjoint (the overlap require below only catches a same-batch
    // retry).
    // ONE scan of the stored lengths serves BOTH stored-side checks (r18:
    // the sentinel count and the overlap semi-join each scanned lengths in
    // their own job): total row count (vs the committed n_len) and overlap
    // with the batch ids. The semi-join direction keeps the same scale
    // shape as before — lengths-side rows survive at most once per row, so
    // count(matched doc_id) ≡ the old left_semi count.
    val batchIds = newDocs.select(col(idCol).as("doc_id")).distinct()
    val chkRow = stored.lengths.select("doc_id")
      .join(batchIds.withColumn("hit", lit(1)), Seq("doc_id"), "left_outer")
      .agg(count(lit(1)).as("actual"), count(col("hit")).as("overlap"))
      .head()
    val (actual, overlap) = (chkRow.getLong(0), chkRow.getLong(1))
    if (statsCols.contains("n_len")) {
      val committed = statL("n_len")
      require(actual == committed,
        s"appendIndexStore: store at $dir is inconsistent (lengths rows " +
          s"$actual != committed n_len $committed) — a previous append " +
          "crashed between the data appends and the stats commit; rebuild " +
          "the store (writeIndex) before appending")
    }
    val batchDocs = newDocs.count() // ALL batch docs — idf's N counts
    // docs that tokenize to nothing too, exactly as buildIndex's n does
    require(overlap == 0L,
      s"appendIndexStore: $overlap batch doc ids already in the store at " +
        s"$dir — route re-ingests through the S5 anti-join; if a previous " +
        "append crashed mid-write, rebuild the store (writeIndex) instead " +
        "of retrying")
    val post0 = postings(newDocs, idCol, textCol)
    val lens = docLengths(post0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // lengths FIRST: they are the overlap sentinel a retry checks
      lens.write.mode("append").parquet(s"$dir/lengths")
      val post = if (stored.postings.columns.contains("doc_len"))
        post0.join(lens, "doc_id") else post0
      // appended files keep the store's term-sorted-within-bucket layout
      // (batch-sized sort) so page-level term pruning covers them too
      if (storedBuckets > 0)
        post.withColumn("term_bucket", termBucket(col("term"), storedBuckets))
          .repartition(col("term_bucket"))
          .sortWithinPartitions("term_bucket", "term", "doc_id")
          .write.mode("append").partitionBy("term_bucket")
          .parquet(s"$dir/postings")
      else post.sortWithinPartitions("term", "doc_id")
        .write.mode("append").parquet(s"$dir/postings")
      val bRow = lens.agg(count(lit(1)),
        coalesce(sum(col("doc_len").cast("long")), lit(0L))).head()
      val (batchLenRows, batchSum) = (bRow.getLong(0), bRow.getLong(1))
      // avgdl's denominator is the TOKEN-BEARING row count (buildIndex
      // averages over lengths rows), tracked separately from idf's n;
      // stores written before sum_dl/n_len pay one slim lengths scan
      val (oldSum, oldLenRows) =
        if (statsCols.contains("sum_dl") && statsCols.contains("n_len"))
          (statL("sum_dl"), statL("n_len"))
        else {
          val r = stored.lengths
            .agg(coalesce(sum(col("doc_len").cast("long")), lit(0L)),
              count(lit(1))).head()
          (r.getLong(0), r.getLong(1))
        }
      val n2 = oldN + batchDocs
      val sum2 = oldSum + batchSum
      val nLen2 = oldLenRows + batchLenRows
      // vocab-sized df merge → idf rewrite; the eager localCheckpoint
      // severs lineage from the files being overwritten
      stored.idf.select(col("term"), col("df"))
        .join(post0.groupBy("term").agg(count(lit(1)).as("df_b")),
          Seq("term"), "full_outer")
        .select(col("term"),
          (coalesce(col("df"), lit(0L)) + coalesce(col("df_b"), lit(0L)))
            .as("df"))
        .withColumn("idf",
          log((lit(n2.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
        .localCheckpoint(true)
        .write.mode("overwrite").parquet(s"$dir/idf")
      Seq((sum2.toDouble / nLen2, sum2, nLen2, n2, storedBuckets))
        .toDF("avgdl", "sum_dl", "n_len", "n", "term_buckets")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
    } finally {
      lens.unpersist()
      SessionMemo.forget(spark, dir)
    }
  }

  /** Memoized per-corpus index — the "load the persisted index" path the
    * reference takes on every query. Keyed by corpus identity (sf dir).
    */
  private val indexCache = new SessionMemo[Index]
  def cachedIndex(key: String, docs: => DataFrame, idCol: String, textCol: String): Index = {
    val d = docs
    indexCache.getOrBuild(d.sparkSession, key)(
      buildIndex(d, idCol, textCol, persist = true).copy(cacheKey = Some(key)))
  }

  /** Driver-side snapshot of a keyed index for IN-PROCESS query scoring —
    * the reference's serving shape exactly: `bm25_manager.py:115-211` loads
    * the NPZ term arrays into process memory once and scores queries
    * against them with no I/O. Guarded by a LIMIT-bounded postings count
    * (the [[graft.operators.Dedup]] broadcast-guard pattern) and memoized
    * per (session, cacheKey); an unkeyed index, an over-limit index, or a
    * non-integral doc_id never takes the fast path — at 100 TB the
    * bucket-pruned distributed scan is unchanged.
    */
  private final case class InProcIndex(
    postings: Map[String, Array[(Long, Long, Long)]], // term -> (doc_id, tf, doc_len)
    idf: Map[String, Double], avgdl: Double)
  private val inProcCache = new SessionMemo[Option[InProcIndex]]
  private def indexInProcess(ix: Index, spark: org.apache.spark.sql.SparkSession,
                             limit: Int): Option[InProcIndex] = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    if (limit <= 0) return None
    ix.cacheKey.flatMap { k0 =>
      def integral(df: DataFrame, c: String): Boolean =
        df.schema(c).dataType == LongType || df.schema(c).dataType == IntegerType
      if (!integral(ix.postings, "doc_id")) return None
      def build(): Option[InProcIndex] = {
        val post = withDocLen(ix)
        if (post.limit(limit + 1).count() > limit) None
        else {
          import spark.implicits._
          val rows = post.select(col("term"),
              col("doc_id").cast("long"), col("tf").cast("long"),
              col("doc_len").cast("long"))
            .as[(String, Long, Long, Long)].collect()
          val byTerm = rows.groupBy(_._1).map { case (t, xs) =>
            t -> xs.map(x => (x._2, x._3, x._4)) }
          val idfM = ix.idf.select(col("term"), col("idf").cast("double"))
            .as[(String, Double)].collect().toMap
          Some(InProcIndex(byTerm, idfM, ix.avgdl))
        }
      }
      inProcCache.getOrBuild(spark, s"$k0|lim=$limit")(build())
    }
  }

  /** Driver replay of the distributed scoring sum for one tokenized query
    * over the in-process index: same [[termScore]] arithmetic (operation
    * for operation), deterministic term-ascending accumulation order. Raw
    * double sums can differ from the shuffle plan's accumulation order in
    * the last bits — within the pipeline's rounded-ranking contract, which
    * exists precisely because distributed sum order is itself run-dependent
    * (every consumer ranks on `round(score, 4)`; spec + oracle-asserted).
    */
  private def scoreInProcess(ip: InProcIndex, terms: Seq[String],
                             k1: Double, b: Double): Seq[(Long, Double)] = {
    val acc = new java.util.HashMap[Long, Double]()
    terms.groupBy(identity).toSeq.sortBy(_._1).foreach { case (t, ts) =>
      val qtf = ts.size.toLong
      (ip.postings.get(t), ip.idf.get(t)) match {
        case (Some(posts), Some(idfV)) =>
          var i = 0
          while (i < posts.length) {
            val (docId, tf, docLen) = posts(i)
            val s = qtf * (idfV * (tf * (k1 + 1.0)) /
              (tf + k1 * ((1.0 - b) + b * docLen.toDouble / ip.avgdl)))
            acc.merge(docId, s, (x, y) => x + y)
            i += 1
          }
        case _ => ()
      }
    }
    import scala.jdk.CollectionConverters._
    acc.asScala.toSeq.filter(_._2 > 0).sortBy(_._1)
  }

  /** Score a single query string against a prebuilt index.
    *
    * Serving shape: a KEYED index under `inProcessLimit` postings rows
    * scores entirely in process ([[indexInProcess]]) and returns a
    * LocalRelation — zero jobs warm, the reference's loaded-NPZ regime.
    * `inProcessLimit = 0` (or an unkeyed/over-limit index) keeps the
    * bucket-pruned distributed scan unchanged.
    */
  /** The in-process branch of [[scoreWithIndex]] as VALUES — the raw
    * `(doc_id, score)` list (positive scores only, same driver replay of
    * the distributed sum) for callers composing further driver-side stages.
    * None when the index is unkeyed or over the guard — callers keep the
    * distributed plan.
    */
  def scoreWithIndexValues(ix: Index, spark: org.apache.spark.sql.SparkSession,
                           query: String, k1: Double = K1, b: Double = B,
                           inProcessLimit: Int = 2000000): Option[Seq[(Long, Double)]] =
    indexInProcess(ix, spark, inProcessLimit).map(ip =>
      scoreInProcess(ip, TextFunctions.tokenizeBm25Value(spark, query), k1, b))

  def scoreWithIndex(ix: Index, spark: org.apache.spark.sql.SparkSession,
                     query: String, k1: Double = K1, b: Double = B,
                     inProcessLimit: Int = 2000000): DataFrame = {
    import spark.implicits._
    indexInProcess(ix, spark, inProcessLimit) match {
      case Some(ip) =>
        // native doc_id type preserved — the rung must not widen the schema
        // relative to the distributed plan it replaces
        return scoreInProcess(ip, TextFunctions.tokenizeBm25Value(spark, query),
          k1, b).toDF("doc_id", "score")
          .withColumn("doc_id",
            col("doc_id").cast(ix.postings.schema("doc_id").dataType))
      case None => ()
    }
    // query term frequencies fold on the DRIVER (no job, no one-row
    // shuffle): the query side becomes a LocalRelation, and the literal
    // term list doubles as an `isin` pushdown predicate on idf AND postings
    // — with term-bucketed postings at rest this is the bucket-pruned scan,
    // and on the single-query serving path it removes three tiny
    // shuffle/broadcast jobs of pure fixed overhead
    val terms = TextFunctions.tokenizeBm25Value(spark, query)
    val termSet = terms.distinct
    val qDf = terms.groupBy(identity).map { case (t, ts) => (t, ts.size.toLong) }
      .toSeq.sortBy(_._1).toDF("term", "qtf")
    val qStats = ix.idf.select("term", "idf")
      .filter(col("term").isin(termSet: _*))
      .join(broadcast(qDf), "term")
    prunedPostings(ix, termSet) // bucket dirs + term IN pushdown
      .join(broadcast(qStats), "term")
      .groupBy("doc_id")
      .agg(sum(col("qtf") * termScore(col("tf"), col("doc_len"), lit(ix.avgdl), col("idf"), k1, b)).as("score"))
      .filter(col("score") > 0)
  }

  /** Batched top-k serving IN PROCESS: score each driver-held query string
    * against the in-process index ([[indexInProcess]] — keyed + guarded)
    * and emit ONLY the rounded-rank head per query — exactly the rows the
    * pipeline's window keeps: `(query_id, doc_id, score)` with
    * score = round(raw, 4) and rank order (score desc, doc_id). The
    * k-bounded LocalRelation (|queries|·k rows) sidesteps what made FULL
    * in-process batch scoring slow — |docs|-scale rows in one partition,
    * the recorded 16%-slower A/B on [[scoreBatch]]'s NOTE. None when the
    * index is unkeyed/over-limit or the batch exceeds `maxQueries`; the
    * distributed [[scoreBatch]] plan is unchanged on those paths — at
    * 100 TB this rung simply never engages.
    */
  def topKBatchInProcess(ix: Index, spark: org.apache.spark.sql.SparkSession,
                         queries: Seq[(Long, String)], k: Int,
                         k1: Double = K1, b: Double = B,
                         inProcessLimit: Int = 2000000,
                         maxQueries: Int = 1024): Option[DataFrame] = {
    if (k <= 0 || queries.size > maxQueries) return None
    // a duplicated query_id would MERGE in the distributed plan (its
    // groupBy(query_id, term) sums qtf across the duplicate rows) but score
    // independently here — decline rather than diverge
    if (queries.map(_._1).distinct.size != queries.size) return None
    indexInProcess(ix, spark, inProcessLimit).map { ip =>
      import spark.implicits._
      val rows = queries.flatMap { case (qid, q) =>
        TopK.roundedHead(
            scoreInProcess(ip, TextFunctions.tokenizeBm25Value(spark, q), k1, b),
            k, scale = 4)
          .map { case (d, s) => (qid, d, s) }
      }.toDF("query_id", "doc_id", "score")
      // keep the index's native doc_id type: the distributed plan emits it
      // unchanged, and the serving rung must not widen the schema
      rows.withColumn("doc_id",
        col("doc_id").cast(ix.postings.schema("doc_id").dataType))
    }
  }

  /** Postings with a `doc_len` column: denormalized indexes carry it in the
    * row (no join); indexes persisted before the denormalization fall back
    * to the lengths join.
    */
  private[operators] def withDocLen(ix: Index): DataFrame =
    if (ix.postings.columns.contains("doc_len")) ix.postings
    else ix.postings.join(ix.lengths, "doc_id")

  /** [[withDocLen]] plus the at-rest scan prune, two levels deep:
    *  - when the index is term-bucketed on disk, a literal
    *    `term_bucket IN (…)` restricts the scan to the query terms' bucket
    *    directories — file-level PartitionFilters, no job to plan it
    *    (buckets computed driver-side by the crc32 twin);
    *  - a literal `term IN (…)` rides along as a parquet data filter
    *    (PushedFilters) — [[writeIndex]] sorts postings by term WITHIN
    *    each bucket, so parquet page/row-group statistics skip everything
    *    but the query terms' page runs even inside a touched bucket (the
    *    r16 fix for the rm3-batch pass-1 growth: a 20-query batch's term
    *    union touches most bucket DIRECTORIES, but only slivers of them).
    * Semantically a no-op either way: every removed row would have been
    * dropped by the `term` equi-join anyway (identity spec-asserted).
    */
  private[operators] def prunedPostings(ix: Index, termSet: Seq[String]): DataFrame = {
    val base = ix.termBuckets match {
      case Some(n) =>
        val buckets = termSet.map(termBucketValue(_, n)).distinct
        withDocLen(ix).filter(col("term_bucket").isin(buckets: _*))
      case None => withDocLen(ix)
    }
    base.filter(col("term").isin(termSet.distinct: _*))
  }

  /** Score a single query string against a corpus; returns
    * `(doc_id, score)` for docs with positive score (P4 filter,
    * `/root/reference/embedding/bm25_manager.py:298,316`).
    *
    * Plan shape at scale: query terms (a tiny literal array) semi-join the
    * postings on `term` — with term-bucketed postings this is a pruned scan —
    * then one groupBy(doc_id) with map-side partial sums. No dense
    * score vector ever exists, unlike the reference.
    */
  def scoreQuery(docs: DataFrame, idCol: String, textCol: String, query: String,
                 k1: Double = K1, b: Double = B): DataFrame = {
    val post = postings(docs, idCol, textCol)
    val lens = docLengths(post)
    val n = docs.count()
    val idfDf = idf(post, n)
    val stats = lens.agg(avg(col("doc_len").cast("double")).as("avgdl"))
    // Deduped query terms, as in rank_bm25 scoring of a tokenized query:
    // each distinct term contributes tf_q times? rank_bm25 sums over query
    // tokens INCLUDING repeats; we count repeats via qtf.
    val qTerms = TextFunctions.tokenizeBm25(lit(query))
    val qDf = docs.sparkSession.range(1).select(explode(qTerms).as("term"))
      .groupBy("term").agg(count(lit(1)).as("qtf"))
    // Shrink the per-term side FIRST (idf ⋈ query terms is |query| rows),
    // then prune postings with one broadcast join.
    val qStats = idfDf.select("term", "idf").join(broadcast(qDf), "term")
    post
      .join(broadcast(qStats), "term")                 // prune to query terms
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .groupBy("doc_id")
      .agg(sum(col("qtf") * termScore(col("tf"), col("doc_len"), col("avgdl"), col("idf"), k1, b)).as("score"))
      .filter(col("score") > 0)
  }

  /** T2 top-k over BM25 scores (`TakeOrderedAndProject`, the heap the
    * reference hand-rolls at `bm25_manager.py:289-320`).
    */
  def topK(scored: DataFrame, k: Int): DataFrame =
    scored.orderBy(col("score").desc, col("doc_id")).limit(k)

  /** BATCHED scoring: a whole DataFrame of queries `(query_id, qtext)`
    * against one index in ONE DAG — the throughput regime the reference
    * cannot express (it loops queries through an in-process dense scorer).
    * The broadcast side is (query terms ⋈ idf): tiny. One shuffle on
    * (query_id, doc_id) with map-side partial sums.
    */
  def scoreBatch(ix: Index, queries: DataFrame,
                 qidCol: String, qtextCol: String,
                 k1: Double = K1, b: Double = B,
                 knownTerms: Option[Seq[String]] = None,
                 postingsOverride: Option[DataFrame] = None): DataFrame = {
    // NOTE deliberately NOT routed through [[indexInProcess]]: batch
    // scoring emits |docs|x|queries|-scale rows, and a driver-side replay
    // would hand downstream operators one giant single-partition
    // LocalRelation — measured 16% SLOWER on the 20-query e2e composite
    // than the shared distributed DAG (same-session A/B, sf0.1). The
    // single-query path ([[scoreWithIndex]]) is where in-process serving
    // wins; the batch regime is exactly what the distributed plan is for.
    val qTerms = queries.select(col(qidCol).as("query_id"),
        explode(TextFunctions.tokenizeBm25(col(qtextCol))).as("term"))
      .groupBy("query_id", "term").agg(count(lit(1)).as("qtf"))
    val qStats = qTerms.join(ix.idf.select("term", "idf"), "term")
    // callers holding the query strings driver-side (the pipeline batch
    // path does) pass their tokenized union so a bucketed at-rest index
    // partition-prunes exactly like the single-query path; without it the
    // batch scans all buckets (the term equi-join still bounds the work).
    // postingsOverride lets a caller hand in an already-pruned (and
    // possibly persisted) postings slice covering its terms — Rm3's
    // batched two-pass serve shares ONE cached slice across passes
    postingsOverride.getOrElse(
      knownTerms.fold(withDocLen(ix))(ts => prunedPostings(ix, ts)))
      .join(broadcast(qStats), "term")
      .crossJoin(broadcast(ix.stats))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("qtf") * termScore(col("tf"), col("doc_len"), col("avgdl"), col("idf"), k1, b)).as("score"))
      .filter(col("score") > 0)
  }
}
