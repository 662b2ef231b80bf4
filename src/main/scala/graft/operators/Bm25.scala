package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.storage.StorageLevel
import graft.functions.TextFunctions

/** Okapi BM25 as DataFrame programs (SURVEY §2.4 A1/A2, §2.1 S8).
  *
  * The reference builds a single-node NPZ index with rank_bm25
  * (`/root/reference/embedding/bm25_manager.py:64-99`) and scores queries by
  * materializing a dense score per document
  * (`bm25_manager.py:284-287`). Here the "index" is two DataFrames —
  * postings `(doc_id, term, tf)` and per-document lengths — written at
  * rest as versions of one store ([[Version]]): flat postings files that
  * carry `crc32(term) mod n` as a `term_bucket` column and are sorted by
  * bucket, term and doc id, so query-side scoring is a semi-join whose
  * `term_bucket IN (…)` and `term IN (…)` filters parquet row-group and
  * page statistics skip down to the postings of the query's terms
  * instead of a full dense pass.
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
      .withColumn("idf", okapiIdf(corpusSize, col("df")))

  private def okapiIdf(corpusSize: Long, df: Column): Column =
    log((lit(corpusSize.toDouble) - df + 0.5) / (df + 0.5) + 1.0)

  /** The one-row stats table over a lengths table: avgdl over the
    * token-bearing rows, with the exact integer `sum_dl` and its
    * denominator `n_len` (so an append can update avgdl bit-identically to
    * a rebuild), and `n`, the corpus size idf counts.
    */
  private def statsOf(lens: DataFrame, n: Long): DataFrame =
    lens.agg(avg(col("doc_len").cast("double")).as("avgdl"),
        sum(col("doc_len").cast("long")).as("sum_dl"),
        count(lit(1)).as("n_len"))
      .withColumn("n", lit(n))

  /** The BM25 per-(doc,term) score expression. */
  def termScore(tf: Column, docLen: Column, avgdl: Column, idf: Column,
                k1: Double = K1, b: Double = B): Column =
    idf * (tf * (k1 + 1.0)) /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * docLen.cast("double") / avgdl))

  /** The prebuilt BM25 index (S8): postings `(doc_id, term, tf, doc_len)`
    * + lengths + idf + corpus stats. The reference persists this as NPZ and loads it per query
    * (`/root/reference/embedding/bm25_manager.py:115-211`); here the
    * DataFrames are persisted (memory/disk) and written at rest as a
    * [[Version]] of a store ([[writeIndex]], [[readIndex]]).
    */
  final case class Index(postings: DataFrame, lengths: DataFrame,
                         idf: DataFrame, stats: DataFrame,
                         cacheKey: Option[String] = None) {
    /** The one-row stats row, snapshotted on the driver ONCE per index with
      * a single job (r18: [[avgdl]] and [[termBuckets]] each ran their own
      * one-row head — two sequential jobs per served index; every scalar
      * now reads from this shared snapshot).
      */
    private[operators] def statsRow: org.apache.spark.sql.Row = snapshot.row
    private var snapshot = new Index.StatsSnapshot(stats)

    /** This index with no cache key, the distributed plan of every rung,
      * sharing this index's [[statsRow]] snapshot: a snapshot already taken
      * is not taken again (a `copy` would run its job anew).
      */
    def keyless: Index = {
      val k = copy(cacheKey = None)
      k.snapshot = snapshot
      k
    }

    /** Corpus avgdl — served from [[statsRow]]; serving queries inline it
      * as a literal instead of re-running the stats aggregation (or a
      * 1-row broadcast build) per query. The reference holds the same
      * scalar in memory with its loaded index.
      */
    lazy val avgdl: Double =
      statsRow.getDouble(statsRow.fieldIndex("avgdl"))

    /** Corpus document count — served from [[statsRow]] like [[avgdl]];
      * the driver-side scale signal adaptive policies key on (r18:
      * [[Rm3]] gates its pass-1 slice reuse on it).
      */
    lazy val nDocs: Long = statsRow.getLong(statsRow.fieldIndex("n"))

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

  object Index {
    private final class StatsSnapshot(stats: DataFrame) {
      lazy val row: org.apache.spark.sql.Row = stats.head()
    }
  }

  /** Default term-bucket count for at-rest postings. A query's handful of
    * terms touches a handful of buckets out of 64, and the bucket-sorted
    * files let parquet statistics skip the rest — the
    * NPZ-loads-only-term-arrays regime
    * (`/root/reference/embedding/bm25_manager.py:115-211`) as row-group and
    * page pruning.
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
    * term list into a bucket-pruning `isin` literal with no Spark job.
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
    // n counts ALL docs (idf's N) while avgdl averages over the
    // TOKEN-BEARING lengths rows only
    Index(p, l, i, statsOf(l, n))
  }

  /** Incremental index maintenance (S8 at 100 TB: never rebuild the whole
    * postings table for a new batch of documents). New docs' postings are
    * UNIONED onto the old postings — an append-only parquet write in
    * practice — and the idf and totals advance by the same O(batch)
    * arithmetic a store commit uses ([[appendDelta]]): df adds in integers
    * and avgdl is `sum_dl / n_len`, so no idf is re-aggregated over the
    * merged postings. Equivalent to a full rebuild over old ∪ new
    * (spec-asserted).
    *
    * Contract: `newDocs` ids are disjoint from the indexed corpus (route
    * re-ingests through the S5 anti-join first).
    */
  def mergeIndex(old: Index, newDocs: DataFrame, idCol: String, textCol: String): Index = {
    val np0 = postings(newDocs, idCol, textCol)
    val npLens = docLengths(np0)
    // the batch's totals in one job; a doc's length is its token count
    val docLen = greatest(size(TextFunctions.tokenizeBm25(col(textCol))), lit(0)).cast("long")
    val b = newDocs.agg(count(lit(1)), coalesce(sum(docLen), lit(0L)),
      count(when(docLen > 0, true))).head()
    val (idf2, totals) = appendDelta(Some(old.idf), totalsOf(old),
      Totals(b.getLong(0), b.getLong(1), b.getLong(2), 0), np0)
    // a term-bucketed STORED index carries the term_bucket column the
    // fresh batch lacks — drop it before the union (the merged in-memory
    // index is not bucket-complete: its totals carry no bucket count, so
    // Index.termBuckets goes None and no pruning is attempted)
    Index(old.postings.drop("term_bucket").unionByName(np0.join(npLens, "doc_id")),
      old.lengths.unionByName(npLens), idf2,
      totals.copy(termBuckets = 0).toDF(newDocs.sparkSession))
  }

  /** S8 index persistence: the reference writes NPZ + JSON sidecars and
    * rewrites them whole on every change (`bm25_manager.py:71-112`); here
    * the index IS tables, committed as the next [[Version]] of the store at
    * `dir` — one segment holding every posting (bucketed into
    * `termBuckets` term buckets) and length, plus the idf and the stats.
    * The version replaces what the store served before; the commit keeps
    * the previous version and collects older ones ([[graft.store.Versioned]]).
    */
  def writeIndex(ix: Index, dir: String,
                 termBuckets: Int = DefaultTermBuckets): Unit = {
    require(termBuckets > 0, s"writeIndex: termBuckets must be positive, got $termBuckets")
    val spark = ix.postings.sparkSession
    // lengths/idf/stats derive from the postings' corpus aggregation:
    // persist postings for the span of the writes or it re-runs per sink
    val alreadyPersisted = ix.postings.storageLevel != StorageLevel.NONE
    val post = if (alreadyPersisted) ix.postings
      else ix.postings.persist(StorageLevel.MEMORY_AND_DISK)
    try commit(spark, dir, Nil, post, ix.lengths, ix.idf,
      totalsOf(ix).copy(termBuckets = termBuckets))
    finally if (!alreadyPersisted) post.unpersist()
  }

  /** Write a segment's postings: flat files that carry the `term_bucket`
    * column, SORTED BY bucket, term and doc id, so parquet row-group and
    * page min-max statistics line up with the `term_bucket IN (…)` and
    * `term IN (…)` pushdown [[prunedPostings]] emits, and a query's scan
    * skips to its terms' page runs instead of decoding whole files. The
    * repartition on the bucket keeps each bucket in one file instead of
    * one per writer task — on the small-vocab test corpus the measured
    * rm3-batch win (30.8 → 21.6 s at 100×, same-day A/B) is substantially
    * this footer/open amplification disappearing.
    */
  private def writePostings(post: DataFrame, path: String, termBuckets: Int): Unit =
    post.withColumn("term_bucket", termBucket(col("term"), termBuckets))
      .repartition(col("term_bucket"))
      .sortWithinPartitions("term_bucket", "term", "doc_id")
      .write.mode("overwrite").parquet(path)

  // r19: the Index PLANS are memoized per (session, key) too — every
  // spark.read.parquet that infers a schema schedules a footer/listing
  // job. A stored index has a natural identity — the serving fast path
  // ([[indexInProcess]]) memoizes its in-memory term arrays under it, the
  // reference's load-NPZ-arrays-once regime. A committed [[Version]] never
  // changes, so its key is its manifest path, and finding it costs one
  // manifest listing.
  private val storedIndexCache = new SessionMemo[Index]

  /** The index stored at `dir`: the committed version `dir` names
    * (`<root>/v<N>`), else the newest version of the store rooted at `dir`.
    * A directory with neither is refused: with [[preManifestRefusal]] when
    * it holds a store written before manifests, else as not found.
    */
  def readIndex(spark: SparkSession, dir: String): Index = {
    val v = Version.at(spark, dir).orElse(Version.latest(spark, dir)).getOrElse {
      Version.refusePreManifest(spark, dir)
      throw new java.io.FileNotFoundException(s"no committed BM25 version at $dir")
    }
    storedIndexCache.getOrBuild(spark, v.key)(v.index(spark))
  }

  /** A store's corpus totals as driver values, the row of its `stats`
    * table: `n` counts every document (idf's N); `sumDl` is the exact
    * integer doc_len sum and `nLen` the token-bearing row count that avgdl
    * averages over.
    */
  private[graft] final case class Totals(n: Long, sumDl: Long, nLen: Long,
                                         termBuckets: Int) {
    def toDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      Seq((sumDl.toDouble / nLen, sumDl, nLen, n, termBuckets))
        .toDF("avgdl", "sum_dl", "n_len", "n", "term_buckets")
    }
  }

  /** The [[Totals]] of an index, off its one statsRow snapshot. */
  private def totalsOf(ix: Index): Totals = {
    val r = ix.statsRow
    // an index with no token-bearing row sums to null
    def long(c: String) = if (r.isNullAt(r.fieldIndex(c))) 0L else r.getLong(r.fieldIndex(c))
    Totals(ix.nDocs, long("sum_dl"), long("n_len"),
      if (ix.stats.columns.contains("term_buckets")) r.getInt(r.fieldIndex("term_buckets")) else 0)
  }

  /** The O(batch) update a commit makes ([[commitVersion]]) — the new idf
    * table and totals, from the STORED df counts plus the batch's, never by
    * rescanning the stored postings. Equal to a rebuild over old ∪ batch:
    * `df' = df + df_batch` in integers and `N' = N + |batch|`, so every
    * term's idf double recomputes from identical inputs; avgdl =
    * `sum_dl / n_len` over the exact integer sums, which equals the
    * rebuild's avg aggregation bit-for-bit (integer-valued doubles sum
    * exactly below 2^53). `batch` holds the batch's own totals: `n` counts
    * every batch doc, also those that tokenize to nothing, as a rebuild's
    * n does. No stored idf (a first version) means the batch's df alone.
    */
  private def appendDelta(storedIdf: Option[DataFrame], old: Totals, batch: Totals,
                          batchPostings: DataFrame): (DataFrame, Totals) = {
    // batchPostings: one row per (doc, term) pair of the batch
    val totals = old.copy(n = old.n + batch.n, sumDl = old.sumDl + batch.sumDl,
      nLen = old.nLen + batch.nLen)
    val batchDf = batchPostings.groupBy("term").agg(count(lit(1)).as("df"))
    val df = storedIdf.fold(batchDf)(_.select(col("term"), col("df"))
      .join(batchDf.withColumnRenamed("df", "df_b"), Seq("term"), "full_outer")
      .select(col("term"),
        (coalesce(col("df"), lit(0L)) + coalesce(col("df_b"), lit(0L))).as("df")))
    (df.withColumn("idf", okapiIdf(totals.n, col("df"))), totals)
  }

  /** Incremental append to an AT-REST BM25 store — the `bm25` verb's store
    * (the [[graft.operators.VectorSearch.appendIvfStore]] analogue;
    * reference: the NPZ sidecar is rebuilt whole on every change,
    * `embedding/bm25_manager.py:71-112`). The batch commits as the store's
    * next version ([[commitVersion]]), which equals
    * `writeIndex(buildIndex(old ∪ batch))` scoring-value-exactly.
    * Contract (as [[mergeIndex]]): batch doc ids are unique and disjoint
    * from the store's — ENFORCED: a batch holding a stored id is refused
    * before anything is written. A crashed append commits nothing, so a
    * retry is safe.
    */
  def appendIndexStore(spark: SparkSession, dir: String,
                       newDocs: DataFrame, idCol: String,
                       textCol: String): Unit =
    commitVersion(spark, dir, newDocs, idCol, textCol, refuseStored = true)

  /** The refusal of a root that holds a BM25 store written before
    * manifests ([[Version]]), with the instruction that rebuilds it.
    */
  private[graft] def preManifestRefusal(root: String): String =
    s"$root holds a BM25 store written before manifests, which this " +
      "version no longer reads: delete the directory and rebuild it with " +
      "`bm25 <kbDir>`, or re-run `maintain` into an empty kb"

  private[graft] val MaxSegments = graft.store.Versioned.MaxSegments

  private val IdfSchema = StructType.fromDDL("term STRING, df BIGINT, idf DOUBLE")
  private val PostingsCols = Seq("doc_id", "term", "tf", "doc_len")
  private def nullable(s: StructType) = StructType(s.fields.map(_.copy(nullable = true)))

  /** The schema a segment's postings files have ([[writePostings]]). */
  private def segmentSchema(post: DataFrame): StructType =
    nullable(post.select(PostingsCols.map(col): _*).schema.add("term_bucket", IntegerType))

  /** A committed version of a BM25 store ([[graft.store.Versioned]]):
    * `v<N>/` holds a segment (`postings` sorted by bucket and term,
    * `lengths`), the `idf` and the one-row `stats`; the manifest names the
    * segments, their schemas and the [[Totals]], so opening a version runs
    * no Spark job. Older layouts are refused ([[preManifestRefusal]]).
    */
  private[graft] final case class Version(manifest: graft.store.Versioned.Manifest) {
    def number: Long = manifest.number
    def segments: Seq[String] = manifest.segments
    def path: String = manifest.path
    /** The memo key: the manifest's, so a commit evicts the index. */
    def key: String = s"stored:${manifest.key}"
    val totals: Totals = manifest("totals").split(' ').map(_.toLong) match {
      case Array(n, sumDl, nLen, buckets) => Totals(n, sumDl, nLen, buckets.toInt) }
    private def schema(k: String) = DataType.fromJson(manifest(k)).asInstanceOf[StructType]
    val postingsSchema: StructType = schema("postings_schema")
    val lengthsSchema: StructType = schema("lengths_schema")

    private def table(spark: SparkSession, t: String, schema: StructType): DataFrame =
      manifest.segmentPaths.map(seg => spark.read.schema(schema).parquet(s"$seg/$t"))
        .reduce(_ unionByName _)
    def index(spark: SparkSession): Index =
      Index(table(spark, "postings", postingsSchema), table(spark, "lengths", lengthsSchema),
        spark.read.schema(IdfSchema).parquet(s"$path/idf"), totals.toDF(spark),
        cacheKey = Some(key))
  }

  private[graft] object Version
      extends graft.store.Versioned[Version](new Version(_), Seq("idf", "stats")) {
    /** The manifest lines of a version of `totals` with these schemas. */
    private[graft] def fields(totals: Totals, postings: StructType,
                             lengths: StructType): Seq[(String, String)] =
      Seq("totals" -> s"${totals.n} ${totals.sumDl} ${totals.nLen} ${totals.termBuckets}",
        "postings_schema" -> postings.json, "lengths_schema" -> lengths.json)

    /** Refuse a `root` that holds a store written before manifests (a
      * `CURRENT` pointer, or tables at the root). Called only where no
      * complete manifest was found, so a committed store never pays it.
      */
    private[Bm25] def refusePreManifest(spark: SparkSession, root: String): Unit = {
      val fs = graft.sources.KbStorage.fileSystem(spark, new Path(root))
      if (Seq("CURRENT", "stats").exists(n => fs.exists(new Path(s"$root/$n"))))
        throw new IllegalStateException(preManifestRefusal(root))
    }

    /** The directory [[readIndex]] serves for the store at `root`. */
    def currentPath(spark: SparkSession, root: String): Option[String] =
      latest(spark, root).map(_.path).orElse { refusePreManifest(spark, root); None }
  }

  /** Commit a version of `root`: the `kept` segments, then a new one of
    * `post` and `lens`, with `idf` and `totals`.
    */
  private def commit(spark: SparkSession, root: String, kept: Seq[String], post: DataFrame,
                     lens: DataFrame, idf: DataFrame, totals: Totals): Version =
    Version.commit(spark, root) { (number, _) =>
      val dir = s"$root/v$number"
      val seg = post.select(PostingsCols.map(col): _*)
      val segLens = lens.select("doc_id", "doc_len")
      writePostings(seg, s"$dir/postings", totals.termBuckets)
      segLens.write.mode("overwrite").parquet(s"$dir/lengths")
      idf.select("term", "df", "idf").write.mode("overwrite").parquet(s"$dir/idf")
      totals.toDF(spark).coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
      (Version.fields(totals, segmentSchema(seg), nullable(segLens.schema)), kept :+ s"v$number")
    }

  /** Commit `docs` to the store at `root` as one new [[Version]]. The
    * batch's docs not yet in the store become one new segment, bucketed
    * with the store's own term-bucket count, and the idf and totals
    * advance by [[appendDelta]]. A commit so writes the batch's segment, a
    * vocab-sized idf and the one-row stats, and reads every live segment's
    * lengths once, for the anti-join that finds the batch docs already
    * stored. With `refuseStored` (the store append) a batch holding any is
    * refused before anything is written; otherwise (`maintain`'s replay
    * guard) they are dropped. A commit that would list more than
    * [[MaxSegments]] segments, or extend segments of another schema,
    * instead rewrites the whole store as one merged segment. A root with
    * no committed version that holds a store written before manifests is
    * refused ([[preManifestRefusal]]) before anything is written. Every
    * write lands in the new `v<N>` directory ([[commit]]). Returns None, and commits nothing, when every batch doc is already in
    * the store.
    *
    * Contract: doc ids are unique within `docs` (maintain's chunk ids
    * are). A doc's length is then its token count, so the segment derives
    * from the batch rows directly; building it through [[postings]] and
    * [[docLengths]] instead costs two more aggregations and a lengths join,
    * 18 Spark jobs a commit where this takes 10.
    */
  private[graft] def commitVersion(spark: SparkSession, root: String, docs: DataFrame,
                                   idCol: String, textCol: String,
                                   refuseStored: Boolean = false): Option[Version] = {
    val prev = Version.latest(spark, root)
    if (prev.isEmpty) Version.refusePreManifest(spark, root)
    val stored = prev.map(p => readIndex(spark, p.path))
    val batch = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val tokens = TextFunctions.tokenizeBm25(col("text"))
    val docLen = greatest(size(tokens), lit(0)).cast("long")
    // the batch's input count and its new docs' totals ride the one job
    // that materializes the new docs: the difference is the stored docs
    val input, observed = org.apache.spark.sql.Observation()
    val fresh = stored.fold(batch)(s => batch.observe(input, count(lit(1)).as("n"))
        .join(s.lengths.select("doc_id"), Seq("doc_id"), "left_anti"))
      .observe(observed, count(lit(1)).as("n"),
        coalesce(sum(docLen), lit(0L)).as("sum_dl"),
        count(when(docLen > 0, true)).as("n_len"))
      .localCheckpoint(true)
    val m = observed.get
    val batchTotals = Totals(m("n").asInstanceOf[Long], m("sum_dl").asInstanceOf[Long],
      m("n_len").asInstanceOf[Long], 0)
    if (refuseStored && stored.isDefined) {
      val dup = input.get("n").asInstanceOf[Long] - batchTotals.n
      require(dup == 0L, s"appendIndexStore: $dup batch doc ids already in the store " +
        s"at $root — route re-ingests through the S5 anti-join")
    }
    if (batchTotals.n == 0L) return None
    // unique doc ids: postings carry doc_len with no lengths join, and
    // lengths and df need no postings aggregation
    val post = fresh.select(col("doc_id"), explode(tokens).as("term"), docLen.as("doc_len"))
      .groupBy("doc_id", "term", "doc_len").agg(count(lit(1)).as("tf"))
    val lens = fresh.select(col("doc_id"), docLen.as("doc_len")).filter(col("doc_len") > 0)
    val merge = stored.filter(_ => prev.exists(p => p.segments.size >= MaxSegments ||
      p.postingsSchema != segmentSchema(post) || p.lengthsSchema != nullable(lens.schema)))
    val (segPostings, segLens) = merge.fold((post, lens))(ix =>
      (ix.postings.drop("term_bucket").unionByName(post), ix.lengths.unionByName(lens)))
    val old = prev.map(_.totals)
    val buckets = old.map(_.termBuckets).filter(_ > 0).getOrElse(DefaultTermBuckets)
    val (idf2, totals) = appendDelta(stored.map(_.idf),
      old.getOrElse(Totals(0L, 0L, 0L, 0)).copy(termBuckets = buckets), batchTotals,
      fresh.select(col("doc_id"), explode(array_distinct(tokens)).as("term")))
    Some(commit(spark, root,
      if (merge.isDefined) Nil else prev.fold(Seq.empty[String])(_.segments),
      segPostings, segLens, idf2, totals))
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
    * against them with no I/O. Admitted through the [[Resident]] guard
    * (postings rows against [[Resident.PostingsRows]], no float budget)
    * and memoized per (session, cacheKey); an unkeyed index, an over-limit
    * index, or a doc_id outside the id rule never takes the fast path — at
    * 100 TB the bucket-pruned distributed scan is unchanged.
    */
  private final case class InProcIndex(
    postings: Map[String, Array[(Long, Long, Long)]], // term -> (doc_id, tf, doc_len)
    idf: Map[String, Double], avgdl: Double)
  private val inProcCache = new SessionMemo[Option[InProcIndex]]
  private def indexInProcess(ix: Index, spark: SparkSession): Option[InProcIndex] = {
    if (!Resident.ids(ix.postings, "doc_id")) return None
    Resident.memo(inProcCache, spark, ix.cacheKey, "bm25") {
      val post = ix.postings
      Option.when(Resident.fits(post, Resident.PostingsRows)) {
        import spark.implicits._
        val rows = post.select(col("term"),
            col("doc_id").cast("long"), col("tf").cast("long"),
            col("doc_len").cast("long"))
          .as[(String, Long, Long, Long)].collect()
        val byTerm = rows.groupBy(_._1).map { case (t, xs) =>
          t -> xs.map(x => (x._2, x._3, x._4)) }
        val idfM = ix.idf.select(col("term"), col("idf").cast("double"))
          .as[(String, Double)].collect().toMap
        InProcIndex(byTerm, idfM, ix.avgdl)
      }
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

  /** The in-process branch of [[scoreWithIndex]] as VALUES — the raw
    * `(doc_id, score)` list (positive scores only, same driver replay of
    * the distributed sum) for callers composing further driver-side stages.
    * None when the index is unkeyed or over the guard — callers keep the
    * distributed plan.
    */
  def scoreWithIndexValues(ix: Index, spark: org.apache.spark.sql.SparkSession,
                           query: String, k1: Double = K1,
                           b: Double = B): Option[Seq[(Long, Double)]] =
    indexInProcess(ix, spark).map(ip =>
      scoreInProcess(ip, TextFunctions.tokenizeBm25Value(spark, query), k1, b))

  /** The query side of [[scoreWithIndex]]'s distributed plan: one
    * `(term, qtf)` row per distinct query term, as `Seq[(String, Long)].toDF`
    * would type it.
    */
  private val TermQtf = StructType(Seq(StructField("term", StringType),
    StructField("qtf", LongType, nullable = false)))

  /** Score a single query string against a prebuilt index.
    *
    * Serving shape: a KEYED index under the [[Resident]] guard scores
    * entirely in process ([[indexInProcess]]) and returns a LocalRelation —
    * zero jobs warm, the reference's loaded-NPZ regime. An unkeyed index
    * ([[Index.keyless]]) or one over the guard keeps the
    * bucket-pruned distributed scan unchanged.
    */
  def scoreWithIndex(ix: Index, spark: org.apache.spark.sql.SparkSession,
                     query: String, k1: Double = K1, b: Double = B): DataFrame = {
    indexInProcess(ix, spark) match {
      case Some(ip) =>
        // native doc_id type preserved — the rung must not widen the schema
        // relative to the distributed plan it replaces
        return GraftShims.localFrame(spark, TopK.DocScore,
            scoreInProcess(ip, TextFunctions.tokenizeBm25Value(spark, query), k1, b)
              .map { case (d, s) => InternalRow(d, s) })
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
    val qDf = GraftShims.localFrame(spark, TermQtf,
      terms.groupBy(identity).toSeq.sortBy(_._1).map { case (t, ts) =>
        InternalRow(UTF8String.fromString(t), ts.size.toLong) })
    val qStats = ix.idf.select("term", "idf")
      .filter(col("term").isin(termSet: _*))
      .join(broadcast(qDf), "term")
    prunedPostings(ix, termSet) // term_bucket + term IN pushdown
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
                         maxQueries: Int = 1024): Option[DataFrame] = {
    if (k <= 0 || queries.size > maxQueries) return None
    // a duplicated query_id would MERGE in the distributed plan (its
    // groupBy(query_id, term) sums qtf across the duplicate rows) but score
    // independently here — decline rather than diverge
    if (queries.map(_._1).distinct.size != queries.size) return None
    indexInProcess(ix, spark).map { ip =>
      val rows = GraftShims.localFrame(spark, TopK.QueryDocScore,
        queries.flatMap { case (qid, q) =>
          TopK.roundedHead(
              scoreInProcess(ip, TextFunctions.tokenizeBm25Value(spark, q), k1, b),
              k, scale = 4)
            .map { case (d, s) => InternalRow(qid, d, s) }
        })
      // keep the index's native doc_id type: the distributed plan emits it
      // unchanged, and the serving rung must not widen the schema
      rows.withColumn("doc_id",
        col("doc_id").cast(ix.postings.schema("doc_id").dataType))
    }
  }

  /** An index's postings (they carry `doc_len`) with the at-rest scan
    * prune, two filters deep, both literal and planned with no job
    * (buckets computed driver-side by the crc32 twin):
    *  - when the index is term-bucketed, `term_bucket IN (…)` keeps the
    *    query terms' buckets — a PushedFilter that row-group and page
    *    statistics of the bucket-sorted segment files ([[writePostings]])
    *    answer, skipping the other buckets' runs;
    *  - `term IN (…)` rides along as a second PushedFilter — postings are
    *    sorted by term WITHIN each bucket, so the statistics skip
    *    everything but the query terms' page runs even inside a touched
    *    bucket (the r16 fix for the rm3-batch pass-1 growth: a 20-query
    *    batch's term union touches most buckets, but only slivers of them).
    * Semantically a no-op either way: every removed row would have been
    * dropped by the `term` equi-join anyway (identity spec-asserted).
    */
  private[operators] def prunedPostings(ix: Index, termSet: Seq[String]): DataFrame = {
    val base = ix.termBuckets match {
      case Some(n) =>
        val buckets = termSet.map(termBucketValue(_, n)).distinct
        ix.postings.filter(col("term_bucket").isin(buckets: _*))
      case None => ix.postings
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
    // bucket-prunes exactly like the single-query path; without it the
    // batch scans all buckets (the term equi-join still bounds the work).
    // postingsOverride lets a caller hand in an already-pruned (and
    // possibly persisted) postings slice covering its terms — Rm3's
    // batched two-pass serve shares ONE cached slice across passes
    postingsOverride.getOrElse(
      knownTerms.fold(ix.postings)(ts => prunedPostings(ix, ts)))
      .join(broadcast(qStats), "term")
      .crossJoin(broadcast(ix.stats))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("qtf") * termScore(col("tf"), col("doc_len"), col("avgdl"), col("idf"), k1, b)).as("score"))
      .filter(col("score") > 0)
  }
}
