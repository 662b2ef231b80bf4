package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{FastFunctions, TextFunctions, VectorFunctions}

/** Deduplication suite for training-data pipelines (builder-prompt
  * extension; the reference's only dedup is exact-text before embedding,
  * `/root/reference/embedding/embed_manager.py:669-677` — J5/U3).
  *
  * All variants are pure DataFrame programs whose shuffles are keyed so
  * that at 100 TB no step ever compares all pairs:
  *  - exact: one groupBy on a 64-bit content fingerprint;
  *  - MinHash/LSH: signatures → band keys → candidate pairs only within a
  *    bucket (the classic shingle→minhash→band→bucket-join pipeline);
  *  - SimHash: near-dup via Hamming distance, bucketed by signature chunks;
  *  - n-gram Jaccard: verify candidates exactly, never the full cross join;
  *  - embedding cosine: LSH-style bucketing by dominant dimension or via
  *    [[VectorSearch]] IVF clusters.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per normalized-text fingerprint.
    * (U3/J5 — the reference embeds only the first id of each duplicate text
    * group and propagates the flag; keeping min-id is the same policy.)
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = docs.withColumn("fp", TextFunctions.fingerprint(col(textCol)))
    val w = Window.partitionBy("fp").orderBy(col(idCol))
    fp.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Duplicate-group mapping `(dup_id, keep_id)` for exact duplicates —
    * the J5 propagation join, emitted instead of mutating an `embedded`
    * flag like the reference does.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = docs.select(col(idCol).as("dup_id"),
      TextFunctions.fingerprint(col(textCol)).as("fp"))
    val keep = fp.groupBy("fp").agg(min("dup_id").as("keep_id"))
    fp.join(keep, "fp").select("dup_id", "keep_id")
  }

  /** Blocked fuzzy matching: all pairs within a block whose edit distance
    * is ≤ `maxDist` (SURVEY §2.9 M10 — the reference fuzzy-merges category
    * labels driver-side with rapidfuzz ≥85; this is the same operation made
    * distributed for corpus-sized string sets).
    *
    * Scale shape: the self-join is keyed on `blockKey` (caller-chosen:
    * length band, first char, a token, a phonetic code…), so each side
    * shuffles ONCE by block and the cross product exists only within
    * blocks — the unblocked string self-join never materializes. The edit
    * distance is Spark's THRESHOLDED levenshtein (codegen'd, O(maxDist·len)
    * early-abort instead of O(len²) — returns -1 when the bound is
    * exceeded, so the filter is `dist >= 0`).
    *
    * Returns one row per unordered pair: (id_a, id_b, s_a, s_b, dist) with
    * id_a < id_b.
    */
  def fuzzyPairs(df: DataFrame, idCol: String, strCol: String, maxDist: Int,
                 blockKey: Column): DataFrame = {
    val a = df.select(blockKey.as("bk"), col(idCol).as("id_a"), col(strCol).as("s_a"))
    val b = df.select(blockKey.as("bk"), col(idCol).as("id_b"), col(strCol).as("s_b"))
    a.join(b, "bk")
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("s_a"), col("s_b"), maxDist))
      .filter(col("dist") >= 0)
      .drop("bk")
  }

  /** MinHash signatures: for each of `numHashes` permutations
    * h_i(t) = (a_i·H(t) + b_i) mod p over the document's shingle set, take
    * the min. Pure integer math (p = 1e9+7) → oracle-reproducible.
    * Returns `(doc_id, sig ARRAY<LONG>)`.
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, numHashes: Int = 16): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        FastFunctions.minhashSig(TextFunctions.tokenize(col(textCol)),
          shingleN, numHashes).as("sig"))
      .filter(size(col("sig")) > 0) // docs with no shingles have no signature

  /** LSH banding: split the signature into `bands` bands of `rowsPerBand`
    * and emit one `(band, band_hash, doc_id)` row per band. Docs sharing any
    * band hash are candidate pairs — the only pairs ever materialized.
    */
  def lshBuckets(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(bands - 1)), b =>
          struct(b.as("band"),
            TextFunctions.polyHash(
              array_join(transform(
                slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
                x => x.cast("string")), "_"))
              .as("band_hash")))).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.band_hash"))

  /** Candidate pairs from LSH buckets (doc_a < doc_b), deduped across bands.
    * The self-join is keyed on (band, band_hash) — shuffle-partitioned by
    * bucket, never all-pairs.
    */
  def lshCandidates(buckets: DataFrame): DataFrame = {
    val a = buckets.select(col("band"), col("band_hash"), col("doc_id").as("doc_a"))
    val b = buckets.select(col("band"), col("band_hash"), col("doc_id").as("doc_b"))
    a.join(b, Seq("band", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Candidate pairs BETWEEN two corpora — incremental-ingest dedup, the
    * daily batch checked against the existing lake. Keyed on
    * (band, band_hash) exactly like [[lshCandidates]]; the existing side
    * becomes `doc_a`, the incoming side `doc_b`. 100 TB shape: the lake's
    * bucket table is a STORED index (built once, appended per ingest), so
    * each run computes signatures only for the incoming batch and the join
    * shuffles the batch to the lake's bucket partitioning — the lake itself
    * is never re-shingled, and no within-corpus pairs are emitted.
    */
  /** @param knownBatchRows the incoming bucket table's exact row count, if
    *        the caller already knows it (an ingest pipeline knows its batch
    *        size, and bucket rows are exactly nDocs × bands) — skips the
    *        guard's bounded counting pass, which otherwise re-shingles the
    *        batch once. A wrong value only flips the broadcast/shuffle
    *        choice, never the output (both paths are spec-proved identical).
    */
  def lshCandidatesAcross(existingBuckets: DataFrame,
                          incomingBuckets: DataFrame,
                          broadcastRowLimit: Long = 2000000L,
                          knownBatchRows: Option[Long] = None): DataFrame = {
    val lake = existingBuckets
      .select(col("band"), col("band_hash"), col("doc_id").as("doc_a"))
    val batch = incomingBuckets
      .select(col("band"), col("band_hash"), col("doc_id").as("doc_b"))
    // The incoming batch is usually small (a daily batch vs the lake), and
    // broadcasting it means the lake's bucket table never shuffles. But the
    // contract is checked, not trusted: a backfill-sized "batch" above the
    // row limit degrades to a plain shuffled join on (band, band_hash)
    // instead of OOMing executors — the same hybrid as the union-find
    // driverEdgeLimit in [[connectedComponents]]. The guard count runs
    // under a LIMIT of rowLimit+1, so deciding costs at most one bounded
    // pass — it never materializes a backfill-sized table (persisting
    // before counting would spill exactly the table the guard refuses to
    // broadcast), and nothing is left cached per call (this operator runs
    // once per ingest in a long-lived session). The small-batch double
    // compute this keeps is one cheap shingling pass over a daily batch.
    // The limit is clamped to [0, Int.MaxValue-2] BEFORE the +1 so a
    // Long.MaxValue caller can't overflow into limit(negative), and a
    // limit at/above Int.MaxValue can't truncate the probe while still
    // choosing broadcast — past ~2³¹ rows `limit` can't count anyway, and
    // a table that size must take the shuffled path.
    val effLimit = broadcastRowLimit.max(0L).min(Int.MaxValue.toLong - 2L)
    val guardCount = knownBatchRows.getOrElse(
      batch.limit((effLimit + 1).toInt).count())
    val probe =
      if (guardCount <= effLimit) broadcast(batch) else batch
    lake.join(probe, Seq("band", "band_hash"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Exact n-gram Jaccard similarity for candidate pairs: explode each
    * side's distinct shingles, count intersections with a join keyed on
    * (candidate pair, shingle), then |A∩B| / (|A|+|B|-|A∩B|). Only
    * candidate pairs are ever verified — never the full cross join.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   pairs: DataFrame, shingleN: Int = 3): DataFrame = {
    // only CANDIDATE docs get re-shingled — at scale candidates ≪ corpus,
    // so the expensive shingling runs on the small semi-joined subset.
    // Each doc keeps its distinct-shingle ARRAY; a pair's intersection is
    // one array_intersect per pair (two broadcast-size joins) instead of a
    // (pair × shingle) explode through a three-way join — the per-pair work
    // is O(|A|+|B|) either way, but no shingle-keyed shuffle exists.
    val candDocs = pairs.select(col("doc_a").as(idCol))
      .unionByName(pairs.select(col("doc_b").as(idCol))).distinct()
    val sh = docs.join(candDocs, idCol)
      .select(col(idCol).as("doc_id"),
        FastFunctions.wordShingles(
          FastFunctions.tokenize(col(textCol)), shingleN).as("sh"))
    pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sha"), col("shb"))).cast("long").as("inter"),
        size(col("sha")).cast("long").as("na"), size(col("shb")).cast("long").as("nb"))
      .filter(col("inter") >= 1) // the explode form only emitted sharing pairs
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard"))
  }

  /** SimHash near-dup: signature per doc, pairs within Hamming distance
    * `maxHamming`, candidate generation by exact match on one of 4 signature
    * quarters (any pair within Hamming 3 of a 60-bit sig shares a quarter —
    * pigeonhole).
    *
    * Duplicate-robust: identical documents share one signature, so pairing
    * docs directly makes every quarter-bucket join emit O(d²) rows (×4
    * quarters, then distinct) for a signature with d members — super-linear
    * under duplicate saturation. Instead the quarter join runs over DISTINCT
    * signatures only (linear in distinct-sig count regardless of dup
    * multiplicity); exact-equal-sig pairs (hamming 0) explode straight from
    * the per-sig member list, and qualifying cross-sig pairs expand to
    * members afterward — the d² term survives only in the output itself,
    * which is the contract (the same representative-collapse move
    * [[graft.operators.VectorSearch]]'s GraphDeduped tier uses). Run exact
    * dedup first if pair output size itself is the concern.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    val sigs = docs.select(col(idCol).as("doc_id"),
      FastFunctions.simhash60(TextFunctions.tokenize(col(textCol))).as("sig"))
    // One row per distinct signature with its sorted member ids. The three
    // uses below share an identical groupBy subtree, so Spark's
    // ReuseExchange collapses them to one shuffle in the final plan.
    val groups = sigs.groupBy("sig")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
    // Exact-equal signatures: i<j pairs from each sorted member list
    // (posting-list explode, no join) — hamming is 0 by construction.
    val intra = groups.filter(size(col("ids")) > 1)
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          y => struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"), lit(0).as("hamming"))
    // Cross-signature candidates: quarter buckets over distinct sigs only.
    val quarters = groups.select(col("sig"),
      explode(array((0 until 4).map(q =>
        struct(lit(q).as("q"),
          shiftright(col("sig"), q * 15).bitwiseAND(lit(32767L)).as("qh"))): _*)).as("bk"))
      .select(col("sig"), col("bk.q"), col("bk.qh"))
    val a = quarters.select(col("q"), col("qh"), col("sig").as("sig_a"))
    val b = quarters.select(col("q"), col("qh"), col("sig").as("sig_b"))
    val sigPairs = a.join(b, Seq("q", "qh"))
      .filter(col("sig_a") < col("sig_b"))
      .select(col("sig_a"), col("sig_b"))
      .distinct()
      .withColumn("hamming", VectorFunctions.hamming60(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
    // Expand qualifying sig pairs to member pairs; each doc pair belongs to
    // exactly one sig pair, so no distinct is needed. least/greatest restores
    // the doc_a < doc_b orientation (member id ranges interleave).
    val cross = sigPairs
      .join(groups.select(col("sig").as("sig_a"), col("ids").as("ids_a")), "sig_a")
      .join(groups.select(col("sig").as("sig_b"), col("ids").as("ids_b")), "sig_b")
      .select(explode(col("ids_a")).as("da"), col("ids_b"), col("hamming"))
      .select(col("da"), explode(col("ids_b")).as("db"), col("hamming"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    intra.unionByName(cross)
  }

  /** Character n-gram Jaccard near-dup within blocking groups: distinct char
    * n-grams of the cleaned text, candidate pairs restricted to the same
    * `blockCol` value (source, shard, language… — any cheap blocking key),
    * intersection counted by an equi-join on (block, n-gram), never a full
    * cross join.
    *
    * `maxDf` caps the per-block document frequency of the grams that
    * participate: grams shared by more than `maxDf` docs in a block are
    * dropped from BOTH the intersection and the set sizes, so the result is
    * the exact Jaccard over each doc's rare-gram set. Ultra-common grams
    * ("the", " a ") otherwise make the pair join quadratic in block size
    * while contributing no discrimination — the same stop-gram move
    * training-data dedup pipelines apply before pairwise verification. With
    * the cap, per-gram join fanout is ≤ maxDf², so cost is linear in the
    * number of (block, gram) groups.
    */
  def charNgramJaccard(docs: DataFrame, idCol: String, textCol: String,
                       blockCol: String, n: Int = 3,
                       threshold: Double = 0.5,
                       maxDf: Int = Int.MaxValue): DataFrame = {
    // grams are built by ONE codegen expression pass (distinct n-gram
    // hashes, FastFunctions.charNgramHashes): no per-gram string allocation
    // and the downstream shuffle keys on a LONG, not a substring. For the
    // cleaned [a-z0-9 ] alphabet at n ≤ 4 the hash is injective, so counts
    // equal string-gram counts exactly (oracle-verified).
    val g0 = docs
      .select(col(idCol).as("doc_id"), col(blockCol).as("block"),
        explode(FastFunctions.charNgramHashes(
          TextFunctions.cleanText(col(textCol)), n)).as("ng"))
    // Posting-list pair generation instead of a gram-keyed self-join: group
    // docs per (block, gram) — the df cap runs as a window over the SAME
    // (block, ng) partitioning the collect_list groupBy needs, so the gram
    // subtree is evaluated once and shuffled once — and explode the i<j
    // pairs from each sorted list (≤ maxDf ids, so ≤ maxDf² fanout).
    // Replaces the doc-size window sort plus a sort-merge self-join over the
    // full gram table with hash aggregations over bounded lists.
    val g =
      if (maxDf == Int.MaxValue) g0
      else {
        val w = Window.partitionBy("block", "ng")
        g0.withColumn("_df", count(lit(1)).over(w))
          .filter(col("_df") <= maxDf).drop("_df")
      }
    val grouped = g.groupBy("block", "ng")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
    val sizes = grouped.select(explode(col("ids")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val pairs = grouped
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          y => struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
    pairs.groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash near-dup pairs with the exact-duplicate collapse in front —
    * the duplicate-saturation-robust form of the sigs → LSH → verify
    * pipeline (the same representative move `simhashPairs` and
    * `graphSearchDeduped` use; dedup pipelines run exact-dedup before
    * near-dup for exactly this reason). Documents group by a ~60-bit
    * rolling hash of their TOKEN SEQUENCE (identical tokens ⇔ identical
    * shingle sets ⇔ identical signatures and jaccards), only the min-id
    * representative of each group enters the LSH pipeline, and the
    * surviving rep pairs expand back to members: cross-group member pairs
    * inherit the rep pair's jaccard, within-group pairs are exact
    * duplicates (jaccard 1.0). Token-less documents drop — they have no
    * shingles, so the raw pipeline never pairs them either.
    *
    * VALUE-IDENTICAL to `jaccardPairs(lshCandidates(lshBuckets(sigs)))
    * ≥ threshold` (spec-pinned on a dup-heavy fixture): equal token
    * sequences give equal band hashes, so member candidacy ⇔ rep
    * candidacy. The candidate join and shingle verify shrink by the
    * duplication factor SQUARED; only the (inherently pair-sized) output
    * expansion stays proportional to the answer.
    */
  def minhashPairsDeduped(docs: DataFrame, idCol: String, textCol: String,
                          bands: Int = 4, rowsPerBand: Int = 4,
                          threshold: Double = 0.5): DataFrame = {
    val joined = array_join(
      TextFunctions.tokenize(coalesce(col(textCol), lit(""))), " ")
    // collapse identity = ~60-bit poly pairing PLUS an independent xxhash64
    // (~124 bits total): a collision here would silently merge two DISTINCT
    // documents — one never enters the LSH pipeline (its true near-dup
    // pairs are lost) and a false jaccard-1.0 pair is emitted — so the key
    // is sized for the advertised billion-doc scale, not the bench corpus.
    // The key never leaves the operator (only ids do), so no oracle sees it.
    val keyed = docs
      .select(col(idCol).as("_m"),
        FastFunctions.polyHashPair(joined).as("gk"),
        xxhash64(joined).as("gk2"),
        (length(joined) > 0).as("_has"))
      .filter(col("_has")).drop("_has")
    val groups = keyed.groupBy("gk", "gk2")
      .agg(min("_m").as("rep"), sort_array(collect_list(col("_m"))).as("members"))
      .localCheckpoint(true) // consumed by rep selection, 2 expansions, within-pairs
    val reps = groups.select(col("rep").as(idCol))
    val repDocs = docs.join(reps, Seq(idCol), "left_semi")
    val sigs = minhashSignatures(repDocs, idCol, textCol)
    val rp = jaccardPairs(repDocs, idCol, textCol,
        lshCandidates(lshBuckets(sigs, bands, rowsPerBand)))
      .filter(col("jaccard") >= threshold)
    val mem = groups.select(col("rep"), explode(col("members")).as("m"))
    val cross = rp
      .join(mem.select(col("rep").as("doc_a"), col("m").as("ma")), "doc_a")
      .join(mem.select(col("rep").as("doc_b"), col("m").as("mb")), "doc_b")
      .select(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"), col("jaccard"))
    val within = groups.filter(size(col("members")) > 1)
      .select(explode(flatten(transform(col("members"), (x, i) =>
        transform(slice(col("members"), i + lit(2), size(col("members"))),
          y => struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"), lit(1.0).as("jaccard"))
    cross.unionByName(within)
  }

  /** [[minhashPairsDeduped]] with the regime choice made FOR the caller —
    * the auto-selection rung (`chooseIndex`-style): one cheap estimation
    * pass (approx_count_distinct over the token-sequence hash vs the row
    * count) decides whether the corpus is duplicate-saturated enough for
    * the representative collapse to pay its ~1-pass overhead. Clean
    * corpora keep the raw sigs→LSH→verify plan; saturated ones take the
    * collapse (8× at 20× saturation, value-identical either way).
    */
  def minhashPairsAuto(docs: DataFrame, idCol: String, textCol: String,
                       bands: Int = 4, rowsPerBand: Int = 4,
                       threshold: Double = 0.5,
                       maxDistinctRatio: Double = 0.7): DataFrame = {
    val joined = array_join(
      TextFunctions.tokenize(coalesce(col(textCol), lit(""))), " ")
    val est = docs.select(
        count(lit(1)).as("n"),
        approx_count_distinct(FastFunctions.polyHashPair(joined)).as("d"))
      .head()
    val (n, d) = (est.getLong(0), est.getLong(1))
    if (n > 0 && d.toDouble / n.toDouble < maxDistinctRatio)
      minhashPairsDeduped(docs, idCol, textCol, bands, rowsPerBand, threshold)
    else {
      val sigs = minhashSignatures(docs, idCol, textCol)
      jaccardPairs(docs, idCol, textCol,
          lshCandidates(lshBuckets(sigs, bands, rowsPerBand)))
        .filter(col("jaccard") >= threshold)
    }
  }

  /** Memoized SimHash near-dup pairs per corpus — the dedup-pair table is
    * an index-like artifact (the CLI `dedup` verb persists it to parquet);
    * queries that consume it (components, keep-canonical) share one
    * computation per session+corpus, like [[Bm25.cachedIndex]].
    */
  private val simhashPairsCache = new SessionMemo[DataFrame]
  def cachedSimhashPairs(key: String, docs: => DataFrame, idCol: String,
                         textCol: String, maxHamming: Int = 3): DataFrame = {
    val d = docs
    simhashPairsCache.getOrBuild(d.sparkSession, s"$key|$maxHamming")(
      simhashPairs(d, idCol, textCol, maxHamming)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** Connected components over an undirected pair list — the "dup groups"
    * closure a training pipeline runs on top of ANY pairwise dedup (near-dup
    * similarity is not transitive; grouping needs the graph closure). Each
    * node's component is the MINIMUM node id reachable from it.
    *
    * Three execution regimes, same result (each node's component is the
    * min reachable id):
    *  - edge lists under `driverEdgeLimit` run exact union-find on the
    *    driver (dup pairs are bounded by LSH/banding parameters, usually
    *    ≪ corpus — the broadcast-join economics);
    *  - lists up to a few × the limit run ITERATED SEED-AND-CONTRACT:
    *    union-find a `driverEdgeLimit`-edge head on the driver, rewrite
    *    every edge through those labels (every head edge becomes a
    *    self-loop and drops, so each pass removes ≥ the head from the
    *    distinct edge set), repeat until the remainder fits the driver —
    *    ⌈|E|/limit⌉ bounded passes, each within the budget the small path
    *    already accepts, and no distributed rounds at all;
    *  - genuinely large graphs take ONE seed pass (free pre-collapse of
    *    whatever structure lands in the head) and run the distributed
    *    alternating large-star/small-star loop (Kiveris et al. 2014,
    *    "Connected Components in MapReduce and Beyond") in
    *    [[connectedComponentsStars]] on the contracted remainder —
    *    O(log² n) rounds regardless of graph diameter, where min-label
    *    propagation needs O(diameter) rounds and a single 100M-node
    *    duplicate CHAIN (the shape verbatim-crawl dups produce) would run
    *    ~100M rounds. Sequential driver passes lose to parallel star
    *    rounds once the pass count grows, which is why the iterated
    *    regime caps at `SeedPassCap` passes.
    *
    * @return `(node, component)` for every node appearing in `pairs`
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
                          bCol: String = "doc_b", maxIter: Int = 50,
                          driverEdgeLimit: Long = 5000000L): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val nodeType = pairs.schema(pairs.schema.fieldIndex(aCol)).dataType
    val spark = pairs.sparkSession
    import spark.implicits._
    // Long ids (every dedup-family producer) take the primitive path:
    // typed collects and [[LongUnionFind]] — measured ~4× faster than the
    // boxed generic form at the 5M-edge head (driver decode + union-find
    // dominated the seed pass)
    val isLong = nodeType == org.apache.spark.sql.types.LongType
    def longUF(df: DataFrame): LongUnionFind = {
      val edges = df.as[(Long, Long)].collect()
      val uf = new LongUnionFind(math.max(16, edges.length))
      var i = 0
      while (i < edges.length) { uf.union(edges(i)._1, edges(i)._2); i += 1 }
      uf
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", nodeType),
      org.apache.spark.sql.types.StructField("component", nodeType)))
    def driverComponents(df: DataFrame): DataFrame =
      if (isLong)
        // parallelize, same as seedMap below: callers JOIN this result
        // (dup groups → docs), and a driver-encoded LocalRelation of up
        // to 2×limit rows would bottleneck that join on one thread
        spark.createDataset(spark.sparkContext.parallelize(
          longUF(df).entries().toIndexedSeq, 32))
          .toDF("node", "component")
      else {
        val parent = unionFindRoots(df.collect())
        val out = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size)
        val it = parent.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          out.add(org.apache.spark.sql.Row(e.getKey, e.getValue))
        }
        spark.createDataFrame(out, schema)
      }
    def seedMap(df: DataFrame): DataFrame =
      if (isLong)
        // parallelize the label rows (32 slices) instead of planning a
        // LocalRelation: the driver→executor transfer of a ~5M-row map is
        // chunked per partition and the downstream shuffle write runs in
        // parallel, instead of one driver thread serializing the whole map
        spark.createDataset(spark.sparkContext.parallelize(
          longUF(df).nonIdentityEntries().toIndexedSeq, 32))
          .toDF("node", "root")
      else {
        val parent = unionFindRoots(df.collect())
        val mapRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
        val pit = parent.entrySet().iterator()
        while (pit.hasNext) {
          val e = pit.next()
          if (e.getKey != e.getValue)
            mapRows.add(org.apache.spark.sql.Row(e.getKey, e.getValue))
        }
        spark.createDataFrame(mapRows,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("node", nodeType),
            org.apache.spark.sql.types.StructField("root", nodeType))))
      }
    var cur = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var curCount = cur.count()
    if (curCount <= driverEdgeLimit) {
      val out = driverComponents(cur)
      cur.unpersist()
      return out
    }
    // ── beyond the driver budget: iterated seed-and-contract ────────────
    // (no partition-local contraction here: it shrinks DIAMETER, not edge
    // count — tree/chain graphs keep ~|E| star edges — and the seed regime
    // only pays for count. The stars regime, which pays for diameter, runs
    // [[localContractPass]] internally; MEASURED on the 12.8M-edge chain
    // policy row, a pre-contraction pass here was ~2 s of pure overhead.)
    // each pass is allowed when the REMAINING pass count stays small;
    // otherwise one seed pass only, then the distributed star loop
    val headLimit = math.min(driverEdgeLimit, Int.MaxValue.toLong - 1).toInt
    val passCap =
      if (curCount <= driverEdgeLimit * SeedPassCap) Int.MaxValue else 1
    val maps = scala.collection.mutable.ArrayBuffer[DataFrame]()
    // the persisted handles behind `maps` (a broadcast() wrapper is a
    // different frame): released after the composed result materializes,
    // so repeated closures in one session don't accumulate cached blocks
    val persistedMaps = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var pass = 0
    var progress = true
    while (curCount > driverEdgeLimit && pass < passCap && progress) {
      pass += 1
      val t0 = System.nanoTime()
      // broadcast the pass labels ONLY in the one-pass-into-stars regime,
      // where the edge list can be arbitrarily large and a map-side join
      // avoids shuffling it raw; inside the iterated regime the list is
      // ≤ SeedPassCap × limit by definition, and two parallel shuffle
      // joins beat a driver-built 5M-row hashed relation (built twice —
      // the two projections defeat exchange reuse)
      val rawMap = seedMap(cur.limit(headLimit))
        .persist(StorageLevel.MEMORY_AND_DISK)
      persistedMaps += rawMap
      val mapDf = if (passCap == 1) broadcast(rawMap) else rawMap
      maps += mapDf
      val tMap = (System.nanoTime() - t0) / 1e9
      // contract: rewrite both endpoints through the pass labels (head
      // edges become self-loops and drop; cross-group edges become
      // super-node edges). No distinct: it cost a full shuffle per pass,
      // parallel super-edges are harmless (the next head just union-finds
      // them, the final driver pass and the star loop both dedup), and
      // contraction can only ever REMOVE rows
      val nxt = cur
        .join(mapDf.select(col("node").as("a"), col("root").as("ra")),
          Seq("a"), "left")
        .join(mapDf.select(col("node").as("b"), col("root").as("rb")),
          Seq("b"), "left")
        .select(coalesce(col("ra"), col("a")).as("a"),
          coalesce(col("rb"), col("b")).as("b"))
        .filter(col("a") =!= col("b"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nxtCount = nxt.count()
      cur.unpersist()
      println(f"[cc] seed pass $pass: $curCount -> $nxtCount edges" +
        f" (${(System.nanoTime() - t0) / 1e9}%.1f s: head+uf+map $tMap%.1f," +
        f" contract ${(System.nanoTime() - t0) / 1e9 - tMap}%.1f)")
      progress = nxtCount < curCount
      cur = nxt
      curCount = nxtCount
    }
    // finish: driver union-find if the remainder fits, stars otherwise
    // (the driver result is a local map — broadcast it into the
    // composition join below)
    var starsInput: Option[DataFrame] = None
    val comp: Option[DataFrame] =
      if (curCount == 0L) { cur.unpersist(); None }
      else if (curCount <= driverEdgeLimit) {
        val out = broadcast(driverComponents(cur))
        cur.unpersist()
        Some(out)
      } else {
        starsInput = Some(cur) // released after the composed result exists
        Some(connectedComponentsStars(cur, "a", "b", maxIter))
      }
    // compose: node → pass-1 root → pass-2 root → … → final component
    val nodes = pairs.select(col(aCol).as("node"))
      .unionByName(pairs.select(col(bCol).as("node"))).distinct()
    var lab = nodes.select(col("node"), col("node").as("r"))
    maps.foreach { mp =>
      lab = lab
        .join(mp.select(col("node").as("r"), col("root")), Seq("r"), "left")
        .select(col("node"), coalesce(col("root"), col("r")).as("r"))
    }
    val composed = comp match {
      case None => lab.select(col("node"), col("r").as("component"))
      case Some(c) =>
        lab.join(c.select(col("node").as("r"), col("component")),
            Seq("r"), "left")
          .select(col("node"),
            coalesce(col("component"), col("r")).as("component"))
    }
    // materialize ONCE (severing the lineage through every pass map), then
    // release the pass caches — a long session running many closures must
    // not accumulate MEMORY_AND_DISK blocks that only this plan references
    val out = composed.localCheckpoint(true)
    persistedMaps.foreach(_.unpersist())
    starsInput.foreach(_.unpersist())
    out
  }

  /** Beyond this many sequential seed-and-contract driver passes, the
    * distributed star loop wins (passes are sequential and each rescans
    * the full edge list; star rounds are parallel).
    */
  val SeedPassCap = 4

  /** Primitive open-addressing union-find over Long ids — the driver-side
    * hot path (5M-edge seed heads): no boxing, no per-node allocation.
    * Roots are the MINIMUM id of each group.
    */
  private final class LongUnionFind(expected: Int) {
    private var cap = math.max(1 << 10,
      java.lang.Integer.highestOneBit(math.max(1, expected)) << 2)
    private var table = Array.fill(cap)(-1) // slot -> node index, -1 empty
    private var keys = new Array[Long](math.max(16, expected * 2))
    private var parent = new Array[Int](keys.length)
    private var n = 0
    private def rehash(): Unit = {
      cap <<= 1
      table = Array.fill(cap)(-1)
      var i = 0
      while (i < n) {
        var h = java.lang.Long.hashCode(keys(i) * -7046029254386353131L) & (cap - 1)
        while (table(h) != -1) h = (h + 1) & (cap - 1)
        table(h) = i
        i += 1
      }
    }
    private def idxOf(k: Long): Int = {
      var h = java.lang.Long.hashCode(k * -7046029254386353131L) & (cap - 1)
      while (true) {
        val i = table(h)
        if (i == -1) {
          if (n == keys.length) {
            keys = java.util.Arrays.copyOf(keys, keys.length * 2)
            parent = java.util.Arrays.copyOf(parent, parent.length * 2)
          }
          table(h) = n; keys(n) = k; parent(n) = n; n += 1
          if (n.toLong * 4 > cap.toLong * 3) rehash()
          return n - 1
        }
        if (keys(i) == k) return i
        h = (h + 1) & (cap - 1)
      }
      -1 // unreachable
    }
    private def find(i0: Int): Int = {
      var r = i0
      while (parent(r) != r) r = parent(r)
      var c = i0
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val ra = find(idxOf(a)); val rb = find(idxOf(b))
      if (ra != rb) {
        if (keys(ra) < keys(rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    def size: Int = n
    /** (node, min-root) for every seen node, identity rows included. */
    def entries(): Array[(Long, Long)] = {
      val out = new Array[(Long, Long)](n)
      var i = 0
      while (i < n) { out(i) = (keys(i), keys(find(i))); i += 1 }
      out
    }
    /** (node, min-root) only where the root differs from the node. */
    def nonIdentityEntries(): Array[(Long, Long)] = {
      val buf = new scala.collection.mutable.ArrayBuffer[(Long, Long)](n)
      var i = 0
      while (i < n) {
        val r = keys(find(i))
        if (r != keys(i)) buf += ((keys(i), r))
        i += 1
      }
      buf.toArray
    }
  }

  /** Driver-side union-find over collected `(a, b)` rows: returns a fully
    * path-compressed `node → root` map where every root is the MINIMUM id
    * of its group (ids compared via their natural `Comparable` order, so
    * any node type the dedup family produces works). Long-id graphs take
    * the [[LongUnionFind]] primitive path instead — this generic form is
    * the non-Long fallback.
    */
  private def unionFindRoots(rows: Array[org.apache.spark.sql.Row])
      : java.util.HashMap[Any, Any] = {
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    def lt(a: Any, b: Any): Boolean =
      a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    rows.foreach { r =>
      val a = r.get(0); val b = r.get(1)
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb) }
    }
    val it = parent.keySet.iterator()
    while (it.hasNext) find(it.next()) // compress everything to its root
    parent
  }

  /** BOTH star families from ONE pass over a hash(src) partition of the
    * SYMMETRIZED edge list, rows sorted (src, dst) — the r16 fusion that
    * makes a whole star round cost a SINGLE shuffle+sort (the r15 shape
    * paid one per star op, two per alternation). For each src-group `u`
    * with distinct sorted neighbors d1 ≤ d2 ≤ …:
    *
    *  - '''small-star members''': every d < u emits (d, m1) where
    *    m1 = d1 is the group's minimum member (d = m1 itself emits
    *    nothing);
    *  - '''large-star''': every d > u emits (d, m) where m = min(u, d1)
    *    is the closed-neighborhood minimum.
    *
    * The classical small-star GROUP-CLOSING emission (u, m1) is dropped:
    * it is always redundant — u is a (larger) neighbor in group m1, whose
    * large-star emits (u, min(Γ(m1) ∪ {m1})), and that chain of minima
    * bottoms out at the component minimum, so u's connectivity and
    * presence survive without the extra row. Dropping it is what makes a
    * fixpoint star reproduce itself EXACTLY (duplicate-free): the center
    * group re-emits each (v, c) via large-star and member groups emit
    * nothing, so the stability checksum and the freeze check see clean
    * stars. Connectivity is preserved both ways (each family replaces
    * edges within one proven-connected neighborhood), every node with an
    * edge stays present (its minimum neighbor's group emits for it, or it
    * is itself a closed-neighborhood minimum), and within-group duplicate
    * neighbors are skipped on the fly (sorted adjacency) — cross-group
    * duplicates land sorted-adjacent in the NEXT round's group and die
    * there, exactly the r15 bound. O(1) state, fully streaming: hub
    * neighborhoods never materialize; sorted order delivers all d < u
    * before any d > u, so at most one emission is pending.
    */
  private[operators] def bothStarsPass(in: Iterator[(Long, Long)])
      : Iterator[(Long, Long)] =
    new scala.collection.AbstractIterator[(Long, Long)] {
      private var curU = 0L
      private var nbMin = 0L // first (minimum) neighbor of the group
      private var lastD = 0L
      private var started = false
      private var outA = 0L
      private var outB = 0L
      private var ready = false
      private def emitFor(u: Long, d: Long): Unit =
        if (d < u) {
          // small-star member: (d, m1) unless d IS the minimum member
          if (d != nbMin) { outA = d; outB = nbMin; ready = true }
        } else if (d > u) {
          // large-star: closed-neighborhood min
          outA = d; outB = math.min(u, nbMin); ready = true
        } // d == u (self-loop) emits nothing
      private def advance(): Unit = {
        while (!ready && in.hasNext) {
          val r = in.next()
          val u = r._1; val d = r._2
          if (!started || u != curU) {
            started = true; curU = u; nbMin = d; lastD = d
            emitFor(u, d)
          } else if (d != lastD) {
            lastD = d
            emitFor(u, d)
          }
        }
      }
      def hasNext: Boolean = { advance(); ready }
      def next(): (Long, Long) = {
        advance()
        if (!ready) throw new NoSuchElementException("bothStarsPass")
        ready = false
        (outA, outB)
      }
    }

  /** Partition-LOCAL exact contraction — the zero-shuffle pre-pass of the
    * distributed component closure: each partition union-finds ITS OWN
    * edges in memory ([[LongUnionFind]], the driver-seed structure run per
    * task) and emits the connectivity-EQUIVALENT star edges
    * `(node → local root)` instead. No exchange: the pass runs on the
    * input's existing partitioning.
    *
    * Correctness is the seed-and-contract argument, distributed: the
    * emitted edges connect exactly the nodes each partition PROVED
    * connected (a,b in one local component ⇒ both emit an edge to the
    * local min, so a–root–b is a path), no original node disappears
    * (n ≠ root emits (n, root); a local root of a ≥2-node component
    * appears as some member's dst), and nothing new is connected. Output
    * size is ≤ distinct-nodes-per-partition ≤ 2·|E_p| and in practice ≪:
    * dup-pair lists carry heavy producer locality (LSH band buckets,
    * range-built fixtures), so most edges collapse into per-partition
    * stars and the distributed loop starts from a graph whose diameter is
    * bounded by the PARTITION graph, not the node graph.
    *
    * Memory: the per-task union-find is capped at [[LocalContractCap]]
    * edges (≈ the sorter-budget class); a partition's overflow streams
    * through RAW ahead of the contracted head — still
    * connectivity-equivalent, just less contracted.
    */
  val LocalContractCap: Int = 4000000

  private[operators] def localContractPass(in: Iterator[(Long, Long)])
      : Iterator[(Long, Long)] = {
    val uf = new LongUnionFind(1 << 16)
    var n = 0
    while (n < LocalContractCap && in.hasNext) {
      val r = in.next()
      uf.union(r._1, r._2)
      n += 1
    }
    in ++ new scala.collection.AbstractIterator[(Long, Long)] {
      private var arr: Array[(Long, Long)] = _
      private var i = 0
      private def init(): Unit =
        if (arr == null) arr = uf.nonIdentityEntries()
      def hasNext: Boolean = { init(); i < arr.length }
      def next(): (Long, Long) = { init(); val r = arr(i); i += 1; r }
    }
  }

  /** [[localContractPass]] over a Long-id `(src, dst)`/(a, b) edge frame —
    * zero-shuffle, partitioning preserved, column names preserved.
    */
  private def contractLocal(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val names = e.columns
    e.as[(Long, Long)].mapPartitions(localContractPass _)
      .toDF(names.head, names(1))
  }

  /** ONE fused star round for Long-id edge lists as exactly ONE
    * shuffle+sort stage — [[bothStarsPass]] over the hash(src)-partitioned,
    * (src, dst)-sorted symmetrized list emits the large-star AND
    * small-star-member families together, so the groupBy(min), the
    * min-join, the distinct(), and the second star op's whole exchange all
    * collapse into the one sort the shuffle already pays for (the r15
    * shape was two shuffle+sort stages per alternation; receipt:
    * tools/scale_r16.txt scattered rows). Lineage is LINEAR (no stage
    * references its input twice), so rounds can nest inside one action
    * without the multiplicative-recompute trap the generic star ops have
    * (PLANS.md r14).
    *
    * When every id fits in 31 bits (`packed` — checked once per closure;
    * true for doc ids, which are non-negative and ≪ 2³¹), the exchange
    * moves ONE packed Long per edge, `(src << 32) | dst`: 8-byte shuffle
    * rows instead of 16, and the sort keys a single Long column — fully
    * radix-sortable, with (src, dst) lexicographic order preserved because
    * both halves are non-negative. Pack/unpack are codegen projections
    * fused into the map stages on either side of the exchange.
    *
    * NO explicit partition count: AQE is free to coalesce each round's
    * exchange to advisory-sized partitions. MEASURED both ways on the
    * 1.6M-edge chain receipt: pinning 32 partitions cost ~0.1 s/stage in
    * pure task overhead because each round's edge list is a few dozen
    * MB — and at real scale AQE keeps the partitioning anyway.
    */
  private def fusedStarRounds(e: DataFrame, rounds: Int,
                              packed: Boolean): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    // symmetrization is FUSED into the map stages: the input hop and every
    // non-final pass emit both orientations straight into the next
    // exchange from the same task (no Generate/explode operator, no
    // second scan of the input); only the final pass emits oriented rows
    if (packed) {
      var ds: org.apache.spark.sql.Dataset[Long] = e.as[(Long, Long)]
        .mapPartitions(_.flatMap { case (a, b) =>
          Iterator((a << 32) | b, (b << 32) | a) })
      var i = 0
      while (i < rounds) {
        val last = i == rounds - 1
        ds = ds.toDF("p")
          .repartition(shiftrightunsigned(col("p"), 32))
          .sortWithinPartitions("p")
          .as[Long]
          .mapPartitions { it =>
            val out = bothStarsPass(it.map(x => (x >>> 32, x & 0xFFFFFFFFL)))
            if (last) out.map { case (a, b) => (a << 32) | b }
            else out.flatMap { case (a, b) =>
              Iterator((a << 32) | b, (b << 32) | a) }
          }
        i += 1
      }
      ds.toDF("p")
        .select(shiftrightunsigned(col("p"), 32).as("src"),
          col("p").bitwiseAND(lit(0xFFFFFFFFL)).as("dst"))
    } else {
      var ds: org.apache.spark.sql.Dataset[(Long, Long)] = e.as[(Long, Long)]
        .mapPartitions(_.flatMap { case (a, b) => Iterator((a, b), (b, a)) })
      var i = 0
      while (i < rounds) {
        val last = i == rounds - 1
        ds = ds.toDF("src", "dst")
          .repartition(col("src"))
          .sortWithinPartitions("src", "dst")
          .as[(Long, Long)]
          .mapPartitions { it =>
            val out = bothStarsPass(it)
            if (last) out
            else out.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
          }
        i += 1
      }
      ds.toDF("src", "dst")
    }
  }

  /** Distributed connected components by ALTERNATING STARS (Kiveris et al.
    * 2014, arXiv:1203.5387 — the "two-phase" algorithm): repeat
    * small-star(large-star(E)) until the edge set is stable, at which point
    * every edge points a node directly at its component's minimum.
    *
    *  - '''large-star(u)''': connect every neighbor LARGER than `u` to the
    *    minimum of `u`'s closed neighborhood m = min(Γ(u) ∪ {u}).
    *  - '''small-star(u)''': orient edges toward the smaller endpoint, then
    *    connect every (≤) neighbor and `u` itself to that same minimum.
    *
    * Both keep connectivity invariant and strictly shrink a potential
    * function; convergence is O(log² n) ROUNDS IRRESPECTIVE OF DIAMETER —
    * the property that matters at 100 TB, where verbatim-duplicate chains
    * make min-label propagation's O(diameter) unbounded.
    *
    * Long-id edge lists (every dedup-family producer) run the FAST path:
    * one zero-shuffle [[localContractPass]] first (each partition
    * union-finds its own edges — the loop then starts from the PARTITION
    * graph's diameter; receipt: the 1.6M/6.4M chain rows converge in one
    * round, 48 s → ~7 s), then [[fusedStarRound]]s — ONE shuffle+sort per
    * round emitting both star families from a single streaming
    * sorted-neighborhood pass ([[bothStarsPass]]), packed to 8-byte
    * single-Long rows when ids fit 31 bits, no join/agg/distinct
    * exchanges (receipt: the scattered rows in tools/scale_r16.txt, where
    * contraction finds nothing and the pure loop constant is isolated).
    * Other id types keep the generic DataFrame ops:
    * each star one map-side-combinable `groupBy(min)` plus one join that
    * REUSES the aggregation's hash partitioning on `src`. Neither path
    * materializes hub neighborhoods as arrays (`collect_list`-free), so
    * skewed dup clusters (one page duplicated millions of times) stream,
    * not OOM.
    *
    * Constant-factor structure (what the wall-clock is actually made of —
    * per-ACTION and per-exchange overhead, not row volume, dominates at
    * these edge-list sizes):
    *  - each round is exactly ONE Spark action — the stability checksum
    *    (count + decimal endpoint/hash sums) doubles as the
    *    materialization of the round's lazy checkpoint;
    *  - frontier FREEZING runs on exponential backoff: a component is
    *    finished the moment it reaches its fixpoint star (every member
    *    points straight at the component minimum `c`, `c` emits nothing,
    *    no member touches any other edge — large-star and small-star are
    *    both identities on it), and the check anti-joins finished stars
    *    into a `done` accumulator so later rounds shuffle only the LIVE
    *    frontier. Real dup graphs are dominated by tiny components that
    *    finish immediately — the check pays for itself; on a single giant
    *    component (a chain) nothing freezes until the end, so after each
    *    miss the next check is pushed out 2× and the steady-state cost is
    *    the star action alone. Per-round counts and times are logged.
    *  (On the GENERIC path, batching two alternations into one plan was
    *  MEASURED and rejected: each generic star op references its input
    *  twice, so un-checkpointed nesting recomputes the inner subtree
    *  multiplicatively — 204 s vs 160 s on the 6.4M-edge chain receipt.
    *  The fused Long path has linear lineage, so it nests freely.)
    *
    * @return `(node, component)` for every node appearing in `pairs`
    */
  def connectedComponentsStars(pairs: DataFrame, aCol: String = "doc_a",
                               bCol: String = "doc_b",
                               maxIter: Int = 50,
                               firstActionRounds: Int = 4): DataFrame = {
    // (count, Σhash(src), Σhash(dst), Σhash(src,dst)) — hashes make the
    // checksum TYPE-AGNOSTIC (string ids crash a raw decimal cast under
    // ANSI), decimal sums are overflow-proof at any count; three
    // independent hash sums guard against distinct consecutive edge sets
    // colliding
    def checksum(e: DataFrame)
        : (Long, java.math.BigDecimal, java.math.BigDecimal, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("src")).cast("decimal(38,0)")),
        sum(xxhash64(col("dst")).cast("decimal(38,0)")),
        sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1), r.getDecimal(2), r.getDecimal(3))
    }
    // large-star: min over the closed neighborhood of the SYMMETRIZED list,
    // emitted to strictly-larger neighbors. distinct() bounds growth (the
    // same (v, m) arises from many u).
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy("src").agg(min(col("dst")).as("mn"))
      sym.join(mins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), least(col("src"), col("mn")).as("dst"))
        .distinct()
    }
    // small-star: orient toward the smaller endpoint; every group member
    // (and the center u) connects to the group minimum. Output edges are
    // all oriented src > dst — the invariant the freeze check reads.
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(
          greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .filter(col("src") =!= col("dst"))
      val mins = oriented.groupBy("src").agg(min(col("dst")).as("m"))
      oriented.join(mins, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionByName(mins.select(col("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }
    // Long-id edge lists (every dedup-family producer) take the fused
    // sorted-neighborhood rounds — ONE shuffle per round, no
    // joins/distinct/agg exchanges, linear lineage (no mid checkpoint)
    val fastLong =
      pairs.schema(pairs.schema.fieldIndex(aCol)).dataType ==
        org.apache.spark.sql.types.LongType &&
      pairs.schema(pairs.schema.fieldIndex(bCol)).dataType ==
        org.apache.spark.sql.types.LongType
    var live = {
      val raw = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .filter(col("src") =!= col("dst"))
      // TWO locality-recovery contractions ahead of the loop (Long ids):
      //  1. zero-shuffle partition-local union-find — PRODUCER locality
      //     (LSH band buckets, range-built fixtures co-locate neighbors);
      //  2. ONE range exchange on src + the same per-partition union-find
      //     — ID locality (crawl/batch-ordered ids make duplicate
      //     neighborhoods id-adjacent even when the producer scattered
      //     them across partitions; each contiguous id window contracts
      //     to its window stars, so an id-correlated graph enters the
      //     loop at the WINDOW graph's diameter).
      // Worst case — ids uncorrelated with structure — the pair costs one
      // map pass plus one exchange; the PERMUTED receipt row
      // (tools/scale_r16.txt) pins that pure-loop bound.
      if (fastLong)
        contractLocal(contractLocal(raw).repartitionByRange(col("src")))
      else raw
    }.localCheckpoint(false)
    // the initial checksum action ALSO materializes the checkpoint and
    // carries the packed-round eligibility bounds: every id in [0, 2³¹)
    // — 31 bits (not 32) keeps the packed Long non-negative, so its
    // signed sort is the (src, dst) lexicographic order the fused pass
    // needs. One action, no separate min/max pass.
    val r0 = live.agg(count(lit(1)),
      sum(xxhash64(col("src")).cast("decimal(38,0)")),
      sum(xxhash64(col("dst")).cast("decimal(38,0)")),
      sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")),
      min(least(col("src"), col("dst"))),
      max(greatest(col("src"), col("dst")))).head()
    var cs = (r0.getLong(0), r0.getDecimal(1), r0.getDecimal(2), r0.getDecimal(3))
    val packedOk = fastLong && cs._1 > 0L &&
      r0.getAs[Long](4) >= 0L && r0.getAs[Long](5) < (1L << 31)
    val nodes = pairs.select(col(aCol).as("node"))
      .unionByName(pairs.select(col(bCol).as("node"))).distinct()
    if (cs._1 == 0L) // no non-loop edges: every node is its own component
      return nodes.withColumn("component", col("node"))
    val doneParts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    // node → representative relabel tables accumulated by the stall
    // finisher's CONTRACTIONS, applied in order at assembly time
    val relabels = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var it = 0
    var converged = false
    var nextFreezeCheck = 1
    var freezeGap = 1
    while (!converged && cs._1 > 0L && it < maxIter) {
      it += 1
      val t0 = System.nanoTime()
      // the heavy action. On the Long fast path: four FUSED star rounds
      // nested in one LINEAR plan (each stage referenced once — no
      // recompute multiplication), 4 shuffle+sort stages total; on the
      // generic path: two alternations with the middle one
      // LAZY-checkpointed — localCheckpoint returns a LogicalRDD-backed
      // frame, so the second alternation's three references to `mid`
      // share ONE cached compute instead of re-expanding the subtree (the
      // un-severed nesting was measured 27×-recompute slow). Either way
      // the checksum then materializes the whole chain, so each
      // non-freeze round is exactly ONE Spark action (on a cluster swap
      // in reliable checkpoint())
      val next = (if (fastLong)
          // FOUR fused rounds per action on the fast path (4 shuffles;
          // same as the r15 two-alternation shape but each shuffle moves
          // packed 8-byte rows and every round advances both families):
          // lineage is linear so the nesting is recompute-free without a
          // mid checkpoint; overshoot past the fixpoint is cheap (a star
          // reproduces itself). TWO rounds per action was A/B'd when the
          // r17 stall finisher landed (deeper trees per action feed the
          // contraction): permuted 1.6M read 17.6 s at 4 rounds vs
          // 20.6 s at 2 — fewer, deeper actions win because each
          // finisher then contracts ~250× instead of ~16×.
          // An EARLIER trigger (first action at 1 round so the stall
          // check sees the frozen-at-~n count ~3 rounds sooner — verdict
          // r18 #7) was A/B'd same-JVM and REJECTED: permuted 1.6M
          // 28.0 s (early) vs 26.2 s (this policy), 6.4M 46.4 vs 38.8 —
          // the shallow trees gut the contraction factor (post-finisher
          // live 852k vs 191k at 6.4M), re-confirming deeper-trees-feed-
          // the-contraction from the opposite direction
          // (tools/scale_r18.txt; firstActionRounds keeps the
          // counterfactual runnable)
          fusedStarRounds(live, if (it == 1) firstActionRounds else 4,
            packedOk)
        else {
          val mid = smallStar(largeStar(live)).localCheckpoint(false)
          smallStar(largeStar(mid))
        }).localCheckpoint(false)
      val ncs = checksum(next)
      // STALL detector + POINTER-DOUBLING finisher (verdict r17 #3): on a
      // no-locality graph the star loop enters a long pointer-chasing
      // tail — the r17 per-round probe on the permuted 1.6M-edge chain
      // showed the live count frozen at ~n from round 4 while ~18 more
      // rounds each advance labels one neighborhood step (each ~0.7 s of
      // pure per-stage constant). When an action barely shrinks the edge
      // set and nothing is freezing, the surviving structure is parent
      // chains (every edge already points strictly downward, src > dst),
      // and the right tool is pointer doubling on the min-parent FUNCTION
      // (Shiloach & Vishkin 1982's jumping half; CC-MR / Rastogi 2013 use
      // the same composition): self-compose the one-row-per-src parent
      // table until stable — depth halves per join on an n-row table —
      // then CONTRACT the live graph through the converged pointer R
      // (both endpoints mapped, intra-tree loops dropped): every pointer
      // tree becomes one node and the loop continues on the root graph, a
      // contraction factor smaller each time (contract-and-recurse, the
      // standard parallel-CC shape). Connectivity is preserved — each
      // min-parent edge (v, p(v)) IS a live edge, so a tree is a
      // connected subgraph and collapsing it onto its root changes no
      // component; R is recorded in `relabels` and composed back over the
      // original nodes at assembly. A dst-only remap without the
      // contraction was MEASURED first (r17): it kept n edges per round
      // alive and made the permuted receipt WORSE (38 s vs 28 s) — the
      // shrink is where the win is. The loop's own checksum/freeze
      // machinery stays the arbiter.
      val stalled = fastLong && ncs != cs && ncs._1 > 0L &&
        ncs._1.toDouble >= cs._1.toDouble * 0.90
      val (round, rcs) =
        if (!stalled) (next, ncs)
        else {
          var par = next.groupBy("src").agg(min(col("dst")).as("p"))
            .localCheckpoint(false)
          var sig = par.agg(sum(xxhash64(col("src"), col("p"))
            .cast("decimal(38,0)"))).head().getDecimal(0)
          var advancing = true
          var hops = 0
          while (advancing && hops < 40) {
            hops += 1
            val stepped = par.join(
                par.select(col("src").as("p"), col("p").as("_pp")),
                Seq("p"), "left")
              .select(col("src"), coalesce(col("_pp"), col("p")).as("p"))
              .localCheckpoint(false)
            val nsig = stepped.agg(sum(xxhash64(col("src"), col("p"))
              .cast("decimal(38,0)"))).head().getDecimal(0)
            advancing = nsig != sig
            sig = nsig
            par = stepped
          }
          // CONTRACT to the root graph: map BOTH endpoints through the
          // converged pointer R, drop the (many) intra-tree self-loops,
          // dedup, re-orient. Every pointer tree collapses to ONE node,
          // so the loop continues on a graph a contraction factor smaller
          // — the contract-and-recurse shape of parallel CC (Shun et al.
          // 2014); R itself is recorded and composed back over the
          // original nodes at assembly time.
          relabels += par
          val rsrc = par.select(col("src").as("src"), col("p").as("_rs"))
          val rdst = par.select(col("src").as("dst"), col("p").as("_rd"))
          val jumped = next
            .join(rsrc, Seq("src"), "left")
            .join(rdst, Seq("dst"), "left")
            .select(coalesce(col("_rs"), col("src")).as("a"),
              coalesce(col("_rd"), col("dst")).as("b"))
            .filter(col("a") =!= col("b"))
            .select(greatest(col("a"), col("b")).as("src"),
              least(col("a"), col("b")).as("dst"))
            .distinct()
            .localCheckpoint(false)
          println(f"[cc-stars] round=$it stall -> pointer-double + contract" +
            f" ($hops compositions)")
          (jumped, checksum(jumped))
        }
      // a jumped set equalling the previous live set does NOT certify
      // star-invariance (the fixpoint criterion) — only a pure star
      // action's unchanged output does
      if (rcs == cs && !stalled) {
        // global fixpoint: every live component is a final star. Checked
        // FIRST (one cheap scan) so fixpoint rounds never pay the freeze
        // machinery — the direct receipt rows converge in round 1 on
        // their biggest edge set
        doneParts += round
        converged = true
        println(f"[cc-stars] round=$it fixpoint: ${rcs._1} star edges done" +
          f" (${(System.nanoTime() - t0) / 1e9}%.1f s)")
      } else if (it >= nextFreezeCheck || stalled) {
        // FUSED freeze check over the checkpointed round, all oriented
        // src > dst: star S(c) = {(v → c)} is a finished component iff c
        // never emits (c ∉ src) and every member v appears in NO other
        // edge (deg 1) — then S(c) is a whole component at its fixpoint
        // and can leave the loop. busyCenters = centers disqualified by
        // either condition. ONE left join flags every row, ONE agg action
        // then computes the frozen count AND the live-side checksum
        // together — the r15 shape paid two more actions, an extra
        // checkpoint, and a second join of `next` per check.
        val deg = round.select(col("src").as("n"))
          .unionByName(round.select(col("dst").as("n")))
          .groupBy("n").agg(count(lit(1)).as("deg"))
        val busyCenters = round
          .join(deg.filter(col("deg") > 1).select(col("n").as("src")),
            Seq("src"), "left_semi")
          .select(col("dst"))
          .unionByName(round.select(col("src").as("dst")))
          .distinct()
        val flagged = round
          .join(busyCenters.withColumn("busy", lit(true)), Seq("dst"), "left")
          .localCheckpoint(false)
        val busy = col("busy").isNotNull
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val r = flagged.agg(
          count(when(busy, 1)),
          sum(when(busy, dec(xxhash64(col("src"))))),
          sum(when(busy, dec(xxhash64(col("dst"))))),
          sum(when(busy, dec(xxhash64(col("src"), col("dst")))))).head()
        val frozenCount = rcs._1 - r.getLong(0)
        if (frozenCount > 0L) {
          doneParts += flagged.filter(!busy).select("src", "dst")
          live = flagged.filter(busy).select("src", "dst")
          cs = (r.getLong(0), r.getDecimal(1), r.getDecimal(2), r.getDecimal(3))
          freezeGap = 1 // freezing is paying off: keep checking every round
        } else {
          live = round
          cs = rcs
          freezeGap *= 2 // a miss: push the next check out (chain graphs
          // never freeze mid-run — don't pay the check per round for them)
        }
        nextFreezeCheck = it + freezeGap
        println(f"[cc-stars] round=$it live=${cs._1} frozen=$frozenCount" +
          f" done=${doneParts.size} parts" +
          f" (${(System.nanoTime() - t0) / 1e9}%.1f s)")
      } else {
        live = round
        cs = rcs
        println(f"[cc-stars] round=$it live=${cs._1}" +
          f" (freeze check deferred to round $nextFreezeCheck," +
          f" ${(System.nanoTime() - t0) / 1e9}%.1f s)")
      }
    }
    require(converged || cs._1 == 0L,
      s"connectedComponentsStars did not converge in $maxIter rounds" +
        s" (${cs._1} live edges remain)")
    // every frozen edge is (node, componentMin); the minima themselves
    // (and any self-paired input nodes) label themselves. Contraction
    // relabels (stall finisher) compose first, IN ORDER — each maps a
    // node to its pointer-tree root in the space the next table was
    // built over; a fully-contracted component's root IS its minimum
    // (min-parent chains strictly decrease, and the component minimum is
    // the unique sink once a component collapses to one tree).
    // compose the relabel CHAIN first (each table is contraction-factor
    // smaller than the last, so r1 ∘ r2 ∘ … costs one join of the FIRST
    // table plus joins of tiny tails), then apply to the node set once —
    // folding over `nodes` instead would re-join the full node table per
    // finisher
    val relComposed = relabels.reduceLeftOption { (r1, r2) =>
      // map r1's targets through r2, AND keep r2 rows for nodes r1 never
      // relabeled (an earlier finisher's tree ROOT can be relabeled by a
      // later one — dropping it would freeze that node at itself)
      r1.join(r2.select(col("src").as("p"), col("p").as("_np")),
          Seq("p"), "left")
        .select(col("src"), coalesce(col("_np"), col("p")).as("p"))
        .unionByName(r2.join(r1.select("src"), Seq("src"), "left_anti"))
    }
    val withRep = relComposed.fold(nodes.withColumn("rep", col("node"))) {
      rel =>
        nodes.join(rel.select(col("src").as("node"), col("p").as("_nr")),
            Seq("node"), "left")
          .select(col("node"), coalesce(col("_nr"), col("node")).as("rep"))
    }
    if (doneParts.isEmpty) // all loops, or every component contracted away
      return withRep.select(col("node"), col("rep").as("component"))
    val stars = doneParts.reduce(_ unionByName _)
    withRep.join(
        stars.select(col("src").as("rep"), col("dst").as("component")),
        Seq("rep"), "left")
      .select(col("node"),
        coalesce(col("component"), col("rep")).as("component"))
  }

  /** Receipt-only probe (verdict r17 #3): run the FUSED star rounds ONE at
    * a time over a Long-id edge list and return `(round, liveEdges,
    * seconds)` per round — where the no-locality wall-clock actually goes
    * (round count × per-round constant, or a slow edge-shrink tail). Not a
    * serving path: the production loop batches 4 rounds per action exactly
    * because these per-round materializations cost an action each; the
    * probe pays that to make the breakdown visible in `tools/scale_r17`.
    * Skips the contraction pre-passes so the PURE loop is what's measured.
    */
  private[graft] def ccRoundProbe(pairs: DataFrame, aCol: String = "doc_a",
                                  bCol: String = "doc_b", maxRounds: Int = 40)
      : Seq[(Int, Long, Double)] = {
    var live = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .filter(col("src") =!= col("dst")).localCheckpoint(false)
    val r0 = live.agg(count(lit(1)), min(least(col("src"), col("dst"))),
      max(greatest(col("src"), col("dst")))).head()
    val packedOk = r0.getLong(0) > 0L &&
      r0.getAs[Long](1) >= 0L && r0.getAs[Long](2) < (1L << 31)
    val out = scala.collection.mutable.ArrayBuffer[(Int, Long, Double)]()
    var prev = -1L
    var n = r0.getLong(0)
    var i = 0
    while (i < maxRounds && n != prev) {
      i += 1
      prev = n
      val t0 = System.nanoTime()
      live = fusedStarRounds(live, 1, packedOk).localCheckpoint(false)
      n = live.count()
      out += ((i, n, (System.nanoTime() - t0) / 1e9))
    }
    out.toSeq
  }

  /** Rademacher (±1) hyperplane component for sign-LSH: pure integer hash of
    * (plane, component, seed) → parity. ±1 planes are a standard random
    * projection family (Achlioptas 2001), and being integer-hash-derived the
    * bucket assignment is reproducible by ANY SQL engine — the DuckDB oracle
    * recomputes the exact buckets (Gaussian JVM randoms were not).
    */
  def rademacherPlane(p: Int, j: Int, seed: Long): Float = {
    val h = ((p.toLong * 1000003L + j) * 2654435761L + seed * 97L) % 1000000007L
    if (h % 2L == 0L) 1.0f else -1.0f
  }

  /** Embedding near-dup: pairs with cosine ≥ threshold. Candidate
    * generation via sign-LSH buckets over `numPlanes` fixed hash-derived
    * ±1 hyperplanes (deterministic from the seed), exact cosine verify
    * inside buckets only.
    */
  def embeddingDups(embeddings: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, numPlanes: Int = 8, seed: Long = 42L): DataFrame = {
    val head = embeddings.select(size(col(vecCol))).take(1)
    if (head.isEmpty) // empty corpus slice -> empty result with the SAME
      // schema the non-empty branch produces (doc ids keep idCol's type)
      return embeddings.select(col(idCol).as("doc_a"), col(idCol).as("doc_b"),
        lit(0.0).as("cos")).filter(lit(false))
    val dim = head(0).getInt(0)
    val planes = Array.tabulate(numPlanes, dim)((p, j) => rademacherPlane(p, j, seed))
    val sigExpr = (0 until numPlanes).map { p =>
      when(VectorFunctions.dot(col(vecCol), VectorFunctions.vecLit(planes(p).toSeq)) >= 0,
        shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce(_ + _)
    val sigs = embeddings.select(col(idCol).as("doc_id"), col(vecCol).as("v"),
      sigExpr.as("bucket"))
    val a = sigs.select(col("bucket"), col("doc_id").as("doc_a"), col("v").as("va"))
    val b = sigs.select(col("bucket"), col("doc_id").as("doc_b"), col("v").as("vb"))
    a.join(b, "bucket")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        VectorFunctions.cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Build a Bloom filter over a LONG fingerprint column, distributed:
    * each partition sets bits into a local word array
    * ([[graft.functions.HashAlgos.bloomSet]]), arrays OR-merge up a tree.
    * The genuine per-partition imperative case the RDD layer exists for —
    * the same shape as Spark's own `DataFrameStatFunctions.bloomFilter`.
    *
    * Sizing is the standard m = ⌈−n·ln(fpp)/ln²2⌉, k = ⌈(m/n)·ln 2⌉,
    * clamped to `maxBits` (default 2³⁰ bits = 128 MB — a ~100M-key batch
    * at 1% fpp fits; beyond the clamp the filter stays correct, the
    * false-positive rate just rises and the exact verify join absorbs it).
    * Memory note: like `stat.bloomFilter`, every in-flight task holds its
    * own m/8-byte array during the build — budget maxBits against
    * (executor cores × m/8), not just the final broadcast.
    *
    * @return (bit words, numHashes)
    */
  def buildBloom(fps: DataFrame, fpCol: String, expectedItems: Long,
                 fpp: Double = 0.01, maxBits: Long = 1L << 30): (Array[Long], Int) = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val n = expectedItems.max(1L)
    val ln2 = math.log(2)
    val m0 = math.ceil(-n.toDouble * math.log(fpp) / (ln2 * ln2)).toLong
    // hard cap: the word array must index with an Int — beyond ~2^37 bits
    // nWords.toInt would wrap (negative-size allocation / zero bitSize)
    val mCap = (Int.MaxValue.toLong - 8L) * 64L
    val m = m0.max(64L).min(maxBits.max(64L)).min(mCap)
    val nWords = ((m + 63L) / 64L).toInt
    val k = math.max(1, math.ceil((m.toDouble / n.toDouble) * ln2).toInt)
    val words = fps.select(col(fpCol).cast("long")).na.drop()
      .rdd.map(_.getLong(0))
      .treeAggregate(new Array[Long](nWords))(
        (acc, v) => { graft.functions.HashAlgos.bloomSet(acc, k, v); acc },
        (a, b) => { var i = 0; while (i < a.length) { a(i) |= b(i); i += 1 }; a })
    (words, k)
  }

  /** Incremental exact dedup of an ingest batch against a lake, Bloom-
    * prefiltered: for every batch doc, the lowest-id lake doc with the same
    * content fingerprint (`keep_id`, NULL when the doc is new) — the S5
    * skip-reingest decision (`database/processor.py` skips files already in
    * the chunk store) at corpus scale.
    *
    * 100 TB shape: the batch (small side) is fingerprinted and folded into
    * a Bloom filter; the LAKE scan applies `bloom_might_contain(fp)` inside
    * whole-stage codegen, so non-matching lake rows die map-side without
    * shuffling — only candidate rows (true matches + fpp false positives)
    * reach the exact verify join. This sits between the broadcast-hash-join
    * regime (batch fingerprints fit in a hash map — a few GB at 100M keys)
    * and the sort-merge regime (shuffling the full lake fingerprint set):
    * the bloom is ~10 bits/key where a hash join needs ~100+, and no lake
    * row moves at all. False positives are eliminated by the join; false
    * negatives don't exist, so the result is value-identical to the plain
    * join at ANY fpp — dedup_bloom_incremental's oracle is that plain join.
    *
    * @param knownBatchRows pass the ingest batch size when the caller knows
    *        it (a manifest count) to skip the sizing count job
    */
  def incrementalBloom(lake: DataFrame, batch: DataFrame, idCol: String,
                       textCol: String, fpp: Double = 0.01,
                       knownBatchRows: Option[Long] = None,
                       maxBits: Long = 1L << 30): DataFrame =
    incrementalBloomPrehashed(
      lake.select(col(idCol).as("keep_cand"),
        TextFunctions.fingerprint(col(textCol)).as("fp")),
      batch, idCol, textCol, fpp, knownBatchRows, maxBits)

  /** [[incrementalBloom]] against a lake whose fingerprints are ALREADY
    * stored — `lakeFp` is `(keep_cand, fp)`. The 100 TB shape for a
    * REPEATED ingest stream: fingerprinting is paid once at append time
    * (see [[graft.streaming.StreamingIngest.appendToLake]]), so each batch
    * scans only the lake's 8-byte fp column (parquet column pruning — the
    * document text never loads), instead of re-cleaning and re-hashing the
    * full accumulated lake text every micro-batch.
    */
  def incrementalBloomPrehashed(lakeFp: DataFrame, batch: DataFrame,
                                idCol: String, textCol: String,
                                fpp: Double = 0.01,
                                knownBatchRows: Option[Long] = None,
                                maxBits: Long = 1L << 30): DataFrame = {
    // persisted: the batch-side fingerprints (a regex-heavy clean + hash)
    // feed the sizing count, the bloom build, AND the verify join — one
    // computation, not three passes over the batch text
    val bfp = batch.select(col(idCol).as("batch_id"),
        TextFunctions.fingerprint(col(textCol)).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = knownBatchRows.getOrElse(bfp.select("batch_id").count())
    val (words, k) = buildBloom(bfp, "fp", n, fpp, maxBits)
    val lfp = lakeFp.select(col("keep_cand"), col("fp"))
      .filter(FastFunctions.bloomMightContain(col("fp"), words, k))
    // eager-materialize the (batch-sized) result so bfp's cache can be
    // released HERE: the operator's target regime is repeated incremental
    // ingest batches, and a persist the caller must remember to release
    // would pin executor storage once per batch for the session lifetime
    val res = bfp.join(lfp, Seq("fp"), "left")
      .groupBy("batch_id").agg(min("keep_cand").as("keep_id"))
      .localCheckpoint(true)
    bfp.unpersist()
    res
  }

  /** Semantic dedup, SemDeDup-style (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space, then compare pairs ONLY within a cluster
    * and drop every doc with an ε-close lower-id neighbor there. Returns
    * `(dup_id, keep_id, cos)` — keep_id the LOWEST such neighbor (the
    * deterministic stand-in for the paper's arbitrary keeper; like the
    * exact-dedup keep-min-id policy), cos the similarity to it.
    *
    * Scale shape: assignment is one map over the corpus against broadcast
    * centroids ([[VectorSearch.seededIvfAssign]]); the self-join shuffles
    * once on cluster_id and the quadratic term is |cluster|² — SemDeDup's
    * own design point is k large enough that n/k is small (the paper uses
    * k = 50k on 5B embeddings ⇒ ~100k/cluster). For skewed clusters,
    * sub-bucket with [[embeddingDups]]' sign-LSH planes inside the cluster
    * key. Unlike the non-chained [[embeddingDups]], membership here is
    * cluster-pruned, so cross-cluster near-dups are missed by design —
    * the paper's accepted approximation.
    */
  def semanticDups(embeddings: DataFrame, idCol: String, vecCol: String,
                   centroids: Seq[(Int, Seq[Float])], threshold: Double): DataFrame = {
    require(centroids.nonEmpty, "semanticDups needs at least one centroid")
    val asg = VectorSearch.seededIvfAssign(embeddings, idCol, vecCol, centroids)
    val a = asg.select(col("cluster_id"), col(idCol).as("keep_cand"), col(vecCol).as("va"))
    val b = asg.select(col("cluster_id"), col(idCol).as("dup_id"), col(vecCol).as("vb"))
    val pairs = a.join(b, "cluster_id")
      .filter(col("keep_cand") < col("dup_id"))
      .select(col("dup_id"), col("keep_cand"),
        VectorFunctions.cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
    // min over (keep_cand, cos) structs = lexicographic: the lowest keeper
    // and ITS cosine (keep_cand is unique per pair, so cos never decides)
    pairs.groupBy("dup_id")
      .agg(min(struct(col("keep_cand"), col("cos"))).as("m"))
      .select(col("dup_id"), col("m.keep_cand").as("keep_id"), col("m.cos").as("cos"))
  }

  /** Duplicated-SPAN detection (Lee et al. 2022, arXiv:2107.06499 — exact
    * substring dedup): every maximal token region whose n-gram content
    * appears elsewhere in the corpus, as (doc_id, span_start, span_end)
    * token offsets. The paper removes duplicated substrings of ≥ N tokens
    * with a suffix array; the distributed equivalent marks every n-token
    * shingle whose hash occurs at more than one (doc, position) — a span of
    * length L ≥ n duplicated verbatim marks all its shingles, and merging
    * overlapping/adjacent marked shingles (gaps-and-islands) recovers the
    * maximal region. Self-repetition inside one document counts, exactly as
    * a suffix array would.
    *
    * 100 TB: the shingle table is token-scale but never wider — one
    * map-side-combined groupBy on the 64-bit shingle hash finds duplicated
    * hashes (post-combine cardinality = distinct shingles), one left_semi
    * shuffle keyed on the hash marks positions, and the island merge is a
    * per-document window (rows bounded by document length). No step
    * compares documents pairwise.
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 8): DataFrame = {
    // null text tokenizes as empty text (no spans) — nullSafeEval would
    // otherwise propagate NULL through the span math
    val toks = docs.select(col(idCol),
      TextFunctions.tokenize(coalesce(col(textCol), lit(""))).as("toks"))
    // one-pass codegen expression: (pos, clamped end, ~60-bit combined
    // hash poly31·P + poly131) per shingle — a single 30-bit hash would
    // mark thousands of colliding false spans at token-scale shingle
    // counts, and the HOF shingles+hash chain it replaces evaluated
    // interpreted per shingle
    val sh = toks
      .select(col(idCol),
        explode(FastFunctions.shingleSpans(col("toks"), n)).as("sp"))
      .select(col(idCol), col("sp.pos").as("pos"), col("sp.end").as("end"),
        col("sp.h").as("h"))
    // `sh` is deliberately evaluated twice (once under the aggregate, once
    // as the semi-join probe): re-scanning + re-hashing is codegen'd CPU
    // work, while the alternatives either pin a token-scale cache or
    // window-shuffle EVERY shingle row on h — the aggregate side here
    // shuffles only post-combine (distinct hashes per partition), and the
    // dup-hash side is usually small enough to broadcast back
    val dupH = sh.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select("h")
    val marked = sh.join(dupH, Seq("h"), "left_semi")
    val w = Window.partitionBy(idCol).orderBy("pos")
    val prevEnd = max(col("end")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    val brk = when(prevEnd.isNull || col("pos") > prevEnd, 1).otherwise(0)
    marked
      .withColumn("island",
        sum(brk).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("island"))
      .agg(min("pos").as("span_start"), max("end").as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"))
  }

  /** The REMOVAL half of Lee et al. exact-substring dedup: strip every
    * duplicated span from every document EXCEPT its canonical occurrence —
    * the span whose content fingerprint maps to the lowest (doc, start)
    * holding the same text — and rebuild the text from the surviving
    * tokens. "Keep one occurrence" is the paper's rule; lowest-(doc, start)
    * makes the arbitrary choice deterministic. Output: one row per input
    * document — (id, clean_text, n_removed_tokens).
    *
    * Composition contract: `spans` is [[duplicatedSpans]]' output (or any
    * (id, span_start, span_end) table). Spans sharing a fingerprint but
    * differing in surrounding context are still independent rows — the
    * fingerprint is the span's OWN token content, so two docs whose
    * duplicated regions merged differently keep their own canonicals.
    *
    * 100 TB: span extraction joins the (small) span table back to the doc
    * tokens once; the canonical choice is one groupBy on the span
    * fingerprint; removal is a per-doc flag-and-filter on token positions
    * (array expressions, no token-row shuffle beyond the spans join).
    */
  def removeDuplicatedSpans(docs: DataFrame, spans: DataFrame,
                            idCol: String, textCol: String): DataFrame = {
    // null text rebuilds as empty text with 0 removed — matches the SQL
    // twin's coalesce instead of diverging to a NULL row
    val toks = docs.select(col(idCol),
      TextFunctions.tokenize(coalesce(col(textCol), lit(""))).as("toks"))
    // span content fingerprint from the doc's own tokens (~60-bit combined
    // hash, the duplicatedSpans idiom)
    val spanText = array_join(slice(col("toks"), col("span_start") + 1,
      col("span_end") - col("span_start")), " ")
    val withFp = spans.join(toks, Seq(idCol))
      .select(col(idCol), col("span_start"), col("span_end"),
        (TextFunctions.polyHash(spanText) * lit(1000000007L)
          + TextFunctions.polyHash2(spanText)).as("fp"))
    // canonical occurrence = min (doc, start) struct per fingerprint
    val canon = withFp.groupBy("fp")
      .agg(min(struct(col(idCol), col("span_start"))).as("m"))
      .select(col("fp"), col(s"m.$idCol").as("keep_doc"),
        col("m.span_start").as("keep_start"))
    val drop = withFp.join(canon, Seq("fp"))
      .filter(!(col(idCol) === col("keep_doc") &&
        col("span_start") === col("keep_start")))
      .groupBy(idCol)
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("cut"))
    toks.join(drop, Seq(idCol), "left")
      // keep token i unless some cut span covers it; counting by
      // size-difference (not summed span lengths) stays correct even if a
      // caller passes overlapping spans
      .withColumn("kept",
        filter(col("toks"), (t, i) =>
          !exists(coalesce(col("cut"), array()),
            s => i >= s.getField("span_start") && i < s.getField("span_end"))))
      .select(col(idCol),
        array_join(col("kept"), " ").as("clean_text"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed_tokens"))
  }
}
