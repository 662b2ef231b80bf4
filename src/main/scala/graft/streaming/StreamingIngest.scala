package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.ingest.Chunker

/** Structured Streaming extensions (SURVEY §1.1: "Structured Streaming is
  * an extension opportunity (incremental ingest), not a reference
  * requirement" — the reference has no streaming at all, §2.10).
  *
  * Two production shapes a 100 TB training-data pipeline needs:
  *
  *  1. '''KB maintenance''' — the `maintain` verb's one stream
  *     ([[startKbMaintenance]]): a file-source stream watches a landing
  *     directory, and each micro-batch of new files is deduplicated against
  *     the lake, chunked exactly like the batch verbs, embedded through the
  *     cache and committed as the next manifest version of the BM25 store,
  *     with the lake append last. The checkpointed file index replaces the
  *     reference's `--force`/anti-join re-scan loop.
  *
  *  2. '''Windowed event aggregation''' with watermarking — late events
  *     beyond the watermark are dropped deterministically; output is
  *     append-mode per closed window (the `events` table models this).
  */
object StreamingIngest {

  /** The index step of [[kbMaintenanceBatch]]: the batch's chunks commit as
    * the next version of the BM25 store rooted at `dir`
    * ([[graft.operators.Bm25.commitVersion]]); None when the batch holds no
    * new chunk.
    *
    * The commit protocol and retention are [[graft.store.Versioned]]'s:
    * readers open the segments the newest manifest names, so they never
    * observe a half-written version. A commit writes the batch's segment
    * and the vocab-sized idf and reads the stored lengths once (the replay
    * guard below); one commit in every [[graft.operators.Bm25.MaxSegments]]
    * rewrites the whole store as one merged segment instead.
    * foreachBatch is at-least-once, so a replayed batch is made idempotent
    * by the S5 anti-join: chunk ids already in the stored lengths drop
    * out, and an all-duplicate replay commits no version.
    */
  private[graft] def maintainIndexBatch(spark: SparkSession, batch: DataFrame,
                                        dir: String)
      : Option[graft.operators.Bm25.Version] =
    graft.operators.Bm25.commitVersion(spark, dir,
      batch.select(concat(col("sourcedoc"), lit("#"), col("sid")).as("doc_id"),
        col("chunk_text").as("text")), "doc_id", "text")

  /** The path of the newest committed version of the BM25 store under a
    * maintenance root, if it has one. Its `stats` is the one-row table of
    * the current totals. Read through the Hadoop FileSystem API of the
    * active session; a root holding a store written before manifests is
    * refused ([[graft.operators.Bm25.preManifestRefusal]]).
    */
  def currentIndexPath(dir: String): Option[String] =
    graft.operators.Bm25.Version.currentPath(SparkSession.active, dir)

  /** The refusal of a lake written without `column`. Every lake commit
    * ([[appendToLake]]) stores the fingerprint and the audit stamps, and
    * the lake readers ([[dedupSurvivors]], [[lakeCurrent]]) read them
    * as stored.
    */
  private[graft] def lakeRefusal(lake: String, column: String): String =
    s"$lake has no `$column` column: it was written before lakes stored " +
      "it, and this version no longer reads it. Delete the kb directory " +
      "and re-run `maintain` into an empty kb"

  private val LakeColumns = Seq("fp", "created_at", "updated_at")

  /** `lake`, the lake under `dir` as its reader opened it, refused when it
    * lacks a column every commit writes — a check on the frame's own
    * schema, with no extra job.
    */
  private def checkedLake(lake: DataFrame, dir: String): DataFrame = {
    LakeColumns.find(c => !lake.columns.contains(c)).foreach(c =>
      throw new IllegalStateException(lakeRefusal(s"$dir/lake", c)))
    lake
  }

  /** The dedup step of [[kbMaintenanceBatch]] — the shape a 100 TB/day
    * training pipeline runs at the front door: the batch's documents are
    * exact-deduped WITHIN the batch (canonical min-id survives) and checked
    * against the accumulated lake through the bloom-prefiltered
    * fingerprint join ([[graft.operators.Dedup.incrementalBloomPrehashed]]
    * — lake rows drop map-side on the bloom probe before the join). The
    * lake carries the fingerprint AT REST, so the probe scans only its
    * 8-byte fp column (parquet column pruning) instead of re-cleaning and
    * re-hashing the full accumulated text every micro-batch.
    *
    * The survivors are MATERIALIZED (localCheckpoint) but NOT committed:
    * the survivor plan reads the same lake files [[appendToLake]] extends,
    * and [[kbMaintenanceBatch]] runs every downstream stage before the lake
    * commit so a crashed batch can re-derive its work. A replayed batch's
    * fingerprints are already IN the lake, so every row drops.
    */
  private[graft] def dedupSurvivors(spark: SparkSession, batch: DataFrame,
                                    dir: String): DataFrame = {
    import graft.operators.Dedup
    val canonIds = Dedup.exactGroups(batch, "doc_id", "text")
      .filter(col("dup_id") === col("keep_id"))
      .select(col("dup_id").as("doc_id"))
    val canon = batch.join(canonIds, "doc_id")
    val survivors =
      // Hadoop FS probe (ADVICE r17): java.io.File answers false for
      // every remote lake, which would re-admit every already-committed
      // document on a remote kb
      if (!graft.sources.KbStorage.pathExists(spark, s"$dir/lake")) canon
      else {
        val lakeFp = checkedLake(spark.read.parquet(s"$dir/lake"), dir)
          .select(col("doc_id").as("keep_cand"), col("fp"))
        val dups = Dedup.incrementalBloomPrehashed(lakeFp, canon, "doc_id", "text")
          .filter(col("keep_id").isNotNull)
          .select(col("batch_id").as("doc_id"))
        canon.join(dups, Seq("doc_id"), "left_anti")
      }
    survivors.localCheckpoint(true)
  }

  /** The COMMIT step of [[kbMaintenanceBatch]]: append (already-materialized)
    * survivor documents to the lake — the step that makes a replayed batch
    * drop out on its fingerprints. The fingerprint is stored AT REST so
    * later batches' dedup probes never re-hash lake text
    * ([[graft.operators.Dedup.incrementalBloomPrehashed]]).
    *
    * F16 lifecycle wiring (verdict r16 #5): every committed row is stamped
    * with `created_at = updated_at = changeTime` (the micro-batch id — the
    * stream's monotone logical clock; deterministic where the reference's
    * trigger uses wall-clock). The lake stays APPEND-ONLY — at 100 TB the
    * audit trigger can't be an in-place row update, so the lake is the CDC
    * log and [[lakeCurrent]] is the audited table view: a re-ingested
    * document with CHANGED content (new fingerprint, same doc_id) commits
    * as a new version row, and the view resolves the reference's
    * `migrations.py:253-283` AFTER UPDATE semantics per doc_id —
    * created_at sticky at the FIRST commit, updated_at bumped to the
    * LAST. A content-identical replay never reaches the commit (the
    * fingerprint dedup drops it), matching the reference where no UPDATE
    * statement fires. `survivors` must be non-empty.
    */
  private[graft] def appendToLake(survivors: DataFrame, dir: String,
                                  changeTime: Long): Unit =
    survivors.withColumn("fp", TextFunctions.fingerprint(col("text")))
      .withColumn("created_at", lit(changeTime).cast("long"))
      .withColumn("updated_at", lit(changeTime).cast("long"))
      .write.mode("append").parquet(s"$dir/lake")

  /** The audited CURRENT view of the append-only lake — one row per
    * doc_id carrying the LATEST committed content with the reference's
    * trigger-maintained audit columns resolved across all version rows:
    * `created_at` = the minimum commit stamp (sticky from the original
    * insert), `updated_at` = the maximum (bumped by every committed
    * update). Same one-shuffled-window plan as
    * [[graft.operators.Merge.upsertAudited]] generalized to N waves; ties
    * inside one commit stamp break on the fingerprint so the view is
    * deterministic. A lake without the stamps or the fingerprint is
    * refused ([[lakeRefusal]]).
    */
  def lakeCurrent(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val wOrd = w.orderBy(col("updated_at").desc, col("fp").desc)
    checkedLake(spark.read.parquet(s"$dir/lake"), dir)
      .withColumn("_created", org.apache.spark.sql.functions.min(col("created_at")).over(w))
      .withColumn("_updated", org.apache.spark.sql.functions.max(col("updated_at")).over(w))
      .withColumn("_rn", row_number().over(wOrd))
      .filter(col("_rn") === 1)
      .withColumn("created_at", col("_created"))
      .withColumn("updated_at", col("_updated"))
      .drop("_rn", "_created", "_updated")
  }

  /** The WHOLE incremental lifecycle as one stream — the streaming twin of
    * the reference's `database → embed → bm25` verb sequence, and the
    * `maintain` verb: each micro-batch of landed files is deduplicated
    * against the lake ([[dedupSurvivors]]), the survivors chunk exactly
    * like the batch path, new content keys embed through the cache
    * anti-join ([[embedMaintenanceBatch]]), and the chunks commit as the
    * next version of the BM25 store ([[maintainIndexBatch]]).
    *
    * Commit order: embeddings, then the BM25 version (its manifest create
    * commits it), then the lake append — the batch's commit point. Every
    * stage is replay-idempotent on its own artifact (chunk-id anti-joins;
    * an all-duplicate batch commits no BM25 version), so a crash anywhere
    * mid-batch leaves the lake unchanged and the retry re-derives the same
    * survivors instead of finding them "already ingested" with the
    * embed/index work missing. The at-least-once foreachBatch contract
    * therefore holds end to end, also after a lost checkpoint restarts the
    * batch ids: BM25 version numbers come from the store's manifests.
    */
  def startKbMaintenance(spark: SparkSession, glob: String, dir: String,
                         provider: graft.embed.Embedder.Provider,
                         surfaceGate: Boolean = false,
                         chunkSize: Int = 200, overlap: Int = 50,
                         trigger: org.apache.spark.sql.streaming.Trigger =
                           org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.format("text").option("wholetext", "true").load(glob)
      .select(input_file_name().as("doc_id"), col("value").as("text"))
      .writeStream
      .option("checkpointLocation", s"$dir/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        kbMaintenanceBatch(spark, batch, dir, provider, batchId, surfaceGate,
          chunkSize, overlap)
      }
      .trigger(trigger)
      .start()

  /** The per-micro-batch step of [[startKbMaintenance]], spec-drivable.
    * `surfaceGate = true` drops documents failing the model-free curation
    * rules ([[graft.operators.Curation.surfaceKeep]]) BEFORE they touch
    * any artifact — junk never enters the lake, the cache, or the index.
    */
  private[graft] def kbMaintenanceBatch(spark: SparkSession, batch: DataFrame,
                                        dir: String,
                                        provider: graft.embed.Embedder.Provider,
                                        batchId: Long,
                                        surfaceGate: Boolean = false,
                                        chunkSize: Int = 200,
                                        overlap: Int = 50): Unit = {
    val gated =
      if (surfaceGate)
        batch.filter(graft.operators.Curation.surfaceKeep(col("text")))
      else batch
    // Crash-safety ordering: the lake append is the LAST write. If the
    // driver dies after any downstream stage, the retry re-derives the same
    // survivors (the lake is unchanged), and each stage drops already-done
    // work on ITS OWN artifact's anti-join (embeddings chunk ids, index
    // lengths doc_ids). Appending the lake
    // FIRST would make the retry's survivors come back empty and the
    // documents would be permanently missing from the embeddings table and
    // the BM25 store.
    val survivors = dedupSurvivors(spark, gated, dir)
    if (survivors.head(1).isEmpty) return
    val chunks = survivors
      .select(col("doc_id").as("sourcedoc"),
        explode(Chunker.chunks(col("text"), chunkSize, overlap)).as("c"))
      .select(col("sourcedoc"), col("c.sid").as("sid"),
        col("c.chunk_text").as("chunk_text"))
      .withColumn("embedtext", TextFunctions.cleanText(col("chunk_text")))
      .localCheckpoint(true)
    embedMaintenanceBatch(spark, chunks, dir, provider)
    maintainIndexBatch(spark, chunks, dir)
    appendToLake(survivors, dir, batchId)
  }

  /** The embed step of [[kbMaintenanceBatch]] — cache-aware embedding
    * maintenance (ingest → dedup → EMBED → index): the batch's chunks
    * (`sourcedoc`, `sid`, `embedtext`) embed ONLY content keys absent from
    * the accumulated cache table ([[graft.embed.Embedder.embedWithCache]]
    * — the M5 anti-join, so a re-ingested or duplicated chunk never burns a
    * provider call); the new cache rows and the per-chunk embedding rows
    * append. Replay-idempotent: a replayed batch's chunk ids are already in
    * the embeddings table and drop on the id anti-join.
    */
  private[graft] def embedMaintenanceBatch(spark: SparkSession, batch: DataFrame,
                                           dir: String,
                                           provider: graft.embed.Embedder.Provider): Unit = {
    import graft.embed.Embedder
    val cacheDir = s"$dir/embcache"
    val vecDir = s"$dir/embeddings"
    val chunks0 = batch.select(
      concat(col("sourcedoc"), lit("#"), col("sid")).as("chunk_id"),
      col("embedtext"))
    // replay guard: chunk ids already embedded drop out entirely
    val chunks =
      if (!graft.sources.KbStorage.pathExists(spark, vecDir)) chunks0
      else chunks0.join(spark.read.parquet(vecDir).select("chunk_id"),
        Seq("chunk_id"), "left_anti")
    if (chunks.head(1).isEmpty) return
    val cache =
      if (graft.sources.KbStorage.pathExists(spark, cacheDir)) spark.read.parquet(cacheDir)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("content_key",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("embedding",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType)))))
    val res = Embedder.embedWithCache(chunks, "embedtext", cache, provider)
    // materialize both outputs BEFORE the appends (their plans read the
    // same cache/embedding files the writes extend)
    val newCache = res.newCacheRows.localCheckpoint(true)
    val embedded = res.embedded
      .select(col("chunk_id"), col("content_key"), col("embedding"))
      .localCheckpoint(true)
    res.unpersist() // both outputs materialized above — release the miss cache
    if (newCache.head(1).nonEmpty)
      newCache.write.mode("append").parquet(cacheDir)
    if (embedded.head(1).nonEmpty)
      embedded.write.mode("append").parquet(vecDir)
  }

  /** Streaming keep-first dedup: `dropDuplicatesWithinWatermark` on the key
    * columns — dedup state is BOUNDED by the watermark horizon (grows with
    * distinct keys per window, not with stream length), the property that
    * makes exactly-once dedup viable on an unbounded 100 TB/day stream.
    * Streaming keeps the first ARRIVAL per key within the horizon; the
    * batch twin (the oracle-checked `stream_dedup` query) keeps the first
    * EVENT-TIME row via a window — same operator family, the deterministic
    * batch form is what an oracle can check.
    */
  def dedupStream(events: DataFrame, tsCol: String, keys: Seq[String],
                  watermark: String = "30 minutes",
                  tieBreak: Seq[String] = Nil): DataFrame =
    if (events.isStreaming)
      events.withWatermark(tsCol, watermark)
        .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
    else {
      // batch twin keeps the first EVENT-TIME row deterministically —
      // dropDuplicates would keep an arbitrary (partition-order-dependent)
      // row and silently break the documented keep-first contract. Rows
      // that tie on the timestamp ITSELF need `tieBreak` (e.g. an event id)
      // to stay deterministic — the oracle-checked stream_dedup query
      // orders by (micros, event_id) for exactly this reason.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*)
        .orderBy((tsCol +: tieBreak).map(col): _*)
      events.withColumn("_rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn")
    }

  /** Stream-stream interval join: rows match when keys are equal AND the
    * right timestamp falls in `[left.ts - lowerSec, left.ts + upperSec]`.
    * BOTH sides carry watermarks and the join condition bounds the time
    * range — the two requirements Structured Streaming needs to EXPIRE join
    * state (without them state grows with stream length; with them it is
    * bounded by watermark + range, the only shape that survives an
    * unbounded 100 TB/day pair of streams). Works identically on batch
    * frames (the oracle-checked `stream_interval_join` query) — watermarks
    * are no-ops in batch.
    *
    * The right side's columns are prefixed `r_` so self-joins (clicks ⋈
    * views of the same events stream) need no caller-side renames.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   tsCol: String, lowerSec: Long, upperSec: Long,
                   watermark: String = "30 minutes"): DataFrame = {
    val l = if (left.isStreaming) left.withWatermark(tsCol, watermark) else left
    val rRenamed = right.columns.foldLeft(right)((df, c) =>
      df.withColumnRenamed(c, s"r_$c"))
    val r = if (rRenamed.isStreaming) rRenamed.withWatermark(s"r_$tsCol", watermark)
            else rRenamed
    l.join(r,
      col(keyCol) === col(s"r_$keyCol") &&
        col(s"r_$tsCol") >= col(tsCol) - expr(s"INTERVAL $lowerSec SECONDS") &&
        col(s"r_$tsCol") <= col(tsCol) + expr(s"INTERVAL $upperSec SECONDS"))
  }

  /** Watermarked sliding-window event counts: event-time windows of
    * `windowDur` sliding `slideDur`, late data beyond `watermark` dropped.
    * Works identically over a batch DataFrame (for the oracle-checked
    * `stream_window_agg` query) and a stream.
    */
  def windowedEventCounts(events: DataFrame, tsCol: String,
                          windowDur: String = "10 minutes",
                          slideDur: String = "5 minutes",
                          watermark: String = "15 minutes"): DataFrame = {
    val withTime = events.withColumn("event_time", col(tsCol))
    val streaming = withTime.isStreaming
    val base = if (streaming) withTime.withWatermark("event_time", watermark) else withTime
    base
      .groupBy(window(col("event_time"), windowDur, slideDur), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("event_type"), col("n"))
  }
}
