package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** At-rest layout for KB tables (SURVEY §4 — the Spark analogue of the
  * reference's covering/composite SQLite indexes,
  * `/root/reference/database/index_manager.py:20-30,149-190`).
  *
  *  - '''Chunks''': bucketed by `sourcedoc`, sorted by `(sourcedoc, sid)`.
  *    The context-window join (J2/W2) then needs NO shuffle of the chunk
  *    table — bucket-local hash join against the broadcast hit set, with
  *    sid runs physically contiguous (the covering-index effect).
  *  - '''Embeddings''': partitioned by `cluster_id` (IVF assignment). A
  *    query probing nprobe clusters prunes partitions at the file level —
  *    the scan reads nprobe/ncentroids of the bytes.
  *  - '''Query log''' (S9, `/root/reference/query/processing.py:134-146`):
  *    append-only parquet.
  */
object KbStorage {

  /** The Hadoop FileSystem that serves `path`, from a fresh copy of the
    * session's Hadoop configuration. The copy is per call, not per
    * session: a scheme or setting added to the SparkContext's Hadoop
    * configuration after the session exists must reach the next call.
    */
  private[graft] def fileSystem(spark: SparkSession,
                                path: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem =
    path.getFileSystem(spark.sessionState.newHadoopConf())

  /** Existence probe through the Hadoop FileSystem API — `java.io.File`
    * is local-filesystem-only and silently answers false for an HDFS/S3
    * kb dir, which would make store/cache detection skip artifacts the
    * parquet readers could serve. Errors (bad scheme, no credentials)
    * read as absent: the caller's fallback path is always the safe one.
    */
  def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    scala.util.Try(fileSystem(spark, p).exists(p)).getOrElse(false)
  }

  /** Total bytes under a directory through the Hadoop FileSystem API —
    * None when the path is absent or unreadable. The `java.io.File`
    * equivalent NPEs on a missing dir (`listFiles()` returns null) and is
    * local-filesystem-only.
    */
  def dirBytes(spark: SparkSession, path: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(path)
    scala.util.Try(fileSystem(spark, p).getContentSummary(p).getLength).toOption
  }

  /** Write the chunk table bucketed for context-join locality. Bucketing
    * requires the table catalog (`saveAsTable`); plain parquet paths lose
    * bucket metadata.
    */
  def writeChunks(chunks: DataFrame, table: String, buckets: Int = 32,
                  path: Option[String] = None): Unit = {
    val w = chunks.write.mode("overwrite")
      .bucketBy(buckets, "sourcedoc")
      .sortBy("sourcedoc", "sid")
      .format("parquet")
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Write embeddings partitioned by IVF cluster for partition-pruned ANN
    * probes.
    */
  def writeEmbeddingsIvf(assigned: DataFrame, path: String): Unit =
    assigned.write.mode("overwrite")
      .partitionBy("cluster_id")
      .parquet(path)

  /** Auto-selected embeddings layout: apply
    * [[graft.operators.VectorSearch.chooseIndex]] to the corpus and write
    * the layout the chosen strategy needs — flat parquet for small/high-dim
    * corpora, `cluster_id`-partitioned for IVF, and cluster-partitioned plus
    * a `codes` column (PQ first-pass scoring) for IVFPQ. Returns the chosen
    * strategy so callers (CLI `knn`/`pq` verbs) can route queries the same
    * way. Mirrors `embed_manager.py:163-213`, where every index build runs
    * through the same size-based selection.
    */
  def writeEmbeddingsAuto(emb: DataFrame, idCol: String, vecCol: String,
                          path: String): graft.operators.VectorSearch.IndexStrategy = {
    import graft.operators.VectorSearch
    import VectorSearch.IndexStrategy._
    val n = emb.count()
    val dim = if (n == 0) 0 else emb.select(size(col(vecCol))).head().getInt(0)
    val strategy = VectorSearch.chooseIndex(n, dim)
    strategy match {
      case Flat(_) =>
        emb.write.mode("overwrite").parquet(path)
      case Ivf(nc) =>
        writeEmbeddingsIvf(
          VectorSearch.buildIvf(emb, idCol, vecCol, nc).assigned, path)
      case IvfPq(nc, m) =>
        val assigned = VectorSearch.buildIvf(emb, idCol, vecCol, nc).assigned
        val cb = VectorSearch.trainedPqCodebook(emb, idCol, vecCol, m, k = 256)
        writeEmbeddingsIvf(
          VectorSearch.pqEncode(assigned, idCol, vecCol, cb), path)
    }
    strategy
  }

  /** Read the pruned probe set: only the nprobe cluster partitions are
    * scanned (PartitionFilters in the plan — verified in KbStorageSpec).
    */
  def readProbeClusters(spark: SparkSession, path: String, clusters: Seq[Int]): DataFrame =
    spark.read.parquet(path).filter(col("cluster_id").isin(clusters: _*))

  /** S9 query-log sink: append one row per answered query. */
  def logQuery(spark: SparkSession, path: String, kb: String, query: String,
               answer: String, latencyMs: Long): Unit = {
    import spark.implicits._
    Seq((java.time.Instant.now().toString, kb, query, answer, latencyMs))
      .toDF("ts", "kb", "query", "answer", "latency_ms")
      .write.mode("append").parquet(path)
  }

  /** S9 batch query-log sink: append a whole DataFrame of answered-query
    * rows in one job (the per-row [[logQuery]] is the interactive-CLI shape;
    * a batch run logs its queries as one append). Append-only parquet — the
    * same at-rest contract, exercised by the s9_query_log oracle.
    */
  def logQueries(rows: DataFrame, path: String): Unit =
    rows.write.mode("append").parquet(path)

  /** S11 context-file source (`/root/reference/query/processing.py:30-52`):
    * small files read driver-side, prepended verbatim to the prompt context.
    */
  def readContextFiles(paths: Seq[String]): String =
    paths.flatMap { p =>
      val f = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.isReadable(f))
        Some(new String(java.nio.file.Files.readAllBytes(f),
          java.nio.charset.StandardCharsets.UTF_8))
      else None
    }.mkString("\n\n")

  /** S10 encoding-converter job (`/root/reference/utils/encoding_converter
    * .py`): batch-convert a directory of possibly-legacy-encoded text files
    * to UTF-8 under `outDir` (inputs immutable — no in-place rewrite).
    */
  def convertEncoding(spark: SparkSession, glob: String, outDir: String): Long = {
    val decoded = graft.ingest.Ingest.scanFiles(spark, glob)
      .select(col("path"), graft.ingest.Ingest.decodeText(col("content")).as("text"))
      .collect() // tool-scale job: file list fits the driver by definition
    decoded.foreach { r =>
      val name = r.getString(0).split("/").last
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, name),
        r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    decoded.length.toLong
  }
}
