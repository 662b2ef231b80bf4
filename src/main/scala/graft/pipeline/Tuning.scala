package graft.pipeline

import org.apache.spark.sql.SparkSession

/** The `optimize` and `verify-indexes` CLI verbs, Spark-shaped (SURVEY
  * Appendix; `/root/reference/utils/optimization_manager.py:50-217`,
  * `database/index_manager.py:209-281`).
  *
  * The reference tunes batch sizes / cache sizes / thread counts by host
  * memory tier. The Spark analogues are session confs sized from data
  * volume and cluster shape — pure functions so they are testable and the
  * advice is inspectable rather than silently applied.
  */
object Tuning {

  final case class Advice(
      shufflePartitions: Int,
      maxPartitionBytes: Long,
      broadcastThreshold: Long,
      enableHybridSearch: Boolean,
      notes: Seq[String])

  /** Size confs for a corpus of `inputBytes` on `cores` with
    * `executorMemBytes` per executor (defaults = this container).
    *
    * Rules (each mirrors a reference tier decision, re-derived for Spark):
    *  - target ~128 MB per scan partition (Spark default, good codegen
    *    batch size) but at least 2 tasks per core;
    *  - shuffle partitions ≈ input / 64 MB clamped to [2·cores, 4000] so
    *    post-shuffle partitions fit in memory with headroom;
    *  - broadcast threshold grows with executor memory (10 MB per 8 GB,
    *    capped 512 MB) — the "can I hash-map this dimension" budget;
    *  - hybrid search off below 16 GB executor/host memory — the
    *    reference's low-tier rule verbatim (`README.md:454-459`).
    */
  def advise(inputBytes: Long, cores: Int = 32,
             executorMemBytes: Long = 8L << 30): Advice = {
    val scanPart = 128L << 20
    val shuffleTarget = math.max(2L * cores, inputBytes / (64L << 20))
    val shuffle = math.min(shuffleTarget, 4000L).toInt
    val bcast = math.min((executorMemBytes / (8L << 30) + 1) * (10L << 20), 512L << 20)
    Advice(
      shufflePartitions = shuffle,
      maxPartitionBytes = scanPart,
      broadcastThreshold = bcast,
      enableHybridSearch = executorMemBytes >= (16L << 30),
      notes = Seq(
        s"input=${inputBytes >> 20}MB cores=$cores execMem=${executorMemBytes >> 30}GB",
        s"post-shuffle partition target ~64MB -> $shuffle partitions"))
  }

  /** Apply advice to a session (mutates runtime confs only). */
  def apply(spark: SparkSession, a: Advice): Unit = {
    spark.conf.set("spark.sql.shuffle.partitions", a.shufflePartitions)
    spark.conf.set("spark.sql.files.maxPartitionBytes", a.maxPartitionBytes)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", a.broadcastThreshold)
  }

  /** `verify-indexes`: check a KB's at-rest layout invariants — bucketed
    * chunk table (bucket spec present, sorted by (sourcedoc, sid)) and
    * cluster-partitioned embeddings path. Returns human-readable findings;
    * empty = healthy.
    */
  def verifyLayout(spark: SparkSession, chunkTable: String,
                   embeddingsPath: Option[String] = None): Seq[String] = {
    val findings = scala.collection.mutable.ArrayBuffer[String]()
    try {
      val cat = spark.sessionState.catalog
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(chunkTable)
      val meta = cat.getTableMetadata(ident)
      meta.bucketSpec match {
        case Some(spec) =>
          if (!spec.bucketColumnNames.contains("sourcedoc"))
            findings += s"$chunkTable: bucketed by ${spec.bucketColumnNames}, expected sourcedoc"
          if (spec.sortColumnNames != Seq("sourcedoc", "sid"))
            findings += s"$chunkTable: sorted by ${spec.sortColumnNames}, expected (sourcedoc, sid)"
        case None => findings += s"$chunkTable: no bucket spec (context joins will shuffle)"
      }
    } catch {
      case e: Exception => findings += s"$chunkTable: not in catalog (${e.getMessage})"
    }
    embeddingsPath.foreach { p =>
      // Hadoop FS listing (r16 sweep): java.io.File was local-only, so a
      // remote kb's healthy layout would read as a finding
      val names = scala.util.Try {
        val hp = new org.apache.hadoop.fs.Path(p)
        graft.sources.KbStorage.fileSystem(spark, hp)
          .listStatus(hp).map(_.getPath.getName)
      }.getOrElse(Array.empty[String])
      if (!names.exists(_.startsWith("cluster_id=")))
        findings += s"$p: not partitioned by cluster_id (IVF probes will full-scan)"
    }
    findings.toSeq
  }
}
