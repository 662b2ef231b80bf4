package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Uniform access to the driver-provided parquet tables.
  *
  * Mirrors the reference's notion of a knowledgebase directory
  * (`/root/reference/README.md:353-359`): a directory of named tables. Here a
  * "KB" is simply a directory of parquet files; at cluster scale these would
  * be partitioned/bucketed table paths behind a catalog.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one table from an sf directory. Filters and projections on the
    * result push down to the parquet scan (verified via .explain in specs).
    *
    * The DataFrame (an immutable logical plan over an immutable input
    * directory) is memoized per (session, path): `spark.read.parquet`
    * schedules a footer/schema-inference job on EVERY call, which at
    * serving time is a fixed per-query job tax — a warm single-query
    * serve was paying more for re-deriving the table's schema than for
    * the search itself. Plan reuse also lets the whole registry share one
    * FileIndex/statistics object per table. (The driver-provided sf
    * directories are read-only; a harness that rewrites one in place
    * drops its reads with [[operators.SessionMemo.forget]].)
    */
  private val readCache = new operators.SessionMemo[DataFrame](_.unpersist())
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = s"$dir/$name.parquet"
    readCache.getOrBuild(spark, p)(spark.read.parquet(p))
  }

  def documents(spark: SparkSession, dir: String): DataFrame =
    apply(spark, dir, "documents")

  /** The corpus key of a memo built from [[documents]]: the directory at
    * the documents table's [[operators.PathInventory.stamp]], so a rewrite
    * of the documents misses the memo instead of serving the old result.
    */
  def documentsKey(spark: SparkSession, dir: String): String =
    s"$dir@${operators.PathInventory.stamp(spark, s"$dir/documents.parquet")}"

  /** Guarded round-robin spread to session parallelism for CPU-DENSE maps
    * over narrow scans (r18 optimization, guide §2.5 "unsplittable input:
    * repartition immediately after the read"): the sf parquet files carry
    * ONE row group each, so a scan is a single task and a per-row-expensive
    * map (minhash signatures, codec decode, pair dot products) runs
    * serially while the other cores idle. The guard makes this a NO-OP
    * whenever the plan already has at least session-cores partitions —
    * i.e. at cluster scale, where an extra payload pass would be a net
    * loss. Use ONLY where downstream values are partitioning-independent
    * (per-row closed forms, hash-keyed aggregations, pinned output
    * orders) AND the per-row work clearly dominates per-task overhead:
    * codec decode and O(n) pair scoring won 2-3× wall here; the minhash
    * signature map was measured a WASH with 5× taskTime inflation
    * (per-task codegen/setup ≫ the spread µs-level rows) and stays
    * unspread.
    */
  def spreadIfNarrow(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    // HARD precondition (r19, advice r18): the plan must be shuffle-free
    // (scan + narrow ops only). The old `df.rdd.getNumPartitions` probe
    // would, on a plan containing an Exchange under AQE, materialize
    // query stages at plan-BUILD time and read the pre-AQE partition
    // count; `queryExecution.toRdd` on a shuffle-free plan builds the
    // scan RDD on the driver with no job and no row-format conversion.
    // Under AQE (on by default) the executed plan is an
    // AdaptiveSparkPlanExec leaf whose Exchanges live in its current
    // physical plan (query stages once it has run), not in its tree.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ExchangeQueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    def shuffles(p: SparkPlan): Boolean = p.exists {
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      case _: Exchange | _: ExchangeQueryStageExec => true
      case _ => false
    }
    assert(!shuffles(df.queryExecution.executedPlan),
      "spreadIfNarrow requires a shuffle-free plan (narrow scan + maps); " +
        "apply it to the scan side before any join/aggregation")
    if (df.queryExecution.toRdd.getNumPartitions < par) df.repartition(par)
    else df
  }

  /** The canonical chunk table the e2e pipeline serves from: documents with
    * the (sourcedoc, sid) addressing derived ONCE and persisted — in a real
    * KB this is the STORED `chunks/` table (`Main` materializes doc_id/sid
    * at `database` time; `/root/reference`'s SQLite schema stores sid the
    * same way), so deriving it per query would charge serving for ingest
    * work. Memoized per (session, dir) like the other serving indexes.
    */
  private val chunksCache = new operators.SessionMemo[DataFrame](_.unpersist())
  def chunksWithSid(spark: SparkSession, dir: String): DataFrame =
    chunksCache.getOrBuild(spark, dir) {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy("source").orderBy("doc_id")
      documents(spark, dir)
        .select(col("doc_id"), col("text"), col("source").as("sourcedoc"),
          (row_number().over(w) - 1).cast("int").as("sid"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    apply(spark, dir, "embeddings")
  def lineitem(spark: SparkSession, dir: String): DataFrame =
    apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame =
    apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame =
    apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame =
    apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame =
    apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame =
    apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame =
    apply(spark, dir, "region")
  /** The events stream table with `ts` normalized to BIGINT epoch-NANOS.
    *
    * The physical parquet type has shifted across driver-generated datasets
    * (TIMESTAMP(NANOS) — read as LongType nanos under
    * `spark.sql.legacy.parquet.nanosAsLong` — vs TIMESTAMP(MICROS) — read
    * as TIMESTAMP_NTZ). Every event-time consumer in this library does
    * integer micro/nano arithmetic (`ts div 1000`), so this accessor pins
    * ONE canonical representation at the scan boundary instead of making
    * each query probe the type. Sessions run in UTC (every entry point sets
    * `spark.sql.session.timeZone`), so the NTZ→timestamp cast is
    * epoch-exact. DuckDB oracles are unaffected: `epoch_us(ts)` reads both
    * physical types identically (micros carry no sub-micro bits; nanos
    * were already truncated to micros on the oracle side).
    */
  /** One query vector by `vec_id` — served from [[operators.VectorSearch]]'s
    * resident broadcast corpus when warm (ZERO jobs) and from a parquet
    * `first()` scan otherwise. Same table, same bytes, either way; the
    * query registry's single-query entries all fetch their query vector
    * here so a warm serving session never pays a per-call scan job for it.
    */
  def queryVec(spark: SparkSession, dir: String, id: Long): Seq[Float] = {
    import org.apache.spark.sql.functions.col
    val emb = embeddings(spark, dir)
    graft.operators.VectorSearch
      .corpusVectorInMemory(emb, "vec_id", "embedding", id, cacheKey = Some(dir))
      .getOrElse(emb.filter(col("vec_id") === id)
        .select(col("embedding")).first().getSeq[Float](0))
  }

  /** Designated seed vectors (`vec_id < below`) as id-sorted
    * `(id.toInt, vec)` pairs — the deterministic centroid-seed shape the
    * seeded-IVF/PQ oracles use. Zero jobs off the resident corpus
    * broadcast when warm; one small filtered collect otherwise.
    */
  def seedVecs(spark: SparkSession, dir: String, below: Long): Seq[(Int, Seq[Float])] = {
    import org.apache.spark.sql.functions.col
    val emb = embeddings(spark, dir)
    graft.operators.VectorSearch
      .corpusVectorsInMemory(emb, "vec_id", "embedding", _ < below,
        cacheKey = Some(dir))
      .map(_.map { case (id, v) => (id.toInt, v) })
      .getOrElse(emb.filter(col("vec_id") < below)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1))).toSeq)
      .sortBy(_._1)
  }

  /** A small query batch (`vec_id ∈ ids`) as `(qidCol, qvecCol)` — a
    * zero-job LocalRelation off the resident corpus broadcast when warm
    * (which lets the in-memory batch search answer fully in process), the
    * filtered parquet scan otherwise. Row order differs between the two
    * shapes (id-sorted vs scan order); every consumer ranks per query_id,
    * so order is not part of the contract.
    */
  def queryBatch(spark: SparkSession, dir: String, ids: Seq[Long],
                 qidCol: String, qvecCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val emb = embeddings(spark, dir)
    val idSet = ids.toSet
    graft.operators.VectorSearch.corpusQueriesInMemory(
        emb, "vec_id", "embedding", idSet, qidCol, qvecCol,
        cacheKey = Some(dir))
      .getOrElse(emb.filter(col("vec_id").isin(ids: _*))
        .select(col("vec_id").as(qidCol), col("embedding").as(qvecCol)))
  }

  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    import org.apache.spark.sql.types.LongType
    val df = apply(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType => df // already nanos (legacy nanosAsLong read)
      case _ => df.withColumn("ts",
        unix_micros(col("ts").cast("timestamp")) * 1000L)
    }
  }
}
