package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session policy: every main, and the shared test
  * session, builds its SparkSession here.
  *
  *  - master `local[cores]` (or `SPARK_MASTER` when set), shuffle
  *    partitions = cores;
  *  - UTC session time zone, UI off;
  *  - `events.parquet` may store TIMESTAMP(NANOS), which Spark 4 reads as
  *    LongType nanos only under `parquet.nanosAsLong` (else
  *    PARQUET_TYPE_ILLEGAL);
  *  - AQE may re-coalesce scans of CACHED plans: the persisted index
  *    tables (BM25 postings/idf, IVF assignment) are tiny per partition
  *    at bench scale, and without the flag every per-query index scan
  *    schedules shuffle-partitions tasks of pure overhead;
  *  - `FileStreamSink.hasMetadata` WARNs a full stack trace on every
  *    `spark.read` of a glob path (it stats the literal glob string); the
  *    glob scans are correct, so that logger is raised to ERROR.
  *
  * A main with a different need (PlanAudit's AQE off) sets it at runtime
  * on its own session.
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, else 32. */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(32)(_.toInt)

  /** The session under this policy; `warehouseDir` is the test session's
    * temp warehouse (a static setting, so it must be set here).
    */
  def local(cores: Int = defaultCores, logLevel: String = "WARN",
            warehouseDir: Option[String] = None): SparkSession = {
    val builder = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cores]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    warehouseDir.foreach(builder.config("spark.sql.warehouse.dir", _))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
