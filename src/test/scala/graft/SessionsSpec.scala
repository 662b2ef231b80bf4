package graft

/** [[Sessions]] is the one place the session policy lives: the shared test
  * session is built by it, and no main builds a session of its own.
  */
class SessionsSpec extends SparkSpec {

  test("the shared test session carries every factory setting") {
    val conf = spark.sparkContext.getConf
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("SparkSession.builder() appears in main only inside Sessions.scala") {
    // comment lines are skipped: scaladoc may show the builder
    // (GraftExtensions does)
    def code(f: java.io.File): String =
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").split("\n")
        .filterNot { l =>
          val t = l.trim
          t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")
        }.mkString("\n")
    val pattern = "SparkSession\\s*\\.\\s*builder\\b".r
    val builders = MainSources.files.filter(f => pattern.findFirstIn(code(f)).isDefined)
    assert(builders.map(_.getName) == Seq("Sessions.scala"),
      builders.map(_.getPath).mkString(", "))
  }
}
