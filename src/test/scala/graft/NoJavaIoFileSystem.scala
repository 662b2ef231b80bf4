package graft

/** The local filesystem under the `graftnoio` scheme: a Hadoop
  * [[org.apache.hadoop.fs.FileSystem]] with no `java.io` view of its paths,
  * as a remote store has — `new java.io.File("graftnoio:///…")` lists
  * nothing, so code that reads a store through `java.io` sees it empty
  * there. [[tempDir]] installs it in the Hadoop configuration.
  */
class NoJavaIoFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${NoJavaIoFileSystem.Scheme}:///")
  override def getScheme: String = NoJavaIoFileSystem.Scheme
}

object NoJavaIoFileSystem {
  val Scheme = "graftnoio"

  /** True when `java.io` sees `path` — never for a path on the scheme. */
  def javaIoSees(path: String): Boolean = new java.io.File(path).exists()

  /** A fresh empty directory on the scheme. */
  def tempDir(spark: org.apache.spark.sql.SparkSession, prefix: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(s"fs.$Scheme.impl", classOf[NoJavaIoFileSystem].getName)
    conf.setBoolean(s"fs.$Scheme.impl.disable.cache", true)
    s"$Scheme://${java.nio.file.Files.createTempDirectory(prefix)}"
  }
}
