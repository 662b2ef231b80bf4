package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs, built by [[Sessions]].
  * Small fixed parallelism — test data is tiny; the scale behavior is
  * exercised by Bench/explain audits, not unit specs.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  lazy val session: SparkSession = Sessions.local(cores = 4, logLevel = "ERROR",
    warehouseDir = Some(java.nio.file.Files.createTempDirectory("graft_wh").toString))
}
