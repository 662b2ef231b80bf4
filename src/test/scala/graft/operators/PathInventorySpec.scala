package graft.operators

import graft.SparkSpec

/** [[PathInventory]], the engine's one change detector: its stamp moves on
  * every data-file change and on nothing else, on the local filesystem
  * and on one with no `java.io` view (the `graftnoio` scheme).
  */
class PathInventorySpec extends SparkSpec {
  import spark.implicits._

  /** A fresh directory, once as a local path and once on `graftnoio`. */
  private def dirs(prefix: String): Seq[String] = Seq(
    java.nio.file.Files.createTempDirectory(prefix).toString,
    graft.NoJavaIoFileSystem.tempDir(spark, s"${prefix}_noio"))

  /** The local path behind a directory of [[dirs]]. */
  private def local(dir: String): String =
    dir.stripPrefix(s"${graft.NoJavaIoFileSystem.Scheme}://")

  test("stamp moves on a parquet append and stays on a rewrite of _SUCCESS") {
    dirs("graft_inv_append").foreach { base =>
      val t = s"$base/t"
      Seq(1L, 2L).toDF("id").write.parquet(t)
      val before = PathInventory.stamp(spark, t)
      assert(before != 0L, t)
      java.nio.file.Files.write(java.nio.file.Paths.get(local(t), "_SUCCESS"),
        Array[Byte](9, 9))
      assert(PathInventory.stamp(spark, t) == before, t)
      Seq(3L).toDF("id").write.mode("append").parquet(t)
      assert(PathInventory.stamp(spark, t) != before, t)
    }
  }

  test("stamp notices a rewrite of a single-file table") {
    dirs("graft_inv_file").foreach { base =>
      val f = java.nio.file.Paths.get(local(base), "t.parquet")
      java.nio.file.Files.write(f, Array[Byte](1, 2, 3))
      val before = PathInventory.stamp(spark, s"$base/t.parquet")
      java.nio.file.Files.write(f, Array[Byte](1, 2, 3, 4))
      assert(before != 0L)
      assert(PathInventory.stamp(spark, s"$base/t.parquet") != before)
    }
  }

  test("stamp moves on a new file inside a cluster_id= subdirectory") {
    dirs("graft_inv_part").foreach { base =>
      val t = s"$base/assigned"
      Seq((1L, 0), (2L, 1)).toDF("id", "cluster_id")
        .write.partitionBy("cluster_id").parquet(t)
      val rows = PathInventory(spark, t)
      assert(rows.map(_._1.takeWhile(_ != '/')).distinct == Seq("cluster_id=0", "cluster_id=1"), t)
      val before = PathInventory.stamp(rows)
      Seq((3L, 0)).toDF("id", "cluster_id")
        .write.mode("append").partitionBy("cluster_id").parquet(t)
      val after = PathInventory(spark, t)
      assert(after.count(_._1.startsWith("cluster_id=0/")) == 2, t)
      assert(PathInventory.stamp(after) != before, t)
      assert(PathInventory.stamp(spark, t) == PathInventory.stamp(after), t)
    }
  }

  test("a missing path has an empty inventory and stamp 0") {
    dirs("graft_inv_missing").foreach { base =>
      assert(PathInventory(spark, s"$base/absent").isEmpty)
      assert(PathInventory.stamp(spark, s"$base/absent") == 0L)
    }
  }
}
