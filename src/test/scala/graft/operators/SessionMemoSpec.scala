package graft.operators

import graft.SparkSpec

/** [[SessionMemo]]: compute-once under contention, per-session isolation,
  * and the one eviction, [[SessionMemo.forget]], with its key rule.
  */
class SessionMemoSpec extends SparkSpec {

  test("N threads asking for one key run the build once") {
    val memo = new SessionMemo[Int]
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            start.await()
            memo.getOrBuild(spark, "/kb/once") {
              Thread.sleep(50)
              builds.incrementAndGet()
            }
          }
        })
      }
      start.countDown()
      assert(results.map(_.get()).toSet == Set(1))
      assert(builds.get() == 1)
    } finally pool.shutdown()
  }

  test("sessions hold their own entries, and forget in one leaves the other's") {
    val memo = new SessionMemo[String]
    val other = spark.newSession()
    memo.getOrBuild(spark, "/kb/iso")("a")
    assert(memo.getOrBuild(other, "/kb/iso")("b") == "b")
    SessionMemo.forget(spark, "/kb/iso")
    assert(memo.getOrBuild(spark, "/kb/iso")("c") == "c")
    assert(memo.getOrBuild(other, "/kb/iso")("d") == "b")
  }

  test("forget(dir) evicts the keys that hold dir as a whole path") {
    Seq("/a/b", "/a/b/x.parquet", "stored:/a/b@7|lim=5", "latevocab:/a/b@3@dims=8",
        "/a/b|nc=4").foreach(k => assert(SessionMemo.holds(k, "/a/b"), k))
    assert(SessionMemo.holds("stored:graftnoio:///a/b@0|lim=5", "graftnoio:///a/b"))
    Seq("/a/bc", "/a/bc/x.parquet", "stored:/a/bc@7", "/x/a/b", "/a").foreach { k =>
      assert(!SessionMemo.holds(k, "/a/b"), k)
    }
    val memo = new SessionMemo[String]
    Seq("/a/b", "/a/b/x.parquet", "stored:/a/b@7|lim=5", "/a/bc")
      .foreach(k => memo.getOrBuild(spark, k)(s"old $k"))
    SessionMemo.forget(spark, "/a/b/") // a trailing slash names the same dir
    Seq("/a/b", "/a/b/x.parquet", "stored:/a/b@7|lim=5")
      .foreach(k => assert(memo.getOrBuild(spark, k)("new") == "new", k))
    assert(memo.getOrBuild(spark, "/a/bc")("new") == "old /a/bc")
  }

  test("one forget clears the entries of every memo and releases them") {
    val released = scala.collection.mutable.ArrayBuffer[String]()
    val a = new SessionMemo[String](v => released.synchronized(released += v))
    val b = new SessionMemo[Int]
    a.getOrBuild(spark, "/kb/two/x.parquet")("x")
    b.getOrBuild(spark, "stored:/kb/two@1")(1)
    SessionMemo.forget(spark, "/kb/two")
    assert(released.toSeq == Seq("x"))
    assert(a.getOrBuild(spark, "/kb/two/x.parquet")("y") == "y")
    assert(b.getOrBuild(spark, "stored:/kb/two@1")(2) == 2)
  }
}
