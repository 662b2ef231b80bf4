package graft.operators

import org.apache.spark.sql.functions.{array_repeat, col}

import graft.{JobCount, SparkSpec}

/** The residency guard every in-process serving rung admits its table
  * through, called directly with limits small enough to cross.
  */
class ResidentSpec extends SparkSpec {
  import spark.implicits._

  // 5 rows × 4 dims = 20 floats
  private lazy val vectors = (1L to 5L).map(i => i -> Array.fill(4)(i.toFloat))
    .toDF("id", "vec")

  test("declines a table over the row limit") {
    assert(Resident.fits(vectors, maxRows = 5))
    assert(!Resident.fits(vectors, maxRows = 4))
    assert(Resident.fits(vectors, maxRows = 5, vecCol = Some("vec")))
    assert(!Resident.fits(vectors, maxRows = 4, vecCol = Some("vec")))
    // the count alone declines: no dimension probe follows it. A range
    // (not a local table) makes the probe a job of its own.
    val ranged = spark.range(1, 6).select(col("id"),
      array_repeat(col("id").cast("float"), 4).as("vec"))
    def jobs(maxRows: Int, vecCol: Option[String]) =
      JobCount(spark)(Resident.fits(ranged, maxRows, vecCol))
    val (_, countJobs) = jobs(4, None)
    assert(jobs(4, Some("vec")) == ((false, countJobs)))
    assert(jobs(5, Some("vec")) == ((true, jobs(5, None)._2 + 1)))
  }

  test("declines a vector table over the float budget") {
    assert(Resident.fits(vectors, maxRows = 10, vecCol = Some("vec"), maxFloats = 20))
    assert(!Resident.fits(vectors, maxRows = 10, vecCol = Some("vec"), maxFloats = 19))
    // the row rule alone has no float budget
    assert(Resident.fits(vectors, maxRows = 10, maxFloats = 19))
  }

  test("the id rule declines a string id with no Spark job") {
    val strings = Seq(("a", Array(1f))).toDF("id", "vec")
    val ints = Seq((1, Array(1f))).toDF("id", "vec")
    val doubles = Seq((1L, Array(1.0))).toDF("id", "vec")
    val (verdicts, jobs) = JobCount(spark) {
      Seq(Resident.ids(strings, "id"), Resident.vectors(strings, "id", "vec"),
        Resident.ids(ints, "id"), Resident.vectors(ints, "id", "vec"),
        Resident.ids(vectors, "id"), Resident.vectors(vectors, "id", "vec"),
        Resident.vectors(doubles, "id", "vec"))
    }
    assert(verdicts == Seq(false, false, true, false, true, true, false))
    assert(jobs == 0, s"the id rule ran $jobs jobs")
  }

  test("a declined or failed build is memoised: the second call runs no job") {
    val memo = new SessionMemo[Option[Array[Long]]]
    var builds = 0
    def admit(key: Option[String], maxRows: Int) =
      Resident.memo(memo, spark, key, s"spec$maxRows") {
        builds += 1
        Option.when(Resident.fits(vectors, maxRows, Some("vec")))(
          vectors.select("id").as[Long].collect())
      }
    val (cold, coldJobs) = JobCount(spark)(admit(Some("spec|resident"), 4))
    assert(cold.isEmpty && coldJobs > 0)
    val (warm, warmJobs) = JobCount(spark)(admit(Some("spec|resident"), 4))
    assert(warm.isEmpty && warmJobs == 0, s"a memoised decline ran $warmJobs jobs")
    assert(builds == 1)
    // a keyless call is the distributed plan: no build, no job
    val (keyless, keylessJobs) = JobCount(spark)(admit(None, 5))
    assert(keyless.isEmpty && keylessJobs == 0 && builds == 1)
    // admitted under the limit, under its own `key|tag`
    assert(admit(Some("spec|resident"), 5).map(_.toSeq).contains(1L to 5L))
    // a build that throws is memoised as None like a decline
    val failing = new SessionMemo[Option[Int]]
    var attempts = 0
    def fail() = Resident.memo(failing, spark, Some("spec|failing"), "t") {
      attempts += 1
      throw new IllegalStateException("collect failed")
    }
    assert(fail().isEmpty && fail().isEmpty && attempts == 1)
  }
}
