package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the same seed gives the same inputs, another seed other inputs") {
    val v1 = Gen.vocabulary(7, 500)
    assert(v1.toSeq == Gen.vocabulary(7, 500).toSeq)
    assert(v1.distinct.length == 500)
    assert(v1.toSeq != Gen.vocabulary(8, 500).toSeq)
    val z = new Gen.Zipf(v1.length, 1.07)
    assert(Gen.text(7, 42, v1, z, 50) == Gen.text(7, 42, v1, z, 50))
    assert(Gen.text(7, 42, v1, z, 50) != Gen.text(8, 42, v1, z, 50))
    assert(Gen.vector(7, 3, 64).toSeq == Gen.vector(7, 3, 64).toSeq)
    assert(Gen.vector(7, 3, 64).forall(x => x >= -1f && x < 1f))
    val p = Gen.queryPool(7, 100, v1, 10)
    assert(p.toSeq == Gen.queryPool(7, 100, v1, 10).toSeq && p.distinct.length == 100)
    val (a, b) = (new Gen.QueryStream(7, 100, 3, 1.0), new Gen.QueryStream(7, 100, 3, 1.0))
    assert(Seq.fill(200)(a.next()) == Seq.fill(200)(b.next()))
  }

  test("query stream: a fixed repeat share, repeats Zipf-popular") {
    val s = new Gen.QueryStream(3, 400, 3, 1.0)
    val draws = Seq.fill(300)(s.next())
    // every third query is new, never the warm-up query 0
    assert(draws.distinct.size == 100 && !draws.contains(0))
    val firstUse = draws.distinct
    val counts = draws.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts(firstUse.head) > counts(firstUse(50)))
    // with freshEvery = 1 every query is new
    val fresh = new Gen.QueryStream(3, 400, 1, 1.0)
    assert(Seq.fill(50)(fresh.next()).distinct.size == 50)
  }

  test("probe query: the rarest distinct words of the text") {
    val v = Gen.vocabulary(4, 50)
    val text = Seq(v(3), v(40), v(3), v(17), v(45)).mkString(" ") + "."
    assert(Gen.probeQuery(text, v, 3) == Seq(v(45), v(40), v(17)).mkString(" "))
  }

  test("landing plan: a fixed re-ingest share, always of earlier documents") {
    val plan = Gen.landingPlan(5, 6, 20, 0.2)
    assert(plan == Gen.landingPlan(5, 6, 20, 0.2))
    assert(plan.head == (1L to 20L))
    plan.zipWithIndex.drop(1).foreach { case (batch, b) =>
      val earlier = plan.take(b).flatten.toSet
      assert(batch.size == 20)
      assert(batch.count(earlier.contains) == 4)
      assert(batch.filterNot(earlier.contains).distinct.size == 16)
    }
  }
}
