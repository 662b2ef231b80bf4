package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail: the highest percentile with at least ten samples above it") {
    assert(Stats.tailPercentile(5) == 0.5)
    assert(Stats.tailPercentile(39) == 0.5)
    assert(Stats.tailPercentile(40) == 0.75)
    assert(Stats.tailPercentile(99) == 0.75)
    assert(Stats.tailPercentile(100) == 0.9)
    assert(Stats.tailPercentile(200) == 0.95)
    assert(Stats.tailPercentile(1000) == 0.99)
    assert(Stats.tailPercentile(10000) == 0.999)
  }

  test("percentiles interpolate between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.percentile(xs, 0.0) == 1.0 && Stats.percentile(xs, 1.0) == 4.0)
    val (t, p) = Stats.tail((1 to 100).map(_.toDouble))
    assert(p == 0.9 && math.abs(t - 90.1) < 1e-9)
  }
}
