package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles are measured samples; an even median averages") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.median(xs) == 50.5)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 0.9) == 3.0)
  }

  test("the geometric mean weighs relative changes the same") {
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0)) - 2.0) < 1e-12)
    assert(math.abs(Stats.geomean(Seq(2.0, 4.0)) / Stats.geomean(Seq(1.0, 4.0)) -
      Stats.geomean(Seq(1.0, 8.0)) / Stats.geomean(Seq(1.0, 4.0))) < 1e-12)
  }

  test("a tail percentile needs ten samples beyond it") {
    assert(Stats.samplesBeyond(100, 0.9) == 10)
    assert(Stats.samplesBeyond(99, 0.9) == 9)
    assert(Stats.tailPercentile(100).contains(0.9))
    assert(Stats.tailPercentile(99).contains(0.75))
    assert(Stats.tailPercentile(200).contains(0.95))
    assert(Stats.tailPercentile(20).contains(0.5))
    assert(Stats.tailPercentile(19).isEmpty)
  }
}
