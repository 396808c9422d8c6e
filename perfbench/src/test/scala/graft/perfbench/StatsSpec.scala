package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("the tail percentile leaves at least 10 samples beyond it") {
    assert(Stats.tailPercentile(150) == 90) // p95 would leave 7.5
    assert(Stats.tailPercentile(199) == 90)
    assert(Stats.tailPercentile(200) == 95)
    assert(Stats.tailPercentile(250) == 95)
    assert(Stats.tailPercentile(1000) == 99)
    assert(Stats.tailPercentile(40) == 75)
    assert(Stats.tailPercentile(39) == 50)
    assert(Stats.tailPercentile(21) == 50)
    for (n <- 20 to 2000) {
      val p = Stats.tailPercentile(n)
      assert(n * (100 - p) / 100.0 >= 10.0)
      Stats.TailLadder.filter(_ > p).foreach(q => assert(n * (100 - q) / 100.0 < 10.0))
    }
  }

  test("percentiles are nearest-rank over unsorted samples") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(3.0), 95) == 3.0)
    assert(Stats.tail((1 to 150).map(_.toDouble)) == 135.0)
  }

  test("the geometric mean") {
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
    assert(math.abs(Stats.geomean(Seq(7.0)) - 7.0) < 1e-9)
  }
}
