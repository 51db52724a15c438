package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the tail is the highest percentile with ten samples beyond it") {
    assert(Stats.tailLevel(5) == 0.5)
    assert(Stats.tailLevel(20) == 0.5)
    assert(Stats.tailLevel(40) == 0.75)
    assert(Stats.tailLevel(100) == 0.9)
    assert(Stats.tailLevel(1000) == 0.99)
    assert(Stats.tailLevel(10000) == 0.999)
  }

  test("quantiles interpolate between order statistics") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.9) == 9.0)
  }

  test("slope is the least-squares growth per position") {
    assert(Stats.slope(Seq(1.0, 3.0, 5.0)) == 2.0)
    assert(Stats.slope(Seq(4.0)) == 0.0)
  }
}
