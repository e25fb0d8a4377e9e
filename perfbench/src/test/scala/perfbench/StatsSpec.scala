package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("quantiles interpolate between closest ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.median(xs) == 2.5)
    assert(math.abs(Stats.quantile(xs, 0.9) - 3.7) < 1e-12)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    assert(Stats.median(Seq(5.0)) == 5.0)
    assert(Stats.median(Seq(1.0, 2.0, 10.0)) == 2.0)
  }

  test("empty samples and out-of-range quantiles are rejected") {
    intercept[IllegalArgumentException](Stats.median(Nil))
    intercept[IllegalArgumentException](Stats.quantile(Seq(1.0), 1.5))
  }

  test("result values keep every digit") {
    assert(Main.num(1.2034567891) == "1.2034567891")
    assert(Main.num(2.0) == "2.0")
    intercept[IllegalStateException](Main.num(Double.NaN))
  }
}
