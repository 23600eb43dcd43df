package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest rank: the percentile is the sample at rank ceil(p*n)") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5) == Stats.Pct(50.0, 50, 100))
    assert(Stats.percentile(xs, 0.9) == Stats.Pct(90.0, 90, 100))
    assert(Stats.percentile(xs, 0.99) == Stats.Pct(99.0, 99, 100))
    assert(Stats.percentile(xs, 1.0) == Stats.Pct(100.0, 100, 100))
    assert(Stats.percentile(xs, 0.001).value == 1.0)
  }

  test("ranks are exact where binary floating point would round up") {
    // 0.9 * 100, 0.96 * 25 and 0.29 * 100 all overshoot in doubles
    assert(Stats.rank(0.9, 100) == 90)
    assert(Stats.rank(0.96, 25) == 24)
    assert(Stats.rank(0.29, 100) == 29)
    assert(Stats.rank(0.96, 257) == 247)
  }

  test("the percentile is a measured sample, never an interpolation") {
    val xs = Seq(10.0, 40.0, 20.0, 30.0)
    assert(Stats.median(xs) == 20.0)
    assert(Stats.percentile(xs, 0.9).value == 40.0)
    assert(Stats.percentile(Seq(7.0), 0.99) == Stats.Pct(7.0, 1, 1))
  }

  test("no samples and out-of-range percentiles are rejected") {
    intercept[IllegalArgumentException](Stats.percentile(Nil, 0.5))
    intercept[IllegalArgumentException](Stats.rank(0.0, 10))
    intercept[IllegalArgumentException](Stats.rank(1.5, 10))
  }
}
