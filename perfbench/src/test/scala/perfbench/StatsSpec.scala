package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median averages the middle pair of an even count") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("percentile is nearest-rank") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.percentile(Seq(7.0), 90) == 7.0)
  }

  test("p90 leaves ten samples above it only from 100 samples on") {
    val hundred = (1 to 100).map(_.toDouble)
    assert(Stats.samplesAbove(hundred, 90) == 10)
    assert(Stats.samplesAbove(hundred.take(99), 90) == 9)
    // ties at the cut do not count as above it
    assert(Stats.samplesAbove(Seq.fill(200)(1.0), 90) == 0)
  }

  test("quartiles match Python's statistics.quantiles(n=4)") {
    // reference values printed by CPython 3's statistics.quantiles
    assert(Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 5.5, 8.25)))
    assert(Stats.quartiles(Seq(3.5, 1.25, 9.0, 4.0)) == ((1.8125, 3.75, 7.75)))
    assert(Stats.quartiles(Seq(5.0, 5.0)) == ((5.0, 5.0, 5.0)))
    assert(Stats.quartiles(Seq(10.0, 2.0, 7.5, 3.25, 8.0, 1.0, 6.0)) ==
      ((2.0, 6.0, 8.0)))
  }

  test("union of job intervals counts overlaps once") {
    assert(GroupStats.unionLength(Nil) == 0)
    assert(GroupStats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20)
    assert(GroupStats.unionLength(Seq((20L, 25L), (0L, 30L))) == 30)
  }
}
