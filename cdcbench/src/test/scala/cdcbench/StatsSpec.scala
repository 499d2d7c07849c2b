package cdcbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("the tail percentile is the highest with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
  }

  test("percentiles interpolate between order statistics") {
    val xs = (1 to 5).map(_.toDouble)
    assert(Stats.median(xs) == 3.0)
    assert(Stats.percentile(xs, 75) == 4.0)
    assert(Stats.percentile(Seq(1.0, 2.0), 50) == 1.5)
    val tail = Stats.tail((1 to 40).map(_.toDouble))
    assert(tail.map(_._1).contains(75.0) && tail.map(_._2).contains(30.25))
  }
}
