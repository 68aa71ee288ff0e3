package cdcbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail percentile is the highest with at least ten samples beyond it") {
    assert(Stats.tailPercentile(0).isEmpty)
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(99).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
  }

  test("the chosen percentile really leaves ten samples above it") {
    for (n <- 20 to 2000) {
      val p = Stats.tailPercentile(n).get
      val xs = (1 to n).map(_.toDouble)
      assert(xs.count(_ > Stats.percentile(xs, p)) >= 10, s"n=$n p=$p")
    }
  }

  test("median and nearest-rank percentile") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.percentile((1 to 100).map(_.toDouble), 90) == 90.0)
    assert(Stats.percentile(Seq(5.0), 99) == 5.0)
  }

  test("summary keeps the first sample beside the steady median") {
    val s = Stats.summary(Seq(9.0, 1.0, 2.0, 3.0)).get
    assert(s.first == 9.0 && s.steadyP50 == 2.0 && s.n == 4)
    assert(s.tailP.isEmpty && s.tail.isEmpty)
  }
}
