package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("self time subtracts overlapping children once") {
    // parent 0..100; children 10..40 and 30..60 overlap on 30..40, and
    // 90..120 runs past the parent's end
    val self = Stats.selfTime((0, 100), Seq((10, 40), (30, 60), (90, 120)))
    assert(self == 100 - 50 - 10)
  }

  test("self time: nested and identical children, no children, full cover") {
    assert(Stats.selfTime((0, 10), Seq((2, 8), (3, 4), (2, 8))) == 4)
    assert(Stats.selfTime((5, 25), Nil) == 20)
    assert(Stats.selfTime((0, 10), Seq((-5, 15))) == 0)
    // a child entirely outside the parent takes nothing from it
    assert(Stats.selfTime((0, 10), Seq((20, 30))) == 10)
  }

  test("union length merges touching and disjoint intervals") {
    assert(Stats.unionLength(Seq((0, 1), (1, 2), (5, 6))) == 3)
    assert(Stats.unionLength(Seq((3, 3), (4, 2))) == 0)
  }

  test("tail level: the highest percentile with at least 10 samples beyond it") {
    assert(Stats.tailLevel(100) == 0.9)  // 10 beyond p90
    assert(Stats.tailLevel(1000) == 0.9) // capped at p90
    assert(Stats.tailLevel(40) == 0.75)  // 10 of 40 beyond p75
    assert(math.abs(Stats.tailLevel(35) - 25.0 / 35) < 1e-12)
    assert(Stats.tailLevel(20) == 0.5)   // no room for a tail: the median
    assert(Stats.tailLevel(6) == 0.5)
    for (n <- 20 to 300) {
      val q = Stats.tailLevel(n)
      assert(n * (1 - q) >= 10 - 1e-9, s"n=$n q=$q")
    }
  }

  test("tail of 40 samples is their p75") {
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.tail(xs) == Stats.quantile(xs, 0.75))
    assert(xs.count(_ > Stats.tail(xs)) == 10)
  }

  test("quantile interpolates like numpy; geomean") {
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) == 2.5)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
  }
}
