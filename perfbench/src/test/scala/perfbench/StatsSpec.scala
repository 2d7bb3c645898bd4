package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles") {
    val xs = (1 to 10).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 0.5) == 5.0)
    assert(Stats.percentile(xs, 0.9) == 9.0)
    assert(Stats.percentile(xs, 1.0) == 10.0)
    assert(Stats.percentile(xs, 0.01) == 1.0)
    assert(Stats.median(Seq(3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0)) == 2.5)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
  }

  test("tail percentile: the highest with at least ten samples beyond it") {
    assert(Stats.beyond(100, 0.9) == 10)
    assert(Stats.tailPercentile(100).contains(0.9))
    assert(Stats.tailPercentile(99).contains(0.75))
    assert(Stats.tailPercentile(199).contains(0.9))
    assert(Stats.tailPercentile(200).contains(0.95))
    assert(Stats.tailPercentile(1000).contains(0.99))
    assert(Stats.tailPercentile(20).contains(0.5))
    assert(Stats.tailPercentile(19).isEmpty)
    // the rule holds for every n: the chosen percentile has >= 10 beyond,
    // and the next higher candidate does not
    (1 to 3000).foreach { n =>
      Stats.tailPercentile(n).foreach { p =>
        assert(Stats.beyond(n, p) >= 10)
        Stats.TailCandidates.takeWhile(_ > p).foreach(q => assert(Stats.beyond(n, q) < 10))
      }
    }
  }

  test("union of intervals") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L), (2L, 3L))) == 20L)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20L)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0L)
  }

  test("uncovered time clips inner intervals to the outer one") {
    assert(Stats.uncovered(0L, 100L, Nil) == 100L)
    assert(Stats.uncovered(0L, 100L, Seq((10L, 20L), (15L, 40L))) == 70L)
    assert(Stats.uncovered(0L, 100L, Seq((-50L, 10L), (90L, 200L))) == 80L)
    assert(Stats.uncovered(0L, 100L, Seq((200L, 300L))) == 100L)
  }
}
