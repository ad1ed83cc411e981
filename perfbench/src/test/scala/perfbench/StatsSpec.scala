package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("percentile interpolates between order statistics") {
    assert(Stats.percentile(IndexedSeq(4.0, 1.0, 3.0, 2.0), 50) == 2.5)
    assert(Stats.percentile(IndexedSeq(5.0), 90) == 5.0)
    assert(math.abs(Stats.percentile((0 to 10).map(_.toDouble), 90) - 9.0) < 1e-12)
    assert(Stats.percentile(IndexedSeq(3.0, 1.0, 2.0), 0) == 1.0)
    assert(Stats.percentile(IndexedSeq(3.0, 1.0, 2.0), 100) == 3.0)
  }

  test("no samples give 0, the median is the 50th percentile") {
    assert(Stats.percentile(IndexedSeq.empty, 50) == 0.0)
    assert(Stats.median(IndexedSeq(7.0, 1.0, 4.0)) == 4.0)
  }
}
