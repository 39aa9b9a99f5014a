package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median averages the middle pair of an even sample") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(5.0)) == 5.0)
  }

  test("percentiles interpolate between closest ranks") {
    val xs = (1 to 101).map(_.toDouble)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 101.0)
    assert(Stats.percentile(xs, 90) == 91.0)
    assert(Stats.percentile(Seq(10.0, 20.0), 25) == 12.5)
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
    assertThrows[IllegalArgumentException](Stats.percentile(xs, 101))
  }

  test("union length counts overlapping intervals once") {
    assert(Stats.unionLength(Nil) == 0)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20)
    assert(Stats.unionLength(Seq((20L, 25L), (0L, 30L))) == 30)
    assert(Stats.unionLength(Seq((0L, 5L), (5L, 8L))) == 8)
  }
}
