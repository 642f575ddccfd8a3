package graft.cdcbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates linearly between ranks") {
    val v = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(v, 0) == 1.0)
    assert(Stats.percentile(v, 100) == 4.0)
    assert(Stats.percentile(v, 50) == 2.5)
    assert(math.abs(Stats.percentile(v, 90) - 3.7) < 1e-12)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
  }

  test("percentile of one value is that value") {
    assert(Stats.percentile(Seq(7.5), 90) == 7.5)
  }

  test("percentile rejects no values and out-of-range ranks") {
    intercept[IllegalArgumentException](Stats.percentile(Nil, 50))
    intercept[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }

  test("p90 of 100 samples has ten samples above it") {
    val v = (1 to 100).map(_.toDouble)
    val p90 = Stats.percentile(v, 90)
    assert(v.count(_ > p90) == 10)
  }

  test("unionLength merges overlapping and touching intervals") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L), (10L, 12L))) == 22L)
    assert(Stats.unionLength(Seq((3L, 3L), (5L, 4L))) == 0L)
    assert(Stats.unionLength(Nil) == 0L)
  }
}
