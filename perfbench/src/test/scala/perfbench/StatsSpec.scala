package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("nearest-rank percentile picks the smallest sample covering the quantile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5) == 50.0)
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(Stats.percentile(xs.reverse, 0.9) == 90.0)
    assert(Stats.percentile(Seq(7.0), 0.9) == 7.0)
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) == 2.0)
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 0.5))
  }

  test("rank is exact where the floating-point product overshoots") {
    assert(0.55 * 100 > 55.0) // 55.00000000000001
    assert(Stats.rank(100, 0.55) == 55)
    assert(Stats.rank(100, 0.9) == 90)
    assert(Stats.rank(10, 0.9) == 9)
    assert(Stats.rank(1, 0.5) == 1)
  }

  test("a p90 needs at least 10 samples beyond it: 100 samples, not 99") {
    assert(Stats.beyond(100, 0.9) == 10)
    assert(Stats.tailOk(100, 0.9))
    assert(!Stats.tailOk(99, 0.9))
    assert(Stats.minSamples(0.9) == 100)
    assert(Stats.minSamples(0.5) == 20)
    assert(Stats.minSamples(0.99) == 1000)
  }

  test("fail_frac counts refused, errored and wrong operations over all attempted") {
    val t = new Tally
    (1 to 7).foreach(_ => t.ok())
    t.fail("HTTP 503")
    t.record(Left("wrong ranking"))
    t.record(Right(()))
    assert(t.attempted == 10)
    assert(t.failed == 2)
    assert(t.failFrac == 0.2)
    assert(t.firstReasons == Seq("HTTP 503", "wrong ranking"))
    assert(new Tally().failFrac == 0.0)
  }
}
