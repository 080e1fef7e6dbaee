package e2ebench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def ramp(n: Int) = (1 to n).map(_.toDouble)

  test("a percentile is reported only with at least 10 samples beyond it") {
    assert(Stats.percentile(ramp(199), 0.95).isEmpty) // rank 190 of 199: 9 beyond
    assert(Stats.percentile(ramp(200), 0.95).contains(190.0)) // 10 beyond
    assert(Stats.percentile(ramp(19), 0.5).isEmpty)
    assert(Stats.percentile(ramp(20), 0.5).contains(10.0))
    assert(Stats.percentile(ramp(1000), 0.99).contains(990.0))
    assert(Stats.percentile(ramp(999), 0.99).isEmpty)
    assert(Stats.percentile(Seq.empty, 0.5).isEmpty)
  }

  test("the tail is the p95 when supported, else the largest sample, and says which") {
    assert(Stats.tail(ramp(200)) == (("p95", 190.0)))
    assert(Stats.tail(ramp(12)) == (("max of 12", 12.0)))
  }

  test("median") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("steady state: warm-up ends once the unit time stops falling") {
    assert(Stats.steadyAfter(Seq(10, 9, 8, 7, 6)).isEmpty)                // too few units
    assert(Stats.steadyAfter(Seq(10, 8, 6, 5, 4, 3, 2.5, 2)).isEmpty)     // still falling
    assert(Stats.steadyAfter(Seq(10, 8, 6, 4, 4, 4, 4, 4)) == Some(7))
    assert(Stats.steadyAfter(Seq(5, 5, 5, 5, 5, 5)) == Some(5))
  }
}
