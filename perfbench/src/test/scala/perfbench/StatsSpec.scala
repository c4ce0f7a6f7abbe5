package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile is always an observed sample") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 91) == 10.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.percentile(xs, 1) == 1.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.percentile(Seq(7.0), 90) == 7.0)
  }

  test("input order does not matter") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.percentile(xs, 80) == Stats.percentile(xs.sorted, 80))
  }

  test("samples beyond a percentile: p90 needs 100 samples for ten beyond it") {
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.beyond(99, 90) == 9)
    assert(Stats.beyond(294, 95) == 14)
    assert(Stats.beyond(20, 50) == 10)
  }

  test("percentile rejects an empty sample and a percentile outside (0, 100]") {
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 0))
  }
}
