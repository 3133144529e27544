package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 50) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("a tail percentile needs at least ten samples beyond it") {
    assert(Stats.beyond(90, 100) == 10)
    assert(Stats.valid(90, 100))
    assert(!Stats.valid(90, 99))
    assert(Stats.valid(50, 20))
    assert(!Stats.valid(50, 19))
    assert(!Stats.valid(95, 199))
    assert(Stats.valid(95, 200))
  }

  test("highestValid picks the highest percentile with its tail") {
    val xs = (1 to 120).map(_.toDouble)
    assert(Stats.highestValid(xs) == Some(90.0 -> 108.0))
    assert(Stats.highestValid(xs.take(20)).map(_._1) == Some(50.0))
    assert(Stats.highestValid(xs.take(19)).isEmpty)
    assert(Stats.highestValid((1 to 1000).map(_.toDouble)).map(_._1) == Some(99.0))
  }
}
