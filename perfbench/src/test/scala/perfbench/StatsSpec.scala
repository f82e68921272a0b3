package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("percentile interpolates linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(math.abs(Stats.percentile(xs, 90) - 3.7) < 1e-9)
    assert(Stats.percentile(Nil, 50).isNaN)
  }

  test("tail is the highest percentile with at least 10 samples beyond it") {
    val xs = (1 to 1000).map(_.toDouble)
    assert(Stats.tail(xs)._1 == 99.0)                 // 10 beyond p99, 1 beyond p99.9
    assert(Stats.tail((1 to 100).map(_.toDouble))._1 == 90.0)
    assert(Stats.tail((1 to 199).map(_.toDouble))._1 == 90.0)   // 9.95 beyond p95
    assert(Stats.tail((1 to 200).map(_.toDouble))._1 == 95.0)
    assert(Stats.tail((1 to 40).map(_.toDouble))._1 == 75.0)
    val few = (1 to 15).map(_.toDouble)
    assert(Stats.tail(few) == ((50.0, Stats.median(few))))
    assert(Stats.tail((1 to 10000).map(_.toDouble))._1 == 99.9)
  }
}
