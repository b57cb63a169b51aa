package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates between ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.percentile(xs, 25) == 1.75)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("percentile rejects empty input and ranks outside [0, 100]") {
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }

  test("the tail rank is the highest with at least ten samples beyond it") {
    Seq(1 -> 50.0, 19 -> 50.0, 20 -> 50.0, 39 -> 50.0, 40 -> 75.0, 99 -> 75.0,
      100 -> 90.0, 199 -> 90.0, 200 -> 95.0, 1000 -> 99.0, 10000 -> 99.9).foreach {
      case (n, q) => assert(Stats.tailRank(n) == q, s"n=$n")
    }
  }

  test("tail reports its value at its rank") {
    val xs = (1 to 100).map(_.toDouble)
    val (v, q) = Stats.tail(xs)
    assert(q == 90.0)
    assert(v == Stats.percentile(xs, 90.0))
    assert(math.abs(v - 90.1) < 1e-9)
  }
}
