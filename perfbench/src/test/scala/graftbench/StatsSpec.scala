package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Nil).isNaN)
  }

  test("tail leaves exactly ten samples beyond it and states its percentile and count") {
    val xs = (1 to 100).map(_.toDouble).reverse
    val t = Stats.tail(xs).get
    assert(t.value == 90.0)
    assert(xs.count(_ > t.value) == 10)
    assert(t.percentile == 90.0)
    assert(t.n == 100)
    val t1000 = Stats.tail((1 to 1000).map(_.toDouble)).get
    assert(t1000.value == 990.0 && t1000.percentile == 99.0 && t1000.n == 1000)
  }

  test("tail is only reported when it lies above the median") {
    assert(Stats.tail((1 to 20).map(_.toDouble)).isEmpty)
    val t = Stats.tail((1 to 21).map(_.toDouble)).get
    assert(t.value == 11.0)
    assert(t.value > Stats.median((1 to 21).map(_.toDouble)) - 1e-9)
    assert(math.abs(t.percentile - 100.0 * 11 / 21) < 1e-9)
  }

  test("ties beyond the tail still leave ten samples at or above it") {
    val xs = Seq.fill(15)(1.0) ++ Seq.fill(10)(5.0)
    val t = Stats.tail(xs).get
    assert(t.value == 1.0)
    assert(xs.count(_ > t.value) == 10)
  }
}
