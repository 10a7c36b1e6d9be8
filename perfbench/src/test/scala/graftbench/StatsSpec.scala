package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail is the highest order statistic with ten samples beyond it") {
    val xs = (1 to 20).map(_.toDouble).reverse
    assert(Stats.tail(xs) == Some((10.0, 50.0)))
    val big = (1 to 110).map(_.toDouble)
    val (v, pct) = Stats.tail(big).get
    assert(v == 100.0 && big.count(_ > v) == 10)
    assert(math.abs(pct - 100.0 * 100 / 110) < 1e-9)
    assert(Stats.tail((1 to 11).map(_.toDouble)) == Some((1.0, 100.0 / 11)))
  }

  test("no tail is stated below eleven samples") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail(Seq.empty).isEmpty)
  }

  test("whole-cycle mean drops the unfinished cycle") {
    val lat = Seq(1.0, 3.0, 1.0, 3.0, 100.0)
    val ends = Seq(false, true, false, true, false)
    assert(Stats.wholeCycleMean(lat, ends) == Some(2.0))
    assert(Stats.cycles(ends) == 2)
    assert(Stats.wholeCycleMean(Seq(1.0, 2.0), Seq(false, false)).isEmpty)
  }

  test("a periodic flatten is paid for in the exact proportion it occurs") {
    // chain of two overlays then a flatten, twice
    val lat = Seq(1.0, 1.0, 4.0, 1.0, 1.0, 4.0)
    val ends = Seq(false, false, true, false, false, true)
    assert(Stats.wholeCycleMean(lat, ends) == Some(2.0))
  }

  test("tracing overhead: layers sum to the untraced wall plus the overhead") {
    val layers = Seq(1.0, 2.0, 3.0)
    val untraced = Seq(5.5, 5.0, 5.5)
    val o = Stats.overhead(layers, untraced)
    assert(math.abs(o - (6.0 - 16.0 / 3)) < 1e-12)
    assert(math.abs(layers.sum - (Stats.mean(untraced) + o)) < 1e-12)
    assert(Stats.overhead(Seq(1.0), Seq(2.0)) == -1.0)
  }

  test("median and task skew") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.skew(Seq(10L, 10L, 40L)) == 4.0)
    assert(Stats.skew(Seq(7L)) == 1.0)
  }
}
