package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def oneTo(n: Int) = (1 to n).map(_.toDouble)

  test("the tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tail(oneTo(100)) == Stats.Tail(90.0, 90.0, 100, 10))
    assert(Stats.tail(oneTo(1000)) == Stats.Tail(99.0, 990.0, 1000, 10))
    assert(Stats.tail(oneTo(200)) == Stats.Tail(95.0, 190.0, 200, 10))
  }

  test("one sample short of a percentile drops to the next lower one") {
    // p90 of 99 samples is 90 with only 9 beyond it
    assert(Stats.tail(oneTo(99)) == Stats.Tail(75.0, 75.0, 99, 24))
  }

  test("too few samples for any percentile report the median and say so") {
    val t = Stats.tail(oneTo(19))
    assert(t.pct == 50.0 && t.value == 10.0 && t.beyond == 9)
    assert(Stats.tail(Seq(3.0)) == Stats.Tail(50.0, 3.0, 1, 0))
  }

  test("ties count as at, not beyond, the percentile") {
    val xs = Seq.fill(50)(1.0) ++ Seq.fill(50)(2.0)
    // p90 and p75 are both 2.0 with nothing beyond; p50 is 1.0 with 50 beyond
    assert(Stats.tail(xs) == Stats.Tail(50.0, 1.0, 100, 50))
  }

  test("median and nearest-rank percentile") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.percentile(oneTo(10), 90) == 9.0)
    assert(Stats.percentile(oneTo(10), 100) == 10.0)
    assert(Stats.percentile(oneTo(10), 0) == 1.0)
  }
}
