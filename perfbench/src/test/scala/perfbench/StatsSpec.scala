package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
  }

  test("tail is p90 once at least ten samples lie beyond it") {
    // 100 samples: p90 is the 90th sample, ten lie beyond it
    assert(Stats.tailIndex(100) === 89)
    assert(Stats.tail((1 to 100).map(_.toDouble)) === ((90.0, 0.9)))
    // 1000 samples: p90 still caps the percentile
    assert(Stats.tailIndex(1000) === 899)
  }

  test("tail falls below p90 when fewer samples lie beyond it") {
    // 50 samples: p90 (45th) has 5 beyond; the highest with 10 beyond is the 40th
    assert(Stats.tailIndex(50) === 39)
    val (v, q) = Stats.tail((1 to 50).map(_.toDouble).reverse)
    assert(v === 40.0 && q === 0.8)
    // 11 samples: only the lowest has ten beyond it
    assert(Stats.tailIndex(11) === 0)
  }

  test("with ten or fewer samples the maximum stands in") {
    assert(Stats.tailIndex(10) === 9)
    assert(Stats.tailIndex(1) === 0)
    assert(Stats.tail(Seq(5.0, 9.0, 7.0))._1 === 9.0)
  }
}
