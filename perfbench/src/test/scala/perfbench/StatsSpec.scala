package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail: the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    // ten samples (91..100) lie beyond 90, at percentile 90
    assert(Stats.tail(xs) === Some((90.0, 90.0)))
    val ys = (1 to 1000).map(_.toDouble).reverse
    assert(Stats.tail(ys) === Some((990.0, 99.0)))
    // 20 samples: the 10th smallest, percentile 50
    assert(Stats.tail((1 to 20).map(_.toDouble)) === Some((10.0, 50.0)))
    // 21 samples: the 11th smallest, percentile 100·11/21
    assert(Stats.tail((1 to 21).map(_.toDouble)) === Some((11.0, 100.0 * 11 / 21)))
    // under 20: the only percentiles with ten beyond lie below the median
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
  }

  test("tail: a failed op counts as infinitely slow") {
    val xs = (1 to 30).map(_.toDouble) ++ Seq.fill(11)(Double.PositiveInfinity)
    assert(Stats.tail(xs).get._1.isInfinite)
  }

  test("median") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) === 2.5)
  }

  test("self time is the span minus the union of its children's intervals") {
    // children overlap each other: [10,30) ∪ [20,40) covers 30
    assert(Stats.selfTime((0L, 100L), Seq((10L, 30L), (20L, 40L))) === 70L)
    // disjoint children
    assert(Stats.selfTime((0L, 100L), Seq((10L, 20L), (50L, 60L))) === 80L)
    // a child running past the parent counts only inside the parent
    assert(Stats.selfTime((0L, 100L), Seq((90L, 150L), (-20L, 10L))) === 80L)
    // nested children add nothing beyond the outer one
    assert(Stats.selfTime((0L, 100L), Seq((10L, 90L), (20L, 30L))) === 20L)
    assert(Stats.selfTime((0L, 100L), Nil) === 100L)
  }

  test("f1") {
    assert(Stats.f1(10, 0, 0) === 1.0)
    assert(math.abs(Stats.f1(8, 2, 2) - 0.8) < 1e-12)
    assert(Stats.f1(0, 0, 0) === 1.0)
  }
}
