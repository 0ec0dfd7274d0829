package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("tail: the sample with exactly ten samples beyond it") {
    val t = Stats.tail((1 to 100).map(_.toDouble))
    assert(t == Stats.Tail(90.0, 90.0, 100))
    val small = Stats.tail((1 to 20).map(_.toDouble).reverse)
    assert(small == Stats.Tail(10.0, 50.0, 20))
  }

  test("tail: ten beyond is a minimum, counted strictly above the value") {
    val t = Stats.tail((1 to 1000).map(_.toDouble))
    assert(t.value == 990.0 && t.percentile == 99.0)
    assert((1 to 1000).count(_ > t.value) == Stats.Beyond)
  }

  test("tail: below twenty samples the maximum, never a value under the median") {
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == Stats.Tail(3.0, 100.0, 3))
    assert(Stats.tail((1 to 19).map(_.toDouble)) == Stats.Tail(19.0, 100.0, 19))
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("geomean of ratios and of a constant") {
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
    assert(math.abs(Stats.geomean(Seq.fill(7)(3.5)) - 3.5) < 1e-9)
    assert(intercept[IllegalArgumentException](Stats.geomean(Seq(1.0, 0.0))) != null)
  }

  test("self time subtracts the union of overlapping children once") {
    val parent = Span(1, 1, None, "batch", 0, 100)
    val spans = Seq(parent,
      Span(2, 1, Some(1), "cdc", 10, 40),
      Span(3, 1, Some(1), "current", 30, 60), // overlaps cdc by 10
      Span(4, 1, Some(1), "rollup", 90, 130), // runs past the parent's end
      Span(5, 1, Some(3), "inner", 35, 45))
    val self = Stats.selfTimes(spans)
    assert(self(1) == 100 - (50 + 10)) // covered: [10, 60) and [90, 100)
    assert(self(3) == 30 - 10)
    assert(self(2) == 30 && self(4) == 40 && self(5) == 10)
  }

  test("union length merges touching and nested intervals") {
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L), (2L, 5L), (30L, 31L))) == 21)
    assert(Stats.unionLength(Nil) == 0)
  }

  test("interleaved tracing overhead cancels a linear drift") {
    // untraced runs grow 10 per step; the traced ones carry +5
    val walls = Seq(100.0, 115.0, 120.0, 135.0, 140.0)
    val traced = Seq(false, true, false, true, false)
    val want = ((115.0 / 110 + 135.0 / 130) / 2 - 1) * 100
    assert(math.abs(Stats.interleavedOverheadPct(walls, traced) - want) < 1e-9)
    assert(Stats.interleavedCount(2, traced = true) == 3)
    assert(Stats.interleavedCount(4, traced = true) == 5)
    assert(Stats.interleavedCount(4, traced = false) == 4)
  }
}
