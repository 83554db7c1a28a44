package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  test("the tail is the highest percentile with at least 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Trace.tail(xs) == (90, 90.0)) // 10 samples (91..100) beyond
    assert(Trace.tail((1 to 1000).map(_.toDouble)) == (99, 990.0))
    assert(Trace.tail((1 to 40).map(_.toDouble)) == (75, 30.0))
    // fewer than 20 samples: no tail above the median qualifies
    assert(Trace.tail((1 to 19).map(_.toDouble))._1 == 50)
    assert(Trace.tail(Seq(3.0, 1.0, 2.0)) == (50, 2.0))
  }

  test("a failed op (+inf) lands in the tail, not in the median") {
    val xs = (1 to 99).map(_.toDouble) :+ Double.PositiveInfinity
    assert(Trace.median(xs) == 50.5)
    assert(Trace.tail(xs)._2 == 90.0)
    assert(Trace.percentile(xs, 100).isInfinite)
  }

  test("self time subtracts the union of child intervals, clipped to the parent") {
    val spans = Seq(
      Span(0, -1, "root", 1, 0, 100),
      Span(1, 0, "a", 1, 10, 30),
      Span(2, 0, "b", 1, 20, 50), // overlaps a: [10, 50] counted once
      Span(3, 0, "c", 1, 60, 70),
      Span(4, 0, "d", 1, 90, 120), // clipped to [90, 100]
      Span(5, 1, "a.child", 1, 12, 18),
      Span(6, -1, "other", 2, 0, 5))
    val self = Trace.selfTimes(spans)
    assert(self(0) == 100 - 40 - 10 - 10)
    assert(self(1) == 20 - 6)
    assert(self(2) == 30)
    assert(self(5) == 6)
    assert(self(6) == 5)
  }

  test("a disabled tracer records nothing; an enabled one records parents") {
    val off = new Tracer(false)
    assert(off.span("x", 0)(41 + 1) == 42)
    assert(off.spans.isEmpty)
    val on = new Tracer(true)
    on.span("outer", 7) { on.span("inner", 7)(()) }
    val byName = on.spans.map(s => s.name -> s).toMap
    assert(byName("inner").parent == byName("outer").id)
    assert(byName("outer").parent == -1)
    assert(byName("inner").req == 7)
  }
}
