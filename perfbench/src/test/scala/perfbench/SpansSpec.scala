package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {
  test("self time subtracts the union of the children's cover, clamped to the parent") {
    val spans = Seq(
      Span(1, 0, "trigger", "t", 0, 100),
      Span(2, 1, "job", "a", 10, 40),
      Span(3, 1, "job", "b", 30, 60),     // overlaps a: 10..60 covered once
      Span(4, 1, "job", "c", 90, 130),    // runs past the parent: 90..100 counts
      Span(5, 2, "put", "p", 15, 20))
    val self = Spans.selfTimes(spans)
    assert(self(1) == 100 - 50 - 10)
    assert(self(2) == 30 - 5)
    assert(self(3) == 30)
    assert(self(4) == 40)
    assert(self(5) == 5)
    val byLayer = Spans.selfMsByLayer(spans)
    assert(byLayer("job") == (25 + 30 + 40) / 1e6)
  }

  test("a disabled recorder records nothing and still runs the body") {
    val s = new Spans(false)
    assert(s.around(0L, "x", "y")(_ => 42) == 42)
    assert(s.spans.isEmpty)
    val on = new Spans(true)
    on.around(0L, "x", "outer") { id => on.around(id, "y", "inner")(_ => ()) }
    val Seq(inner, outer) = on.spans.sortBy(_.layer).reverse
    assert(inner.parent == outer.id && outer.parent == 0L)
  }
}
