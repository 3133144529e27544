package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {
  private def span(id: Long, start: Long, end: Long, parent: Option[Long] = None) =
    Span(id, s"s$id", parent, 0, start, 0L, end, 0L)

  test("self time without children is the duration") {
    assert(Span.selfNs(span(1, 100, 200), Nil) == 100)
  }

  test("disjoint children are subtracted") {
    val p = span(1, 0, 100)
    assert(Span.selfNs(p, Seq(span(2, 10, 20), span(3, 50, 80))) == 60)
  }

  test("overlapping children are subtracted once") {
    val p = span(1, 0, 100)
    assert(Span.selfNs(p, Seq(span(2, 10, 50), span(3, 30, 60), span(4, 55, 70))) == 40)
  }

  test("children are clipped to the parent") {
    val p = span(1, 100, 200)
    assert(Span.selfNs(p, Seq(span(2, 50, 120), span(3, 190, 260))) == 70)
    assert(Span.selfNs(p, Seq(span(4, 0, 50))) == 100)
  }

  test("a child covering the parent leaves no self time") {
    assert(Span.selfNs(span(1, 10, 20), Seq(span(2, 10, 20))) == 0)
  }

  test("coverage counts top-level spans only") {
    val spans = Seq(span(1, 0, 4000000000L), span(2, 0, 1000000000L, Some(1)))
    assert(Report.coverage(spans, 5.0) == 0.8)
  }
}
