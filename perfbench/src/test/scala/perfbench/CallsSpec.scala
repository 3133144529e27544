package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CallsSpec extends AnyFunSuite {

  test("a call that returns is timed") {
    val calls = new Calls(new Tracer)
    val r = calls("ok")(41 + 1)
    assert(r.map(_._1).contains(42) && r.exists(_._2 >= 0))
    assert(calls.attempted == 1 && calls.failed == 0)
  }

  test("a thrown call counts as failed and is not timed") {
    val calls = new Calls(new Tracer)
    val r = calls("boom")(throw new IllegalStateException("boom"))
    assert(r.isEmpty)
    assert(calls.attempted == 1 && calls.failed == 1)
    assert(calls.errors.head.contains("boom"))
  }

  test("a failed nested call fails its caller but counts once") {
    val tracer = new Tracer
    tracer.enabled = true
    val calls = new Calls(tracer)
    val r = calls("outer") {
      calls.nested("inner")(throw new RuntimeException("inner"))
    }
    assert(r.isEmpty)
    assert(calls.attempted == 2 && calls.failed == 1)
    // both spans still closed and recorded
    assert(tracer.spans.map(_.name) == Seq("outer", "inner"))
  }

  test("spans nest and record their parent") {
    val tracer = new Tracer
    tracer.enabled = true
    tracer.span("a")(tracer.span("b")(()))
    val Seq(a, b) = tracer.spans
    assert(a.parent.isEmpty && b.parent.contains(a.id))
    assert(a.startNs <= b.startNs && b.endNs <= a.endNs)
  }

  test("a disabled tracer records nothing") {
    val tracer = new Tracer
    tracer.span("a")(())
    assert(tracer.spans.isEmpty)
  }
}
