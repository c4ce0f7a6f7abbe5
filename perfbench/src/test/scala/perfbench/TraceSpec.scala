package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def s(id: Long, parent: Long, name: String, start: Long, end: Long) =
    Span(id, parent, 1, name, start, end)

  test("self time subtracts the children's intervals") {
    val op = s(1, 0, "op", 0, 100)
    assert(Tracer.selfNs(op, Seq(s(2, 1, "plan", 0, 30), s(3, 1, "execute", 30, 90))) == 10)
  }

  test("overlapping children are counted once") {
    val job = s(1, 0, "job", 0, 100)
    val stages = Seq(s(2, 1, "stage", 10, 60), s(3, 1, "stage", 40, 80), s(4, 1, "stage", 85, 90))
    assert(Tracer.selfNs(job, stages) == 100 - 70 - 5)
  }

  test("children sticking out of the parent are clipped to it") {
    val exec = s(1, 0, "execute", 100, 200)
    assert(Tracer.selfNs(exec, Seq(s(2, 1, "job", 90, 150), s(3, 1, "job", 190, 260))) == 40)
    assert(Tracer.selfNs(exec, Seq(s(4, 1, "job", 0, 50))) == 100)
  }

  test("self times of a tree add up to the root's wall time") {
    val spans = Seq(
      s(1, 0, "op", 0, 1000),
      s(2, 1, "build", 0, 100), s(3, 1, "plan", 100, 250), s(4, 1, "execute", 250, 990),
      s(5, 4, "job", 300, 900), s(6, 5, "stage", 310, 600), s(7, 5, "stage", 600, 880))
    val self = Tracer.selfByName(spans)
    assert(self.values.sum == 1000)
    assert(self("op") == 10)
    assert(self("execute") == 740 - 600)
    assert(self("job") == 600 - 570)
    assert(self("stage") == 290 + 280)
  }

  test("a tracer that is off records nothing and passes values through") {
    val t = new Tracer(false)
    assert(t.span("op", 0, 1)(id => id + 41) == 41)
    assert(t.spans.isEmpty)
    val on = new Tracer(true)
    on.span("op", 0, 1)(id => on.span("plan", id, 1)(_ => ()))
    val Seq(plan, op) = on.spans
    assert(plan.parent == op.id && op.parent == 0)
  }
}
