package graftbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  test("covered counts overlapping intervals once and clips to the span") {
    assert(Spans.covered(0, 100, Nil) == 0)
    assert(Spans.covered(0, 100, Seq((10L, 30L), (20L, 40L))) == 30)
    assert(Spans.covered(0, 100, Seq((10L, 30L), (50L, 60L))) == 30)
    assert(Spans.covered(0, 100, Seq((-50L, 10L), (90L, 150L))) == 20)
    assert(Spans.covered(0, 100, Seq((10L, 90L), (20L, 30L))) == 80)
    assert(Spans.covered(0, 100, Seq((200L, 300L))) == 0)
  }

  test("self time subtracts the union of overlapping children") {
    val parent = Span(1, 0, "t", "runner.batch", 0, 100)
    val a = Span(2, 1, "t", "spark.job", 10, 50)
    val b = Span(3, 1, "t", "spark.job", 30, 70) // overlaps a on [30, 50]
    val c = Span(4, 2, "t", "sql.exec", 20, 40) // grandchild, inside a
    val self = Spans.selfNs(Seq(parent, a, b, c))
    assert(self(1) == 100 - 60)
    assert(self(2) == 40 - 20)
    assert(self(3) == 40)
    assert(self(4) == 20)
    val byName = Spans.selfSecondsByName(Seq(parent, a, b, c))
    assert(math.abs(byName("spark.job") - 60e-9) < 1e-15)
  }

  test("listener spans join the innermost containing span of their trace") {
    val batch = Span(1, 0, "w/run/batch-0", "runner.batch", 0, 10000000)
    val commit = Span(2, 1, "w/run/batch-0", "sql.commit", 6000000, 10000000)
    val other = Span(3, 0, "w/run/batch-1", "runner.batch", 0, 10000000)
    val job = Span(4, 0, "w/run/batch-0", "spark.job", 5500000, 9000000)
    val adopted = Spans.adopt(Seq(batch, commit, other, job), _ == "spark.job")
    // starts 0.5 ms before the commit span: inside the millisecond slack
    assert(adopted.find(_.id == 4).get.parent == 2)
    val early = Span(5, 0, "w/run/batch-0", "spark.job", 1000000, 2000000)
    assert(Spans.adopt(Seq(batch, commit, early), _ == "spark.job")
      .find(_.id == 5).get.parent == 1)
  }

  test("a disabled tracer records nothing; an enabled one nests by thread") {
    val off = new Tracer(false)
    assert(off.span("x", "t")(42) == 42)
    assert(off.all.isEmpty)
    val on = new Tracer(true)
    on.span("outer", "t") { on.span("inner", "t")(()) }
    val outer = on.all.find(_.name == "outer").get
    val inner = on.all.find(_.name == "inner").get
    assert(inner.parent == outer.id && outer.parent == 0)
    assert(inner.startNs >= outer.startNs && inner.endNs <= outer.endNs)
  }
}
