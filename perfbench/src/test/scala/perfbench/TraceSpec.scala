package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Long, parent: Long, layer: String, start: Long, end: Long) =
    Span(id, parent, layer, s"s$id", start, end)

  test("union length merges overlaps and ignores empty intervals") {
    assert(Trace.unionLength(Nil) == 0)
    assert(Trace.unionLength(Seq((0L, 10L))) == 10)
    assert(Trace.unionLength(Seq((5L, 15L), (0L, 10L), (20L, 25L))) == 20)
    assert(Trace.unionLength(Seq((0L, 10L), (2L, 3L))) == 10)
    assert(Trace.unionLength(Seq((4L, 4L), (6L, 5L))) == 0)
    assert(Trace.unionLength(Seq((0L, 5L), (5L, 8L))) == 8)
  }

  test("self time is duration minus the part children cover") {
    val spans = Seq(
      span(1, 0, "streaming", 0, 100),   // root request
      span(2, 1, "jobs", 10, 60),        // job call
      span(3, 2, "spark", 20, 30),       // two Spark jobs inside it,
      span(4, 2, "spark", 25, 40),       //   overlapping each other
      span(5, 1, "sources", 70, 90),     // upsert
      span(6, 5, "spark", 85, 95))       // a job that outlives its span
    val self = Trace.selfTimeByLayer(spans)
    assert(self("streaming") == 100 - 50 - 20)
    assert(self("jobs") == 50 - 20)
    assert(self("sources") == 20 - 5)
    assert(self("spark") == 10 + 15 + 10)
    // the layers add up to the root, plus what sibling Spark jobs overlap
    // (25..30) and what a child spends outside its parent (90..95)
    assert(self.values.sum == 100 + 5 + 5)
  }

  test("recorded spans nest per thread and fall back to the root") {
    val t = new Trace(None)
    t.enabled = true
    t.rootSpan("bench", "pass") {
      t.span("entry", "outer")(t.span("entry", "inner")(()))
      val other = new Thread(() => t.span("streaming", "elsewhere")(()))
      other.start(); other.join()
    }
    val byName = t.all.map(s => s.name -> s).toMap
    assert(byName("pass").parent == 0)
    assert(byName("outer").parent == byName("pass").id)
    assert(byName("inner").parent == byName("outer").id)
    assert(byName("elsewhere").parent == byName("pass").id)
    t.enabled = false
    t.rootSpan("bench", "untraced")(t.span("entry", "x")(()))
    assert(t.all.size == 4)
  }
}
