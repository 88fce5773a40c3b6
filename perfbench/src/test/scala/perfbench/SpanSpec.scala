package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {

  private def span(id: Int, name: String, parent: Int, s: Long, e: Long) =
    Span(id, name, 1, parent, s, e)

  test("union merges overlapping and touching intervals") {
    assert(Span.union(Seq((5L, 8L), (0L, 2L), (1L, 3L), (8L, 9L))) ===
      Seq((0L, 3L), (5L, 9L)))
    assert(Span.coveredNs(Seq((0L, 10L), (5L, 20L)), 2L, 12L) === 10L)
  }

  test("self time is the span minus what its children cover") {
    val root = span(1, "op.x", -1, 0, 100)
    val kids = Seq(span(2, "plan.a", 1, 10, 30), span(3, "exec.b", 1, 25, 60))
    assert(Span.selfIntervals(root, kids) === Seq((0L, 10L), (60L, 100L)))
    // a child reaching outside its parent only covers the overlap
    assert(Span.selfIntervals(root, Seq(span(4, "exec.c", 1, 90, 150))) ===
      Seq((0L, 90L)))
  }

  test("layer self times of a nested op sum to its wall time") {
    val spans = Seq(
      span(1, "lake.q", -1, 0, 100),
      span(2, "plan.front_door", 1, 0, 20),
      span(3, "exec.collect", 1, 20, 100),
      // two concurrent jobs inside the collect: the exec layer counts the
      // time either runs once
      span(4, "exec.job", 3, 30, 70),
      span(5, "exec.job", 3, 50, 90))
    val layers = Span.layerTimes(spans)
    assert(layers === Map("lake" -> 0L, "plan" -> 20L, "exec" -> 80L))
    assert(layers.values.sum === 100L)
  }

  test("a job outside its op shows up as a self-time excess") {
    val spans = Seq(span(1, "ingest.trigger", -1, 0, 100),
      span(2, "exec.job", 1, 50, 130))
    val layers = Span.layerTimes(spans)
    assert(layers("ingest") === 50L)
    assert(layers("exec") === 80L)
    assert(layers.values.sum - 100L === 30L)
  }
}
