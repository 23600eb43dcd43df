package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {

  test("union of intervals counts overlaps once and ignores empty ones") {
    assert(Tracer.unionUs(Seq((0L, 10L), (5L, 15L), (20L, 25L), (30L, 30L))) == 20L)
    assert(Tracer.unionUs(Nil) == 0L)
  }

  test("self time is a span's duration minus what its children cover") {
    val t = new Tracer(true)
    val root = t.attach("q", "query", "q1", 0, 100000)
    val c1 = t.attach("construct", "queries.construct", "q1", 0, 30000, parent = root)
    t.attach("collect", "action", "q1", 30000, 100000, parent = root)
    // a job inside construction attaches to the innermost span of its key
    t.attach("job 1", "scheduler", "q1", 10000, 20000)
    assert(t.all.find(_.name == "job 1").get.parent == c1)
    val self = t.selfMsByLayer
    assert(self("query") == 0.0)
    assert(self("queries.construct") == 20.0)
    assert(self("scheduler") == 10.0)
    assert(self("action") == 70.0)
  }

  test("a disabled tracer records nothing") {
    val t = new Tracer(false)
    assert(t.span("x", "layer", "k")(41 + 1) == 42)
    assert(t.all.isEmpty)
  }
}
