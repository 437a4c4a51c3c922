package lakebench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("percentile interpolates between closest ranks") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.5)
    assert(math.abs(Stats.percentile(xs, 90) - 9.1) < 1e-9)
    assert(Stats.percentile(xs, 0) == 1.0 && Stats.percentile(xs, 100) == 10.0)
    assert(Stats.percentile(xs.reverse, 50) == 5.5)
    assert(Stats.percentile(Seq(7.0), 90) == 7.0)
  }

  test("union length merges overlapping intervals and clips them to the window") {
    assert(Stats.unionLength(Seq((10L, 30L), (20L, 50L), (60L, 70L)), 0, 100) == 50)
    assert(Stats.unionLength(Seq((-5L, 5L), (95L, 120L)), 0, 100) == 10)
    assert(Stats.unionLength(Seq((10L, 20L), (10L, 20L), (12L, 15L)), 0, 100) == 10)
    assert(Stats.unionLength(Nil, 0, 100) == 0)
  }

  test("mix median weights each op kind's median by its share of the calls") {
    val r = new Run(None)
    Seq(1.0, 3.0, 2.0, 900.0).foreach(r.sample("write", "small", _))
    Seq(100.0, 101.0).foreach(r.sample("write", "big", _))
    // small: median 2.5 over 4 calls, big: median 100.5 over 2 calls
    assert(r.mixMedian("write").contains((4 * 2.5 + 2 * 100.5) / 6))
    assert(r.latencies("write").size == 6)
    assert(r.mixMedian("scan").isEmpty)
  }

  private def span(id: Int, parent: Int, a: Long, b: Long) = Span(id, s"s$id", parent, "r", a, b, (b - a) * 1000000L, 0)

  test("self time is the duration minus the union of the child spans") {
    val spans = Seq(span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 20, 50), span(4, 1, 90, 120), span(5, 2, 12, 14))
    val self = Tracer.selfMs(spans)
    assert(self(1) == 100 - (40 + 10))
    assert(self(2) == 20 - 2)
    assert(self(5) == 2)
  }

  test("driver time is the span minus the union of its jobs") {
    val w = new SpanWork
    w.jobIntervals ++= Seq((10L, 40L), (30L, 60L), (200L, 300L))
    assert(Tracer.driverMs(span(1, 0, 0, 100), w) == 100 - 50)
  }
}
