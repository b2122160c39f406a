package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic: the percentile rule, span self time
  * and coverage, CPU per request per window, and the exact oracle's
  * ranking contract. */
class ArithmeticSpec extends AnyFunSuite {

  private def span(id: Long, parent: Long, start: Long, end: Long, name: String = "s") =
    Span(id, parent, 0L, name, start, end)

  test("nearest-rank percentiles") {
    val xs = (1 to 1000).map(_.toDouble).toArray
    assert(Stats.percentile(xs, 50.0) == 500.0)
    assert(Stats.percentile(xs, 99.0) == 990.0)
    assert(Stats.percentile(xs, 99.9) == 999.0)
    assert(Stats.percentile(Array(7.0), 99.0) == 7.0)
    assert(Stats.rank(3, 50.0) == 2)
  }

  test("a tail percentile needs ten samples beyond it") {
    // 1000 samples: rank 990 leaves exactly 10 beyond p99
    assert(Stats.beyond(1000, 99.0) == 10)
    assert(Stats.tailPercentile(1000, 99.0).contains(99.0))
    // 999 samples: rank 990 leaves 9, so p99 falls back to p98
    assert(Stats.beyond(999, 99.0) == 9)
    assert(Stats.tailPercentile(999, 99.0).contains(98.0))
    // 10 000 samples admit p99.9 when asked for it
    assert(Stats.tailPercentile(10000, 99.9).contains(99.9))
    // 20 samples: only the median has ten beyond it
    assert(Stats.tailPercentile(20, 99.0).contains(50.0))
    assert(Stats.tailPercentile(10, 99.0).isEmpty)
  }

  test("summaries report the percentile used and the count") {
    val s = Stats.summarize((1 to 500).map(_.toDouble).toArray)
    assert(s.n == 500 && s.p50 == 250.0)
    assert(s.tailP == 98.0 && s.tail == 490.0)
    val few = Stats.summarize(Array(3.0, 1.0, 2.0))
    assert(few.tailP == 100.0 && few.tail == 3.0 && few.p50 == 2.0)
    assert(Stats.summarize(Array.empty[Double]).n == 0)
  }

  test("CPU per request is taken per window, skipping windows with no requests") {
    val samples = Seq((0.0, 0L), (400.0, 100L), (900.0, 200L), (950.0, 200L), (1250.0, 300L))
    assert(CpuWindows.perRequest(samples) == Seq(4.0, 5.0, 3.0))
    assert(Stats.median(CpuWindows.perRequest(samples)) == 4.0)
    assert(CpuWindows.perRequest(Seq((5.0, 7L))).isEmpty)
  }

  test("covered length is the union of clipped intervals") {
    assert(Trace.covered(0, 100, Seq((10L, 20L), (15L, 30L), (50L, 60L))) == 30)
    assert(Trace.covered(0, 100, Seq((-10L, 5L), (95L, 200L))) == 10)
    assert(Trace.covered(0, 100, Seq((20L, 30L), (20L, 30L))) == 10)
    assert(Trace.covered(0, 100, Seq((10L, 90L), (20L, 30L))) == 80)
    assert(Trace.covered(0, 100, Seq.empty) == 0)
  }

  test("self time counts overlapping children once") {
    val p = span(1, 0, 0, 100)
    val kids = Seq(span(2, 1, 10, 40), span(3, 1, 30, 60), span(4, 1, 90, 120))
    // children cover [10,60) and [90,100): 60 of the parent's 100
    assert(Trace.selfTime(p, kids) == 40)
    assert(math.abs(Trace.coverage(p, kids) - 0.6) < 1e-12)
    val all = p +: kids :+ span(5, 2, 12, 20)
    val self = Trace.selfTimes(all)
    assert(self("s")._1 == 5)
    val byRoot = Trace.coverageByRoot(all)
    assert(math.abs(byRoot("s") - 0.6) < 1e-12)
  }

  test("the oracle ranks by rounded score, then id, above the threshold") {
    val rows = IndexedSeq(
      (5L, Array(1.0, 0.0), 1), (3L, Array(1.0, 0.0), 2),
      (9L, Array(0.0, 1.0), 1), (4L, Array(-1.0, 0.0), 1))
    val q = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val got = Oracle.topK(rows, q, Array(-1, 1), k = 2, th = 0.1)
    // equal scores tie-break on id; the anti-parallel row is below th
    assert(got(0).toSeq == Seq((3L, 1.0), (5L, 1.0)))
    // filtered to user 1: id 9 scores 1.0, ids 5 and 4 score 0 / -1
    assert(got(1).toSeq == Seq((9L, 1.0)))
    assert(Oracle.round6(0.1234565) == 0.123457)
  }
}
