package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed interval around a call the benchmark makes into a module.
  * `parent` is 0 for a root span; spans of one request share `req`. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder. Disabled, it only runs the body: the
  * end-to-end runs pay no allocation for it. Spans are written out once,
  * when the run ends ([[Tracer.dump]]). */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  def newId(): Long = if (enabled) ids.incrementAndGet() else 0L

  /** Time `body` as span `name`; `body` gets the new span's id so it can
    * parent its own children. */
  def span[T](name: String, parent: Long, req: Long)(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id)
      finally spans.add(Span(id, parent, req, name, t0, System.nanoTime()))
    }

  /** Record an interval measured elsewhere. */
  def record(name: String, parent: Long, req: Long, start: Long, end: Long,
      id: Long = -1L): Long =
    if (!enabled) 0L
    else {
      val sid = if (id > 0) id else ids.incrementAndGet()
      spans.add(Span(sid, parent, req, name, start, end))
      sid
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Write every span as one JSON object per line. */
  def dump(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Span arithmetic: self time and child coverage. */
object Trace {

  /** Length of the union of `intervals`, each clipped to [lo, hi). */
  def covered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's duration minus the part of it its children cover; children
    * that overlap each other are counted once. */
  def selfTime(parent: Span, children: Seq[Span]): Long =
    parent.dur - covered(parent.start, parent.end, children.map(c => (c.start, c.end)))

  /** Share of a span its children cover (1 for an empty span). */
  def coverage(parent: Span, children: Seq[Span]): Double =
    if (parent.dur <= 0) 1.0
    else covered(parent.start, parent.end,
      children.map(c => (c.start, c.end))).toDouble / parent.dur

  /** Per root-span name: the share of the summed root time that the roots'
    * direct children cover. */
  def coverageByRoot(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.filter(_.parent != 0).groupBy(_.parent)
    spans.filter(_.parent == 0).groupBy(_.name).map { case (name, roots) =>
      val dur = roots.map(_.dur).sum
      val cov = roots.map(r => covered(r.start, r.end,
        kids.getOrElse(r.id, Seq.empty).map(c => (c.start, c.end)))).sum
      name -> (if (dur <= 0) 1.0 else cov.toDouble / dur)
    }
  }

  /** Per span name: (count, summed duration ns, summed self time ns). */
  def selfTimes(spans: Seq[Span]): Map[String, (Int, Long, Long)] = {
    val kids = spans.filter(_.parent != 0).groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ((ss.length, ss.map(_.dur).sum,
        ss.map(s => selfTime(s, kids.getOrElse(s.id, Seq.empty))).sum))
    }
  }

  /** Nanoseconds one enabled [[Tracer.span]] costs, measured on a scratch
    * tracer: the per-span overhead the traced run adds to a request. */
  def costPerSpanNs(n: Int = 200000): Double = {
    val warm = new Tracer(true)
    (0 until n / 2).foreach(i => sink += warm.span("w", 0, i)(_ => i))
    val t = new Tracer(true)
    val t0 = System.nanoTime()
    (0 until n).foreach(i => sink += t.span("x", 0, i)(_ => i))
    (System.nanoTime() - t0).toDouble / n
  }
  /** Keeps the timed span bodies from being optimized away. */
  @volatile private var sink = 0L
}
