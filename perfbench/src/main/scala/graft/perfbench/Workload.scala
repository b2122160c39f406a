package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, the seed that drives all of its
  * inputs, the measured seconds, the tracer (enabled only on traced runs)
  * and a scratch directory inside the build directory. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    tracer: Tracer, work: java.io.File, cpus: Int) {
  def traced: Boolean = tracer.enabled
}

/** A workload's result: metrics by name, and the operations attempted
  * and failed (an error, a timeout and a wrong answer each fail one). */
final class Outcome {
  import Outcome.Metric
  val metrics = mutable.LinkedHashMap[String, Metric]()
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer[String]()

  def put(name: String, value: Double, unit: String, note: String = ""): Unit =
    metrics(name) = Metric(value, unit, note)

  /** Put a timing series' median and tail under `<p50Name>`/`<tailName>`. */
  def putSummary(p50Name: String, tailName: String, s: Stats.Summary): Unit = {
    put(p50Name, s.p50, "ms", s"n=${s.n}")
    if (tailName != null)
      put(tailName, s.tail, "ms", s"n=${s.n}, p${Json.num(s.tailP)}")
  }

  def op(ok: Boolean, what: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (problems.length < 20 && what.nonEmpty) problems += what
    }
  }

  def ops(reqs: Seq[Req], what: String): Unit = reqs.foreach(r => op(r.ok, what))
}

object Outcome {
  final case class Metric(value: Double, unit: String, note: String)
}

/** Host and JVM diagnostics over a timed window. */
final class Window {
  private val gc0 = Box.gcMs()
  private val ticks0 = Box.cpuTicks()
  Box.resetHeapPeak()
  def finish(o: Outcome): Unit = {
    o.put("jvm.gc_ms", Box.gcMs() - gc0, "ms")
    o.put("jvm.heap_peak_mb", Box.heapPeakMb(), "MB", "sum of the heap pools' peaks")
    o.put("box.steal_pct", Box.stealPct(ticks0, Box.cpuTicks()), "%")
    o.put("box.load_avg", Box.loadAvg(), "count")
  }
}

object Workload {
  def timedS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Requests per second over the span from the first send to the last
    * completion. */
  def qps(reqs: Seq[Req]): Double =
    if (reqs.isEmpty) 0.0
    else reqs.length / ((reqs.map(_.end).max - reqs.map(_.start).min) / 1e9)

  /** Share of paced requests answered correctly within `sloMs` of being
    * due; requests that never finished count as misses. */
  def sloFrac(p: Loads.Paced, sloMs: Double): Double = {
    val n = p.reqs.length + p.unfinished
    if (n == 0) 0.0 else p.reqs.count(r => r.ok && r.latencyMs <= sloMs).toDouble / n
  }

  /** The reference service's search latency bar. */
  val SloMs = 20.0

  /** Metrics shared by both workloads' loops: closed-loop throughput and
    * latency over every closed-loop request; paced latency, SLO share and
    * filtered latency from the paced phase, where queueing behind the
    * closed loop's saturating load does not dominate. */
  def loopMetrics(o: Outcome, closed: Seq[Req], paced: Loads.Paced): Unit = {
    o.put("search_qps", qps(closed), "1/s", s"n=${closed.length}")
    o.putSummary("search_p50_ms", "search_p99_ms",
      Stats.summarize(closed.map(_.latencyMs).toArray))
    o.putSummary("filtered_p50_ms", null,
      Stats.summarize(paced.reqs.filter(_.kind == 1).map(_.latencyMs).toArray))
    o.putSummary("paced_p50_ms", "paced_p99_ms",
      Stats.summarize(paced.reqs.map(_.latencyMs).toArray))
    o.put("paced_slo_frac", sloFrac(paced, SloMs), "frac",
      s"n=${paced.reqs.length + paced.unfinished}, within ${SloMs.toInt} ms")
    o.putSummary("gen.lag_p50_ms", "gen.lag_p99_ms", Stats.summarize(paced.dispatchLagMs))
  }

}
