package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Host and JVM readings: the validity diagnostics every run prints
  * (steal, load, GC) and the memory and CPU figures of the processes
  * under test. Linux `/proc` is read for other processes. */
object Box {

  private def readProc(path: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(path))))
    catch { case _: java.io.IOException => None }

  /** (steal ticks, total ticks) of the host's aggregate CPU line. */
  def cpuTicks(): (Long, Long) =
    readProc("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu "))) match {
      case Some(line) =>
        val f = line.trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      case None => (0L, 0L)
    }

  /** Steal share (%) between two [[cpuTicks]] readings. */
  def stealPct(a: (Long, Long), b: (Long, Long)): Double = {
    val total = b._2 - a._2
    if (total <= 0) 0.0 else 100.0 * (b._1 - a._1) / total
  }

  def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Peak resident set (VmHWM) of a process, MB; 0 when unreadable. */
  def peakRssMb(pid: Long): Double =
    readProc(s"/proc/$pid/status")
      .flatMap(_.linesIterator.find(_.startsWith("VmHWM:")))
      .map(l => l.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  def selfPid: Long = ProcessHandle.current().pid()

  /** User + system CPU time of a process, ms (clock ticks at 100 Hz). */
  def procCpuMs(pid: Long): Double =
    readProc(s"/proc/$pid/stat") match {
      case Some(s) =>
        // fields after the parenthesised command name; utime, stime are
        // the 14th and 15th fields of the whole line
        val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
        (rest(11).toLong + rest(12).toLong) * 10.0
      case None => 0.0
    }

  /** CPU time of this JVM, ms. */
  def selfCpuMs(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e6
      case _ => procCpuMs(selfPid)
    }

  /** Summed collection time of every collector of this JVM, ms. */
  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Summed peak usage of the heap pools since the last reset, MB. */
  def heapPeakMb(): Double =
    heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** CPU time per request while a closed loop runs. A sampler thread reads
  * a CPU-time clock (ms) and the count of requests sent every
  * [[CpuWindows.PeriodMs]]; the figure is the median over the windows
  * between samples, so a burst of garbage collection, compilation or
  * host noise in one window moves it little. */
final class CpuWindows(cpuMs: () => Double, sent: () => Long) {
  private val samples = ArrayBuffer((cpuMs(), sent()))
  private val running = new AtomicBoolean(true)
  private val thread = new Thread(() => {
    while (running.get()) {
      try Thread.sleep(CpuWindows.PeriodMs) catch { case _: InterruptedException => }
      if (running.get()) {
        val s = (cpuMs(), sent())
        samples.synchronized(samples += s)
      }
    }
  }, "perfbench-cpu-windows")
  thread.setDaemon(true)
  thread.start()

  /** Stops sampling and returns the median CPU ms per request over the
    * full windows, with the window count; a loop shorter than one window
    * gives its whole-loop figure and a count of 0. */
  def stop(): (Double, Int) = {
    val end = (cpuMs(), sent())
    running.set(false)
    thread.interrupt()
    thread.join()
    val s = samples.synchronized(samples.toSeq)
    val w = CpuWindows.perRequest(s)
    if (w.nonEmpty) (Stats.median(w), w.length)
    else (CpuWindows.perRequest(Seq(s.head, end)).headOption.getOrElse(0.0), 0)
  }
}

object CpuWindows {
  val PeriodMs = 500L

  /** CPU ms per request of each window between consecutive (CPU ms,
    * requests sent) samples; a window in which nothing was sent has no
    * figure. */
  def perRequest(samples: Seq[(Double, Long)]): Seq[Double] =
    samples.sliding(2).collect {
      case Seq((c0, n0), (c1, n1)) if n1 > n0 => (c1 - c0) / (n1 - n0)
    }.toSeq
}
