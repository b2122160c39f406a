package graft.perfbench

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

/** One finished request: `due` is when it was meant to be sent (its send
  * time in a closed loop), so `end − due` is the latency a user sees. */
final case class Req(kind: Int, due: Long, start: Long, end: Long, ok: Boolean) {
  def latencyMs: Double = (end - due) / 1e6
}

/** Request generators. An operation gets the request's sequence number
  * and the id of the `request` span it runs under, and returns whether
  * its answer checked out; a throw counts as a failed request. */
object Loads {

  type Op = (Long, Long) => Boolean

  /** How long before a paced request's due time the dispatcher stops
    * parking and spins. */
  private val SpinNs = 1000000L

  private def runOne(i: Long, due: Long, kind: Int, op: Op, tracer: Tracer): Req = {
    val id = tracer.newId()
    val t0 = System.nanoTime()
    val ok = try op(i, id) catch { case _: Throwable => false }
    val t1 = System.nanoTime()
    tracer.record("request", 0L, i, t0, t1, id)
    Req(kind, if (due == 0L) t0 else due, t0, t1, ok)
  }

  private def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
    t
  }

  /** `clients` threads each send their next request when the previous one
    * has returned, until `seconds` have passed. */
  def closed(clients: Int, seconds: Double, seq: AtomicLong,
      kindOf: Long => Int, op: Op, tracer: Tracer): Seq[Req] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val bufs = Array.fill(clients)(new ArrayBuffer[Req](4096))
    val ts = (0 until clients).map { c =>
      thread(s"perfbench-client-$c") {
        while (System.nanoTime() < deadline) {
          val i = seq.getAndIncrement()
          bufs(c) += runOne(i, 0L, kindOf(i), op, tracer)
        }
      }
    }
    ts.foreach(_.join())
    bufs.toSeq.flatten
  }

  /** Open loop result: requests, plus how late (ms) the dispatcher handed
    * each request over relative to its schedule. */
  final case class Paced(reqs: Seq[Req], dispatchLagMs: Array[Double], unfinished: Int)

  /** One dispatcher releases a request every 1/`rate` s on a fixed
    * schedule; `senders` threads send them. A request that waits for a
    * free sender is still timed from when it was due. */
  def paced(senders: Int, rate: Double, seconds: Double, seq: AtomicLong,
      kindOf: Long => Int, op: Op, tracer: Tracer): Paced = {
    val interval = (1e9 / rate).toLong
    val q = new LinkedBlockingQueue[(Long, Long)]()
    val stop = (-1L, 0L)
    val lags = new ArrayBuffer[Double](math.max(16, (rate * seconds).toInt + 16))
    val bufs = Array.fill(senders)(new ArrayBuffer[Req](4096))
    val ts = (0 until senders).map { c =>
      thread(s"perfbench-sender-$c") {
        var running = true
        while (running) {
          val (i, due) = q.take()
          if (i < 0) running = false
          else bufs(c) += runOne(i, due, kindOf(i), op, tracer)
        }
      }
    }
    val t0 = System.nanoTime() + 1000000L
    val n = (rate * seconds).toLong
    var j = 0L
    while (j < n) {
      val due = t0 + j * interval
      // park until shortly before the due time, then spin: a parked
      // thread on a busy host can wake milliseconds late
      var now = System.nanoTime()
      while (now < due - SpinNs) { LockSupport.parkNanos(due - SpinNs - now); now = System.nanoTime() }
      while (now < due) { Thread.onSpinWait(); now = System.nanoTime() }
      q.put((seq.getAndIncrement(), due))
      lags += (System.nanoTime() - due) / 1e6
      j += 1
    }
    ts.foreach(_ => q.put(stop))
    // senders drain what is still queued; a sender stuck past the grace
    // period leaves its requests unfinished, and they count as failures
    val graceEnd = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    ts.foreach(t => t.join(math.max(1L, (graceEnd - System.nanoTime()) / 1000000L)))
    val done = bufs.synchronized(bufs.toSeq.flatten)
    Paced(done, lags.toArray, (n - done.length).toInt.max(0))
  }
}
