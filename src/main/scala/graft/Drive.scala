package graft

import java.io.IOException
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try, Using}
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The one load driver behind every measurement main: the session, the
  * client loops (closed, open burst, paced, background), percentiles, the
  * steal window, and the shard-worker spawn. A probe is a configuration
  * of these; none keeps its own copy. Latencies are milliseconds. */
object Drive {

  /** How long a paced or burst drive waits for its slowest request. */
  val Timeout: FiniteDuration = 10.minutes

  /** The p-quantile of an ascending array by the (n − 1)·p index rule,
    * rounded to 1/scale. */
  def pct(sorted: Array[Double], p: Double, scale: Double = 10): Double =
    math.rint(sorted(((sorted.length - 1) * p).toInt) * scale) / scale

  /** `body`'s result and its wall seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Collector time this JVM has spent so far, ms. */
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum

  /** `clients` threads each run `client(c, lats)` to completion on a pool
    * that is shut down even when one throws (no client outlives a failed
    * drive). Returns (wall seconds, ascending latencies). */
  private def clientPool(clients: Int)(
      client: (Int, ConcurrentLinkedQueue[Double]) => Unit): (Double, Array[Double]) = {
    val pool = Executors.newFixedThreadPool(clients)
    val lats = new ConcurrentLinkedQueue[Double]()
    val t0 = System.nanoTime()
    val secs =
      try {
        (0 until clients)
          .map(c => pool.submit(new Runnable { def run(): Unit = client(c, lats) }))
          .foreach(_.get())
        (System.nanoTime() - t0) / 1e9
      } finally pool.shutdownNow()
    (secs, lats.asScala.toArray.sorted)
  }

  private def sinceMs(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Closed loop: `clients` threads each issue `perClient` requests, each
    * awaiting the previous one. `op(client, i)` gets the global index
    * i = client·perClient + j. Returns (wall seconds, ascending
    * latencies). */
  def closed(clients: Int, perClient: Int)(
      op: (Int, Int) => Unit): (Double, Array[Double]) =
    clientPool(clients) { (c, lats) =>
      var j = 0
      while (j < perClient) {
        val s0 = System.nanoTime()
        op(c, c * perClient + j)
        lats.add(sinceMs(s0))
        j += 1
      }
    }

  /** Open burst: each of `clients` threads fires all `perClient` requests
    * (global index as in [[closed]]) and then awaits them in order, so
    * latency from submit to completion includes the queue wait by
    * construction. Returns (wall seconds, ascending latencies). */
  def burst(clients: Int, perClient: Int)(
      submit: Int => Future[Any]): (Double, Array[Double]) =
    clientPool(clients) { (c, lats) =>
      val sent = (0 until perClient).map { j =>
        val s0 = System.nanoTime()
        (submit(c * perClient + j), s0)
      }
      sent.foreach { case (f, s0) => Await.result(f, Timeout); lats.add(sinceMs(s0)) }
    }

  /** Paced open loop: request i is due 20 ms + i/rate after the call, is
    * sent at its due time, and its latency is measured from that due time
    * (a stalled server cannot slow the offered load and hide its own
    * queueing). When `trace` is non-null (length ≥ total) each latency is
    * also stored at its scheduled index. Throws when any request is still
    * outstanding `timeout` after the last send, or failed: percentiles
    * over a partial array would understate the tail. Returns ascending
    * latencies. */
  def paced(rate: Double, total: Int, timeout: FiniteDuration = Timeout,
      trace: Array[Double] = null)(submit: Int => Future[Any]): Array[Double] =
    pace(rate, total, timeout, trace)((i, done) =>
      submit(i).onComplete(done)(ExecutionContext.global))

  /** [[paced]] for a blocking `op`: each due request runs on one of
    * `workers` threads. */
  def pacedBlocking(rate: Double, total: Int, workers: Int,
      timeout: FiniteDuration = Timeout)(op: Int => Unit): Array[Double] = {
    val pool = Executors.newFixedThreadPool(workers)
    try pace(rate, total, timeout, null)((i, done) =>
      pool.execute(() => done(Try(op(i)))))
    finally pool.shutdownNow()
  }

  private def pace(rate: Double, total: Int, timeout: FiniteDuration,
      trace: Array[Double])(fire: (Int, Try[Any] => Unit) => Unit): Array[Double] = {
    val lats = new ConcurrentLinkedQueue[Double]()
    val failure = new AtomicReference[Throwable]()
    val done = new CountDownLatch(total)
    val interval = (1e9 / rate).toLong
    val start = System.nanoTime() + 20000000L
    var i = 0
    while (i < total) {
      val sched = start + i.toLong * interval
      val idx = i
      var now = System.nanoTime()
      while (now < sched) {
        val left = sched - now
        if (left > 2000000L) Thread.sleep(left / 1000000L - 1)
        else Thread.onSpinWait()
        now = System.nanoTime()
      }
      fire(i, { r =>
        val lat = sinceMs(sched)
        r match {
          case Failure(e) => failure.compareAndSet(null, e)
          case _ =>
            lats.add(lat)
            if (trace != null) trace(idx) = lat
        }
        done.countDown()
      })
      i += 1
    }
    if (!done.await(timeout.toMillis, TimeUnit.MILLISECONDS))
      sys.error(s"paced: ${done.getCount} of $total responses still " +
        s"outstanding after $timeout — server wedged, aborting drive")
    if (failure.get != null)
      throw new IllegalStateException("paced: a request failed", failure.get)
    lats.asScala.toArray.sorted
  }

  /** A closed loop left running while the caller acts on the system under
    * load (reload, kill). Failures are counted, not thrown: surviving the
    * action is what such a scenario measures. */
  final class Background(clients: Int)(op: () => Unit) {
    private val running = new AtomicBoolean(true)
    private val samples = new ConcurrentLinkedQueue[(Long, Long)]()
    private val errors = new AtomicInteger(0)
    private val threads = (0 until clients).map { _ =>
      val t = new Thread(() => while (running.get()) {
        val t0 = System.nanoTime()
        try { op(); samples.add((t0, System.nanoTime() - t0)) }
        catch { case _: Throwable => errors.incrementAndGet() }
      })
      t.setDaemon(true); t.start(); t
    }

    /** Stops the clients; returns (start ns, latency ns) of every
      * completed request and the failure count. */
    def stop(): (Seq[(Long, Long)], Int) = {
      running.set(false)
      threads.foreach(_.join(2000))
      (samples.asScala.toSeq, errors.get())
    }
  }

  /** The dispatch ceiling in jobs/s, 1 dp: `clients` threads each run 50
    * of the cheapest job there is — a count over a pinned 1-partition RDD
    * — after 50 warm jobs; the JVM-wide bound on any one-job-per-request
    * tier. `closureKiB > 0` captures a blob of that size in every job's
    * closure: a real plan's task binary is hundreds of KB, serialized and
    * broadcast per job in the single-threaded DAGScheduler loop. */
  def jobCeiling(spark: SparkSession, clients: Int, closureKiB: Int = 0): Double = {
    val bare = spark.sparkContext.parallelize(1 to 100, 1).cache()
    val blob: Array[Byte] =
      Array.tabulate(closureKiB * 1024)(i => (i % 251).toByte)
    def onceJob(): Unit =
      if (closureKiB == 0) bare.count()
      else { val b = blob; bare.mapPartitions { it =>
        if (b.length > 1 && b(1) == 127) Iterator.empty else it }.count() }
    val (secs, _) =
      try {
        (0 until 50).foreach(_ => onceJob())
        closed(clients, 50)((_, _) => onceJob())
      } finally bare.unpersist()
    math.rint(clients * 50 / secs * 10) / 10
  }

  /** (steal, total) jiffies from /proc/stat's aggregate cpu line; (0, 0)
    * where it is unreadable (non-Linux). */
  private[graft] def cpuJiffies(): (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+")
      val nums = f.drop(1).map(_.toLong)
      (if (nums.length > 7) nums(7) else 0L, nums.sum)
    } finally src.close()
  } catch { case _: Throwable => (0L, 0L) }

  /** 1-minute loadavg, -1 when unavailable. */
  private[graft] def loadAvg(): Double = try {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.getLines().next().split(" ")(0).toDouble finally src.close()
  } catch { case _: Throwable => -1.0 }

  /** `body`'s result and the hypervisor steal share of its window in
    * percent (2 dp), -1 when /proc/stat is unreadable. On a shared host
    * steal is the difference between a 2.3k-QPS and a 600-QPS capture of
    * identical code, so it rides next to the numbers it explains. */
  def withSteal[T](body: => T): (T, Double) = {
    val j0 = cpuJiffies()
    val r = body
    val j1 = cpuJiffies()
    val dt = j1._2 - j0._2
    (r, if (dt <= 0) -1.0 else math.rint(10000.0 * (j1._1 - j0._1) / dt) / 100)
  }

  /** The measurement mains' session: local[cpus], shuffle partitions =
    * cpus, UTC, UI off, WARN logging, then each main's `extra` confs. */
  def session(cpus: String, extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Starts a `graft.ShardWorker` JVM on this JVM's classpath with the
    * vector module and heap `xmx`; stdout and stderr go to `log`, or are
    * discarded when it is null. */
  def spawnWorker(xmx: String, args: Seq[String],
      log: java.io.File = null): Process = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    new ProcessBuilder((Seq(javaBin, "--add-modules=jdk.incubator.vector",
      s"-Xmx$xmx", "-cp", cp, "graft.ShardWorker") ++ args).asJava)
      .redirectOutput(
        if (log == null) ProcessBuilder.Redirect.DISCARD
        else ProcessBuilder.Redirect.to(log))
      .redirectErrorStream(true)
      .start()
  }

  /** Stops `p` gracefully: SIGTERM (`destroy`), up to `grace` for it to
    * exit, then SIGKILL (`destroyForcibly`). A JVM child gets the grace
    * period to run its shutdown hooks (Spark deletes its block-manager
    * dirs there, a shard worker prints its `LAP` line); a child that
    * ignores SIGTERM is killed once it has passed. */
  def stop(p: Process, grace: FiniteDuration): Unit = {
    p.destroy()
    val exited =
      try p.waitFor(grace.toMillis, TimeUnit.MILLISECONDS)
      catch { case _: InterruptedException => Thread.currentThread().interrupt(); false }
    if (!exited) {
      p.destroyForcibly()
      try p.waitFor(5, TimeUnit.SECONDS)
      catch { case _: InterruptedException => Thread.currentThread().interrupt() }
    }
  }

  /** `attempt` retried while it throws an IOException — 120 tries, 500 ms
    * apart — for a worker that is still loading its slab. */
  def whenUp[T](attempt: => T): T = {
    def go(retries: Int): T =
      try attempt
      catch {
        case _: IOException if retries > 0 =>
          Thread.sleep(500)
          go(retries - 1)
      }
    go(120)
  }

  /** Deletes `dir` and everything under it. Best effort: whatever cannot
    * be deleted is left behind. */
  def deleteTree(dir: String): Unit =
    try Using.resource(Files.walk(Paths.get(dir))) { paths =>
      paths.sorted(Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(p => try Files.deleteIfExists(p)
          catch { case _: IOException => () })
    } catch { case NonFatal(_) => () }
}
