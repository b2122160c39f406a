package graft.perfbench

import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.util.Random

import graft.{BatchedServer, CrossProc, RemoteShardedRouter, ShardWorker, SlabIO}

/** `search_xproc`: exact-float search through [[RemoteShardedRouter]]
  * against [[ShardWorker]] processes, one per shard slab.
  *
  * 264,000 × 64 clustered rows exceed the 2^18-row replica cap, so they
  * split into two slabs (~67 MB each). Requests are 80% unfiltered
  * searches and 20% single-user filtered searches, each query a stored
  * row perturbed by 10% noise. A closed loop of `cpus` clients runs for
  * a third of the measured time, then an open loop paced at [[PacedRate]]
  * (about 40% of the closed loop's capacity at the seed, and well below
  * it in the host's slow spells) for the rest. */
object Xproc {
  val Rows = 264000L
  val Dim = 64
  val K = 10
  val Th = 0.1
  val PacedRate = 80.0
  /** Share of the measured seconds for the closed loop; the paced loop
    * gets the rest, enough for 1,000 samples at [[PacedRate]]. */
  val ClosedShare = 1.0 / 3
  val FilteredShare = 0.2
  val SetupReps = 3
  /** Untimed requests at the closed loop's concurrency, after a
    * collection of set-up's garbage: CPU per request keeps falling for
    * 4–5 s of load while the workers and the router compile their hot
    * paths, then levels off. */
  val WarmS = 6.0
  val PoolSize = 4096

  private final case class Query(row: Int, q: Array[Double], filtered: Boolean)

  def run(ctx: Ctx): Outcome = {
    val o = new Outcome
    val spark = ctx.spark
    import spark.implicits._
    val dir = new java.io.File(ctx.work, "xproc")
    dir.mkdirs()

    val (rows, fixtureS) = Workload.timedS {
      CrossProc.clusteredPoints(spark, Rows, Dim, seed = ctx.seed)
        .as[(Long, Array[Double], Int)].collect().sortBy(_._1)
    }
    o.put("setup.fixture_s", fixtureS, "s")
    val nShards = ((Rows + BatchedServer.DefaultReplicaMaxRows - 1) /
      BatchedServer.DefaultReplicaMaxRows).toInt
    val shardRows = (0 until nShards).map(s => rows.filter(_._1 % nShards == s))

    // Set-up, repeated: write the slabs, start the workers, connect. The
    // last repetition's workers serve the run.
    val workers = new Workers(ctx)
    var router: RemoteShardedRouter = null
    val reps = (0 until SetupReps).map { rep =>
      if (router != null) { router.close(); workers.stopAll() }
      val (slabs, indexS) = Workload.timedS {
        shardRows.indices.map { s =>
          val p = new java.io.File(dir, s"rep${rep}_shard_$s.slab").getPath
          SlabIO.write(p, shardRows(s))
          p
        }
      }
      val (r, workersS) = Workload.timedS {
        val ports = slabs.map(workers.launch)
        workers.connect(ports, K, ctx.cpus)
      }
      router = r
      (indexS, workersS, slabs)
    }
    try {
      o.put("setup_s", Stats.median(reps.map(r => r._1 + r._2)), "s",
        s"median of $SetupReps set-ups: slab write + worker start")
      o.put("setup.index_s", Stats.median(reps.map(_._1)), "s")
      o.put("setup.workers_s", Stats.median(reps.map(_._2)), "s")
      val slabs = reps.last._3
      measure(ctx, o, router, workers, rows, slabs)
    } finally {
      router.close()
      workers.stopAll()
      dir.listFiles().foreach(_.delete())
    }
    o
  }

  private def measure(ctx: Ctx, o: Outcome, router: RemoteShardedRouter,
      workers: Workers, rows: Array[(Long, Array[Double], Int)],
      slabs: Seq[String]): Unit = {
    val tr = ctx.tracer
    val rnd = new Random(ctx.seed * 31 + 7)
    val pool = Array.fill(PoolSize) {
      val row = rnd.nextInt(rows.length)
      Query(row, Oracle.perturb(rows(row)._2, rnd), rnd.nextDouble() < FilteredShare)
    }
    def kindOf(i: Long): Int = if (pool((i % PoolSize).toInt).filtered) 1 else 0
    val op: Loads.Op = (i, parent) => {
      val e = pool((i % PoolSize).toInt)
      val (id, _, user) = rows(e.row)
      val hits =
        if (e.filtered)
          tr.span("router.searchFiltered", parent, i)(_ => router.searchFiltered(e.q, Array(user)))
        else tr.span("router.search", parent, i)(_ => router.search(e.q))
      hits.nonEmpty && hits(0)._1 == id
    }
    val seq = new AtomicLong(0)

    val (warm, warmS) = Workload.timedS {
      System.gc()
      Loads.closed(ctx.cpus, WarmS, seq, kindOf, op, new Tracer(false))
    }
    o.ops(warm, "warm-up answer wrong")
    o.put("setup.warm_s", warmS, "s")

    val win = new Window
    val cpu0 = (workers.cpuMs(), Box.selfCpuMs())
    val cpu = new CpuWindows(() => workers.cpuMs() + Box.selfCpuMs(), () => seq.get())
    val closed = try Loads.closed(ctx.cpus, ClosedShare * ctx.seconds, seq, kindOf, op, tr)
      finally {
        val (perReq, windows) = cpu.stop()
        o.put("search_cpu_ms_per_req", perReq, "ms", "closed loop: CPU time of the workers " +
          s"and the benchmark JVM per request, median of $windows windows")
      }
    val cpu1 = (workers.cpuMs(), Box.selfCpuMs())
    val paced = Loads.paced(ctx.cpus - 1, PacedRate, (1 - ClosedShare) * ctx.seconds, seq, kindOf, op, tr)
    win.finish(o)
    o.ops(closed, "closed-loop answer wrong")
    o.ops(paced.reqs, "paced answer wrong")
    (0 until paced.unfinished).foreach(_ => o.op(ok = false, "paced request unfinished"))
    Workload.loopMetrics(o, closed, paced)

    // The router must equal an exact scan over both slabs' rows.
    val checkRnd = new Random(ctx.seed * 17 + 3)
    val sample = Array.fill(48)(rnd.nextInt(rows.length))
    val qs = sample.map(r => Oracle.perturb(rows(r)._2, checkRnd))
    val users = sample.indices.map(j => if (j < 32) -1 else rows(sample(j))._3).toArray
    val exact = Oracle.topK(rows, qs, users, K, Th)
    val got = sample.indices.map { j =>
      val hits = try {
        if (users(j) < 0) router.search(qs(j)) else router.searchFiltered(qs(j), Array(users(j)))
      } catch { case _: Throwable => null }
      o.op(hits != null && hits.map(h => (h._1, h._2)).toSeq == exact(j).toSeq,
        s"router answer differs from the exact scan (query $j)")
      if (hits == null) Array.empty[Long] else hits.map(_._1)
    }
    o.put("recall_at_10", Oracle.recall((0 until 32).map(j => (got(j), exact(j).map(_._1)))),
      "frac", "32 unfiltered queries vs the exact scan")

    o.put("rss_mb", Box.peakRssMb(Box.selfPid) + workers.peakRssMb(), "MB",
      "peak RSS: bench JVM (router, clients, Spark) + workers")

    if (ctx.traced) layers(ctx, o, router, workers, rows, slabs, pool, closed, cpu0, cpu1)
  }

  /** Per-layer figures for the traced run. */
  private def layers(ctx: Ctx, o: Outcome, router: RemoteShardedRouter,
      workers: Workers, rows: Array[(Long, Array[Double], Int)],
      slabs: Seq[String], pool: Array[Query], closed: Seq[Req],
      cpu0: (Double, Double), cpu1: (Double, Double)): Unit = {
    val tr = ctx.tracer
    val pings = (0 until 500).map { i =>
      val t0 = System.nanoTime()
      tr.span("ping", 0, -i - 1)(_ => router.ping())
      (System.nanoTime() - t0) / 1e6
    }
    val ping = Stats.median(pings)
    val unfilteredQs = pool.filterNot(_.filtered).take(200)
    val solo = unfilteredQs.map { e =>
      val t0 = System.nanoTime()
      router.search(e.q)
      (System.nanoTime() - t0) / 1e6
    }
    // Replay the workers' scans in-process on both slabs at once, at the
    // workers' own thread count.
    val threads = math.max(4, Runtime.getRuntime.availableProcessors / 2)
    val states = slabs.map(p => ShardWorker.loadState(p, "", "", 0, 3.0, 1L))
    val pools = states.map(_ => Executors.newFixedThreadPool(threads))
    val outer = Executors.newFixedThreadPool(states.length)
    def both(name: String, f: (ShardWorker.ServingState, java.util.concurrent.ExecutorService) => Any): Double = {
      val t0 = System.nanoTime()
      tr.span(name, 0, 0) { _ =>
        states.indices.map { s =>
          outer.submit(new Callable[Any] { def call(): Any = f(states(s), pools(s)) })
        }.foreach(_.get())
      }
      (System.nanoTime() - t0) / 1e6
    }
    val scans = try {
      val unf = unfilteredQs.take(100).map(e => both("scan", (st, p) =>
        ShardWorker.topK(st.rep, p, threads, Array(e.q), K, Th)))
      val fil = pool.filter(_.filtered).take(100).map(e => both("scan.filtered", (st, p) =>
        ShardWorker.filteredTopK(st, Array(rows(e.row)._3), e.q, K, Th,
          ShardWorker.DefaultFullScanThreshold, p, threads)))
      (Stats.median(unf), Stats.median(fil))
    } finally { (pools :+ outer).foreach(_.shutdownNow()) }
    val n = closed.length.max(1)
    val filteredRows = closed.count(_.kind == 1)
    val rowsPerUser = Rows.toDouble / 1000
    o.put("ShardWorker.ping_p50_ms", ping, "ms", s"n=${pings.length}")
    o.put("ShardWorker.scan_p50_ms", scans._1, "ms", "in-process replay, both slabs")
    o.put("ShardWorker.scan_filtered_p50_ms", scans._2, "ms", "in-process replay, both slabs")
    o.put("ShardWorker.gather_p50_ms", Stats.median(solo) - scans._1 - ping, "ms",
      s"one-client p50 ${Json.num(Stats.median(solo))} ms − scan − ping")
    o.put("ShardWorker.worker_cpu_ms_per_req", (cpu1._1 - cpu0._1) / n, "ms")
    o.put("ShardWorker.router_cpu_ms_per_req", (cpu1._2 - cpu0._2) / n, "ms",
      "bench JVM CPU (router and client threads) per closed-loop request")
    o.put("ShardWorker.bytes_per_req",
      ((n - filteredRows) * Rows * Dim * 8.0 + filteredRows * rowsPerUser * Dim * 8.0) / n,
      "B", "f64 slab, 8 B per cell")
    o.put("ShardWorker.reconnects", router.reconnects.toDouble, "count")
    o.put("ShardWorker.failovers", router.failovers.toDouble, "count")
    o.put("ShardWorker.worker_rss_mb", workers.peakRssMb(), "MB")
  }

  /** The shard worker processes of one set-up. */
  final class Workers(ctx: Ctx) {
    private val procs = scala.collection.mutable.ArrayBuffer[Process]()
    private val cp = System.getProperty("java.class.path")
    private val javaBin = System.getProperty("java.home") + "/bin/java"

    /** Start a worker on `slab`; returns its port. */
    def launch(slab: String): Int = {
      val port = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }
      val xmx = math.max(512L, new java.io.File(slab).length() * 4 / 1048576) + "m"
      val args = Seq(javaBin, "--add-modules=jdk.incubator.vector", s"-Xmx$xmx",
        s"-Djava.io.tmpdir=${ctx.work.getPath}", "-cp", cp, "graft.ShardWorker",
        slab, port.toString, K.toString, Th.toString)
      import scala.jdk.CollectionConverters._
      procs += new ProcessBuilder(args.asJava)
        .redirectOutput(new java.io.File(slab + ".log"))
        .redirectErrorStream(true)
        .start()
      port
    }

    /** Connect a router once every worker accepts connections. */
    def connect(ports: Seq[Int], k: Int, conns: Int): RemoteShardedRouter = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      var r: RemoteShardedRouter = null
      while (r == null) {
        try r = new RemoteShardedRouter(ports.map(p => ("127.0.0.1", p)), k, conns)
        catch {
          case e: java.io.IOException =>
            require(procs.forall(_.isAlive), "a shard worker exited during start-up")
            if (System.nanoTime() > deadline) throw e
            Thread.sleep(50)
        }
      }
      r
    }

    def cpuMs(): Double = procs.map(p => Box.procCpuMs(p.pid())).sum
    def peakRssMb(): Double = procs.map(p => Box.peakRssMb(p.pid())).sum

    def stopAll(): Unit = {
      procs.foreach(_.destroy())
      procs.foreach { p =>
        if (!p.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)) {
          p.destroyForcibly()
          p.waitFor()
        }
      }
      procs.clear()
    }
  }
}
