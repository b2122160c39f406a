package graft

/** Serving-kernel microbench over one replica-sized slab (131072 rows ×
  * 64 dims), in two tables — the measured basis for the serving-capacity
  * claims in PLANS/SCALING. No Spark: each table times the kernels
  * exactly as the replica tier calls them.
  *
  *  1. Throughput, nq × nt: the scalar blocked kernel vs the f32 SIMD
  *     transposed-block phase 1 with its certified gate and exact rescore
  *     ([[graft.simd.SimdDot]]) in [[BatchedServer.scoreRange]], sliced
  *     across a thread pool, each slice scoring into its own per-query
  *     heaps; Gcells/s of slab scan rate (cells = rows × dim; a pass over
  *     the slab serves all nq queries). Gaussian rows.
  *  2. Per-query CPU on one thread, at nq 1, 3 and 32, on clustered unit
  *     rows as [[CrossProc.clusteredPoints]] makes them (the perfbench
  *     `replica_rw` fixture) with k 10 and threshold 0.1: `exact` is the
  *     inline [[BatchedServer.scoreRange]] the exact family serves; `int8`
  *     is [[BatchedServer.int8TwoPhase]] at the reference's oversample 3
  *     (phase 1 over the [[BatchedServer.CodeSlab]] plus the exact
  *     rescore), and `int8_p1` its phase 1 alone
  *     ([[BatchedServer.int8Survivors]]). Median of 7 windows of thread
  *     CPU time after a warm-up.
  *
  * Usage: `sbt 'runMain graft.KernelProbe [rows] [dim]'`.
  */
object KernelProbe {
  def main(args: Array[String]): Unit = {
    val rows = if (args.length > 0) args(0).toInt else 131072
    val dim = if (args.length > 1) args(1).toInt else 64
    throughput(rows, dim)
    perQuery(rows, dim)
  }

  private def throughput(rows: Int, dim: Int): Unit = {
    val rnd = new scala.util.Random(7L)
    val data = Array.tabulate(rows) { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian() * 0.125), i % 8)
    }
    val qPool = Array.fill(64)(Array.fill(dim)(rnd.nextGaussian() * 0.125))
    val repScalar = BatchedServer.FlatReplica(data, useSimd = false)
    val repSimd = BatchedServer.FlatReplica(data, useSimd = true)
    println(s"rows=$rows dim=$dim simdLanes=${BatchedServer.SimdSupport.lanes} " +
      s"tslab=${repSimd.tslab != null}")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(32)
    def run(rep: BatchedServer.FlatReplica, nq: Int, nt: Int): Double = {
      val queries = Array.tabulate(nq)(i => qPool(i % qPool.length))
      val cells = rows.toDouble * dim
      // enough passes to time ~0.5s per cell
      var best = 0.0
      (0 until 7).foreach { rep0 =>
        val t0 = System.nanoTime()
        val tasks = new java.util.ArrayList[
          java.util.concurrent.Callable[Unit]](nt)
        (0 until nt).foreach { si =>
          val lo = (rep.n.toLong * si / nt).toInt
          val hi = (rep.n.toLong * (si + 1) / nt).toInt
          tasks.add(() => {
            BatchedServer.scoreRange(rep,
              Array.fill(nq)(new BatchedServer.TopK(10)), lo, hi, queries, 0.1)
          })
        }
        import scala.jdk.CollectionConverters._
        pool.invokeAll(tasks).asScala.foreach(_.get())
        val dt = (System.nanoTime() - t0) / 1e9
        val rate = cells / dt / 1e9
        if (rep0 >= 2 && rate > best) best = rate
      }
      best
    }
    println(f"${"kernel"}%-7s ${"nq"}%4s ${"nt"}%4s  Gcells/s")
    for (nq <- Seq(1, 4, 16, 64); nt <- Seq(1, 8, 16, 32)) {
      val s = run(repScalar, nq, nt)
      println(f"scalar  $nq%4d $nt%4d  $s%8.2f")
      if (repSimd.tslab != null) {
        val v = run(repSimd, nq, nt)
        println(f"simd    $nq%4d $nt%4d  $v%8.2f")
      }
    }
    pool.shutdown()
  }

  private def perQuery(rows: Int, dim: Int): Unit = {
    val (k, th, oversample) = (10, 0.1, 3.0)
    val cents = CrossProc.clusterCenters(dim)
    val rep = BatchedServer.FlatReplica(Array.tabulate(rows) { i =>
      (i.toLong, CrossProc.clusteredRow(cents, i.toLong), i % 1000)
    })
    val codes = BatchedServer.CodeSlab(rep)
    // a query is a stored row plus noise, as the replica_rw clients send
    val rnd = new scala.util.Random(11L)
    val qPool = Array.fill(256) {
      val e = new Array[Double](dim)
      val r = rnd.nextInt(rows)
      var nn = 0.0
      var d = 0
      while (d < dim) {
        e(d) = 0.9 * rep.embs(rep.offs(r) + d) + 0.1 * rnd.nextGaussian() / math.sqrt(dim)
        nn += e(d) * e(d)
        d += 1
      }
      e.map(_ / math.sqrt(nn))
    }
    println(s"rows=$rows dim=$dim clustered unit rows, k=$k th=$th " +
      s"int8 oversample=$oversample codeLanes=${codes.lanes}")
    val bean = java.lang.management.ManagementFactory.getThreadMXBean
    // median of 7 windows of thread CPU ms per query, after a warm-up
    def msPerQuery(nq: Int)(call: Array[Array[Double]] => Unit): Double = {
      var next = 0
      def batch(): Array[Array[Double]] =
        Array.fill(nq) { next = (next + 1) % qPool.length; qPool(next) }
      val calls = math.max(4, 96 / nq)
      (0 until 3 * calls).foreach(_ => call(batch()))
      val windows = Array.fill(7) {
        val t0 = bean.getCurrentThreadCpuTime
        (0 until calls).foreach(_ => call(batch()))
        (bean.getCurrentThreadCpuTime - t0) / 1e6 / (calls * nq)
      }
      windows.sorted.apply(3)
    }
    println(f"${"kernel"}%-8s ${"nq"}%4s  ms/query")
    for (nq <- Seq(1, 3, 32)) {
      val exact = msPerQuery(nq) { qs =>
        BatchedServer.scoreRange(rep, Array.fill(qs.length)(new BatchedServer.TopK(k)),
          0, rep.n, qs, th)
      }
      val int8 = msPerQuery(nq) { qs =>
        BatchedServer.int8TwoPhase(rep, codes, qs, k, th, oversample, null, 1)
      }
      val p1 = msPerQuery(nq) { qs =>
        BatchedServer.int8Survivors(rep, codes, qs, (k * oversample).toInt, null, 1,
          null, null)
      }
      println(f"exact    $nq%4d  $exact%8.3f")
      println(f"int8     $nq%4d  $int8%8.3f")
      println(f"int8_p1  $nq%4d  $p1%8.3f")
    }
  }
}
