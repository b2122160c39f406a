package graft

/** Serving-kernel microbench: the nq × nt throughput table over one
  * replica-sized slab (131072 rows × 64 dims), scalar blocked kernel vs
  * the f32 SIMD transposed-block phase 1 with its certified gate and
  * exact rescore ([[graft.simd.SimdDot]]) — the
  * measured basis for the serving-capacity claims in PLANS/SCALING.
  * No Spark: this times [[BatchedServer.scoreRange]] exactly as the
  * replica tier drives it (sliced across a thread pool, each slice
  * scoring into its own per-query heaps).
  *
  * Usage: `sbt 'runMain graft.KernelProbe [rows] [dim]'` — prints one
  * table row per (kernel, nq, nt): Gcells/s of slab scan rate
  * (cells = rows × dim; a pass over the slab serves all nq queries).
  */
object KernelProbe {
  def main(args: Array[String]): Unit = {
    val rows = if (args.length > 0) args(0).toInt else 131072
    val dim = if (args.length > 1) args(1).toInt else 64
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
}
