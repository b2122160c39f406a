package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cross-process serving building blocks: slab file round-trip and the
  * worker's slice-merged top-k vs a brute-force oracle. (The socket
  * layer is exercised end-to-end by CrossProcProbe / the bench's
  * cross_process_* rows — correctness there is router ≡ Search.knn.)
  * The workers run as daemon threads in the test JVM; [[TempDirs]]
  * deletes their slab dirs in afterAll, after every test's finally block
  * has closed the routers and pools that send them requests. */
class ShardWorkerSpec extends AnyFunSuite with TempDirs {

  private def mkRows(n: Int, d: Int): Array[(Long, Array[Double], Int)] = {
    val rnd = new scala.util.Random(7)
    Array.tabulate(n) { i =>
      val e = Array.fill(d)(rnd.nextDouble() * 2 - 1)
      val norm = math.sqrt(e.map(x => x * x).sum)
      (i.toLong, e.map(_ / norm), i % 10)
    }
  }

  test("SlabIO round-trips ids, users, and embeddings exactly") {
    val rows = mkRows(257, 64) // odd count: exercises the write tail
    val p = java.nio.file.Files.createTempFile("slab", ".bin").toString
    SlabIO.write(p, rows)
    val back = SlabIO.read(p)
    assert(back.length == rows.length)
    rows.zip(back).foreach { case ((id, e, u), (id2, e2, u2)) =>
      assert(id == id2 && u == u2)
      assert(java.util.Arrays.equals(e, e2)) // bit-exact doubles
    }
    java.nio.file.Files.delete(java.nio.file.Paths.get(p))
  }

  test("SlabIO round-trips ragged (mixed-dim) rows") {
    val rows: Array[(Long, Array[Double], Int)] = Array(
      (1L, Array(0.6, 0.8), 0),
      (2L, Array(1.0, 0.0, 0.0), 1),
      (3L, Array[Double](), 2))
    val p = java.nio.file.Files.createTempFile("slab", ".bin").toString
    SlabIO.write(p, rows)
    val back = SlabIO.read(p)
    assert(back.map(_._2.toSeq).toSeq == rows.map(_._2.toSeq).toSeq)
    java.nio.file.Files.delete(java.nio.file.Paths.get(p))
  }

  test("golden slab format: SLAB, SLB8, IVFS, GRFS, knobs and a patched " +
      "generation hash to the recorded SHA-256 of every file") {
    // tiny fixed ragged fixture, cell-ordered: cell 0 = rows 0..2,
    // cell 1 = rows 3..4, cell 2 = rows 5..6 (ids ascending in each cell)
    val rows: Array[(Long, Array[Double], Int)] = Array(
      (2L, Array(0.5, -0.25, 0.125), 1),
      (5L, Array(1.0, 0.0), 2),
      (9L, Array[Double](), 3),
      (1L, Array(-0.75, 0.5, 0.25, 0.1), 4),
      (4L, Array(0.3, -0.6, 0.9), 0),
      (3L, Array(0.2, 0.4, -0.8), 7),
      (8L, Array(-1.0), 9))
    val cids = Array(10L, 20L, 30L)
    val cents = Array(Array(0.6, 0.0, 0.8), Array(-0.6, 0.8, 0.0),
      Array(0.0, -1.0, 0.0))
    val offs = Array(0, 3, 5, 7)
    val gOffs = Array(0, 2, 4, 6, 8, 10, 12, 14)
    val gNbrs = (0 until 7).flatMap(r => Seq((r + 1) % 7, (r + 3) % 7)).toArray
    val dir = tempDir("slab_golden").toString
    val v1 = s"$dir/v1.slab"
    SlabIO.write(v1, rows)
    SlabIO.writeInt8(s"$v1.i8", rows, v1)
    SlabIO.writeIvf(s"$v1.ivf", cids, cents, offs, v1)
    SlabIO.writeGraph(s"$v1.graph", gOffs, gNbrs, Array(0, 4), v1)
    SlabIO.writeKnobs(s"$v1.ivf.knobs", nprobe = 2, oversample = 2.5)
    // patched generation: cell 1 re-embeds id 4 (wider) and gains id 6,
    // cell 2 drains
    val dirty = Map(
      1 -> Array((4L, Array(0.6, 0.0, -0.8, 0.0, 0.1), 5), (6L, Array(0.05), 6)),
      2 -> Array.empty[(Long, Array[Double], Int)])
    val v2 = s"$dir/v2.slab"
    val patched = SlabIO.patchCellOrdered(v1, s"$v1.ivf", dirty, v2,
      s"$v2.ivf", s"$v1.i8", s"$v2.i8")
    def sha(p: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
        .map(b => f"${b & 0xff}%02x").mkString
    val got = Seq("v1.slab", "v1.slab.i8", "v1.slab.ivf", "v1.slab.graph",
      "v1.slab.ivf.knobs", "v2.slab", "v2.slab.ivf", "v2.slab.i8")
      .map(f => f -> sha(s"$dir/$f")).toMap + ("patch" -> patched.toString)
    // fixed record of the on-disk bytes: the patch-vs-rebuild test compares
    // two writers of one version, so only this catches a drift both share;
    // a deliberate format change must update these hashes
    assert(got == Map(
      "patch" -> "(5,76,72)",
      "v1.slab" -> "0f0fb278a6f58d2e81b3e3225c9fd10f56df5642c9832f131a9502849e7527ed",
      "v1.slab.i8" -> "e3f298b64cae32044fe887d1ae681d7b52d9b19a4e91fbaca217e8621f2e12b8",
      "v1.slab.ivf" -> "0a11d1a1fcefb2a5c3f72bb2172f5ea40c095ca4cbe690de02b57023e5042db7",
      "v1.slab.graph" -> "ebcd9e772b48ff390104f52dc3568fe357b7fa01b4b744ce6fff819f22042c6f",
      "v1.slab.ivf.knobs" -> "b43229c3959f9f461ff254a185e1a5ff24b1c351d80a47f107b6426df63f9a39",
      "v2.slab" -> "0d9c785a9a49d9cd64498a66669709895abe1a75133a46d05ab3740cf72efb1b",
      "v2.slab.ivf" -> "266b5fa9e561ce26cab2244b2e1226c2463f2de41fc118df64fee176c11e5118",
      "v2.slab.i8" -> "9f3710cfb829181f0a1b36c6b33f04a7c57fe126a6288360bf97a7c48e8eda65"))
  }

  test("searchPartial: a straggler shard is dropped at the deadline and " +
      "its late reply re-pools the socket instead of poisoning it") {
    val rows = mkRows(400, 16)
    val (fastRows, slowRows) = rows.partition(_._1 % 2 == 0)
    val k = 10
    def freePort(): Int = {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close()
    }
    val fastPort = freePort()
    val slabPath = java.nio.file.Files.createTempFile("slab_fast", ".bin").toString
    SlabIO.write(slabPath, fastRows)
    val workerThread = new Thread(new Runnable {
      def run(): Unit = ShardWorker.main(
        Array(slabPath, fastPort.toString, k.toString, "0.0", "threads=2"))
    })
    workerThread.setDaemon(true)
    workerThread.start()
    // slow shard: protocol-correct responder with a settable reply delay
    // (same frame format and merge rule as the worker, via topK)
    val slowSrv = new java.net.ServerSocket(0)
    val slowPort = slowSrv.getLocalPort
    val delayMs = new java.util.concurrent.atomic.AtomicLong(0L)
    // one-shot stall for the hedged phase: exactly ONE request (the
    // hedge's primary) sleeps `delayMs`; the duplicate passes untouched —
    // the intermittent Dean–Barroso straggler shape
    val stallNext = new java.util.concurrent.atomic.AtomicBoolean(false)
    val slowRep = BatchedServer.FlatReplica(slowRows)
    val slowPool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val acceptThread = new Thread(new Runnable {
      def run(): Unit = try {
        while (true) {
          val sock = slowSrv.accept()
          sock.setTcpNoDelay(true)
          val t = new Thread(new Runnable { def run(): Unit = {
            val in = new java.io.DataInputStream(
              new java.io.BufferedInputStream(sock.getInputStream))
            val out = new java.io.DataOutputStream(
              new java.io.BufferedOutputStream(sock.getOutputStream))
            try {
              while (true) {
                val nq = in.readInt()
                if (nq == 0) { out.writeInt(0); out.flush() }
                else {
                  val d = in.readInt()
                  val qs = Array.fill(nq)(Array.fill(d)(in.readDouble()))
                  if (stallNext.compareAndSet(true, false))
                    Thread.sleep(5000L)
                  Thread.sleep(delayMs.get())
                  val res = ShardWorker.topK(slowRep, slowPool, 2, qs, k, 0.0)
                  res.foreach { hits =>
                    out.writeInt(hits.length)
                    hits.foreach { case (id, s, u) =>
                      out.writeLong(id); out.writeDouble(s); out.writeInt(u) }
                  }
                  out.flush()
                }
              }
            } catch { case _: java.io.IOException | _: InterruptedException => () }
            finally sock.close()
          }})
          t.setDaemon(true); t.start()
        }
      } catch { case _: java.io.IOException => () }
    })
    acceptThread.setDaemon(true)
    acceptThread.start()
    // router over (fast, slow); readiness via retry like CrossProc
    var router: RemoteShardedRouter = null
    var tries = 0
    while (router == null) {
      try router = new RemoteShardedRouter(
        Seq(("127.0.0.1", fastPort), ("127.0.0.1", slowPort)), k,
        connsPerShard = 2)
      catch { case e: java.io.IOException =>
        tries += 1; if (tries > 60) throw e; Thread.sleep(250) }
    }
    try {
      val q = {
        val v = Array.tabulate(16)(i => math.sin(i + 1.0))
        val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
      }
      def brute(rs: Array[(Long, Array[Double], Int)]) =
        rs.map { case (id, e, u) =>
          var s = 0.0; var i = 0
          while (i < e.length) { s += e(i) * q(i); i += 1 }
          (id, graft.plans.Num.round6(s), u)
        }.sortBy { case (id, s, _) => (-s, id) }.take(k).toSeq
      // 1. both shards answer: partial == complete == exact global top-k
      val full = router.searchPartial(q, timeoutMs = 10000)
      assert(full.complete && full.shardsAnswered == 2)
      assert(full.hits.toSeq == brute(rows))
      // 2. slow shard misses the deadline: degraded answer, flagged.
      // Margins widened (ADVICE r13): a 5 s stall against a 1 s deadline
      // keeps the fast/slow separation even on a heavily loaded host
      // (the old 1.5 s/300 ms pair let BOTH shards miss under CI load).
      delayMs.set(5000L)
      val part = router.searchPartial(q, timeoutMs = 1000)
      assert(!part.complete && part.shardsAnswered == 1)
      assert(part.hits.toSeq == brute(fastRows),
        "partial result must be the exact top-k over the answering shard")
      // 3. the straggler's late reply must NOT poison the pooled socket:
      // once it drains, the same router completes again
      delayMs.set(0L)
      Thread.sleep(4500L) // let the abandoned round-trip finish + re-pool
      val again = router.searchPartial(q, timeoutMs = 10000)
      assert(again.complete && again.hits.toSeq == brute(rows),
        "router must recover to complete answers after a transient straggler")
      // 4. HEDGED request (searchHedged): an INTERMITTENT straggler —
      // exactly one request stalls 5 s — is cut by the duplicate send:
      // the hedge fires after 100 ms on a second pooled connection,
      // answers fast, and the result is COMPLETE and exact (nothing
      // dropped), with the hedge accounting visible
      stallNext.set(true)
      val hedged = router.searchHedged(q, hedgeAfterMs = 100, timeoutMs = 10000)
      assert(hedged.complete && hedged.shardsAnswered == 2,
        "hedged gather must complete without dropping the stalled shard")
      assert(hedged.hits.toSeq == brute(rows),
        "hedged result must equal the exact global top-k")
      assert(hedged.hedgesSent == 1 && hedged.hedgeWins == 1,
        s"expected exactly one winning hedge, got sent=${hedged.hedgesSent}" +
          s" wins=${hedged.hedgeWins}")
      // 4b. no-straggler hedged request: both primaries answer before the
      // hedge delay — no duplicates sent (the bounded-extra-load claim)
      Thread.sleep(5500L) // drain the stalled primary; re-pool its socket
      val calm = router.searchHedged(q, hedgeAfterMs = 2000, timeoutMs = 10000)
      assert(calm.complete && calm.hedgesSent == 0 &&
        calm.hits.toSeq == brute(rows))
      // 4c. HEDGE-THEN-DEGRADE (VERDICT r14 #8): a PERSISTENT straggler
      // outruns both attempts — the gather deadline then drops it (the
      // searchPartial semantics as last resort) instead of the request
      // dragging to the old 100 ms hedge budget: latency is bounded by
      // `timeoutMs`, the answer is the exact top-k over the answering
      // shard, and the degradation is flagged
      delayMs.set(5000L)
      val t0 = System.nanoTime()
      val deg = router.searchHedged(q, hedgeAfterMs = 50, timeoutMs = 500)
      val degMs = (System.nanoTime() - t0) / 1e6
      assert(!deg.complete && deg.shardsAnswered == 1,
        "persistent straggler must be dropped at the deadline")
      assert(deg.hits.toSeq == brute(fastRows),
        "degraded answer must be the exact top-k over the answering shard")
      assert(degMs < 3000,
        s"deadline must bound the degrade wait, took $degMs ms")
      delayMs.set(0L)
      Thread.sleep(5500L) // drain the abandoned attempts; re-pool sockets
    } finally {
      router.close()
      slowSrv.close()
      slowPool.shutdownNow()
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(slabPath))
    }
  }

  test("int8 slab: round-trip, worker parity with the float worker and " +
      "the in-JVM int8 kernel, fingerprint mismatch fails loud") {
    val rows = mkRows(500, 32)
    val k = 10
    val dir = tempDir("slab_i8").toString
    val floatPath = s"$dir/shard.slab"
    SlabIO.write(floatPath, rows)
    val floatBytes = java.nio.file.Files.size(
      java.nio.file.Paths.get(floatPath))
    SlabIO.writeInt8(s"$floatPath.i8", rows, floatPath)
    // round-trip: ids/users/offs exact; codes = quantizeCode of each cell
    val slab = SlabIO.readInt8(s"$floatPath.i8")
    assert(slab.n == rows.length && slab.floatSlabBytes == floatBytes)
    rows.zipWithIndex.foreach { case ((id, e, u), i) =>
      assert(slab.ids(i) == id && slab.users(i) == u)
      e.zipWithIndex.foreach { case (x, d) =>
        assert(slab.codes(slab.offs(i) + d) == BatchedServer.quantizeCode(x))
      }
    }
    // kernel parity: the one int8 kernel, rescoring from the mmapped
    // float slab AND from the heap replica, ≡ a brute-force two-phase
    // written here — quantize every cell, integer dot, keep fetchK by
    // (dot desc, id asc), exact rescore + round6 + threshold, then
    // (score desc, id asc) top-k
    val (fbuf, ds) = SlabIO.mapFloatForRescore(floatPath)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val rep = BatchedServer.FlatReplica(rows)
    val codes = BatchedServer.quantizeSlab(rep.embs)
    val rnd = new scala.util.Random(23)
    val queries = Array.fill(5) {
      val q = Array.fill(32)(rnd.nextDouble() * 2 - 1)
      val n = math.sqrt(q.map(x => x * x).sum); q.map(_ / n)
    }
    try {
      def oracle(q: Array[Double], th: Double): Seq[(Long, Double, Int)] = {
        val q8 = q.map(BatchedServer.quantizeCode)
        rows.map { case (id, e, u) =>
          var dot = 0L
          var i = 0
          while (i < math.min(e.length, q8.length)) {
            dot += BatchedServer.quantizeCode(e(i)) * q8(i); i += 1
          }
          (dot, id, e, u)
        }.sortBy { case (dot, id, _, _) => (-dot, id) }.take(k * 3)
          .map { case (_, id, e, u) =>
            var s = 0.0
            var i = 0
            while (i < math.min(e.length, q.length)) { s += e(i) * q(i); i += 1 }
            (id, graft.plans.Num.round6(s), u)
          }.filter(_._2 >= th)
          .sortBy { case (id, s, _) => (-s, id) }.take(k).toSeq
      }
      val mapped = new SlabIO.MappedFloats(slab, fbuf, ds)
      val got = BatchedServer.int8TwoPhase(mapped, slab.codes, queries, k,
        0.0, 3.0, pool, 4)
      val sources = Seq[(String, BatchedServer.FloatRows, Array[Byte])](
        ("mmap", mapped, slab.codes), ("heap", rep, codes))
      for ((src, floats, cs) <- sources; th <- Seq(0.0, 0.1)) {
        val res = BatchedServer.int8TwoPhase(floats, cs, queries, k, th, 3.0,
          pool, 4)
        queries.indices.foreach { qi =>
          assert(res(qi).toSeq == oracle(queries(qi), th),
            s"$src float source, th $th, query $qi")
        }
      }
      // end-to-end over a socket: an int8 worker serves row-for-row what
      // a float worker serves on this fixture (the ApiSpec parity claim,
      // cross-process) — oversample 3 covers the small store
      def freePort(): Int = {
        val s = new java.net.ServerSocket(0)
        try s.getLocalPort finally s.close()
      }
      val i8Port = freePort()
      val i8Thread = new Thread(new Runnable {
        def run(): Unit = ShardWorker.main(Array(floatPath,
          i8Port.toString, k.toString, "0.0", "threads=2",
          s"int8=$floatPath.i8"))
      })
      i8Thread.setDaemon(true); i8Thread.start()
      var router: RemoteShardedRouter = null
      var tries = 0
      while (router == null) {
        try router = new RemoteShardedRouter(
          Seq(("127.0.0.1", i8Port)), k, connsPerShard = 2)
        catch { case e: java.io.IOException =>
          tries += 1; if (tries > 60) throw e; Thread.sleep(250) }
      }
      try {
        queries.zipWithIndex.foreach { case (q, qi) =>
          val viaSocket = router.search(q).toSeq
          assert(viaSocket == got(qi).toSeq, s"socket parity, query $qi")
          // float-worker equivalence on the fixture: the int8 tier's
          // answer matches exact scoring here (oversample covers)
          val exact = rows.map { case (id, e, u) =>
            var s = 0.0; var i = 0
            while (i < e.length) { s += e(i) * q(i); i += 1 }
            (id, graft.plans.Num.round6(s), u)
          }.sortBy { case (id, s, _) => (-s, id) }.take(k).toSeq
          assert(viaSocket == exact, s"fixture exactness, query $qi")
        }
        // hedge-budget RESERVATION (ADVICE r14): a fresh router has ONE
        // burst token (fraction·0 requests + 1); 32 concurrent reserves
        // must grant exactly one — the old check-then-act LongAdder race
        // could grant up to the concurrency level
        val granted = new java.util.concurrent.atomic.AtomicInteger(0)
        val burst = java.util.concurrent.Executors.newFixedThreadPool(32)
        val startGate = new java.util.concurrent.CountDownLatch(1)
        val done = new java.util.concurrent.CountDownLatch(32)
        (0 until 32).foreach { _ =>
          burst.submit(new Runnable { def run(): Unit = {
            startGate.await()
            if (router.tryReserveHedge()) granted.incrementAndGet()
            done.countDown()
          }})
        }
        startGate.countDown()
        done.await()
        burst.shutdownNow()
        assert(granted.get() == 1,
          s"budget must grant exactly the one burst token, got ${granted.get()}")
      } finally router.close()
      // fingerprint: a code slab cut from a DIFFERENT float slab (row
      // drift) must fail the worker loud at load, before it ever binds —
      // not mis-rescore survivors silently
      val otherPath = s"$dir/other.slab"
      SlabIO.write(otherPath, mkRows(501, 32))
      val ex = intercept[IllegalArgumentException] {
        ShardWorker.main(Array(otherPath, freePort().toString, k.toString,
          "0.0", "threads=2", s"int8=$floatPath.i8"))
      }
      assert(ex.getMessage.contains("fingerprint mismatch"))
      // content fingerprint (ADVICE r15): a float slab REGENERATED with
      // the same row count/ids/dims but different embedding values has
      // an identical byte size — the size gate passes, the content
      // checksum must still fail loud (the silent-stale-codes hazard)
      val regenPath = s"$dir/regen.slab"
      SlabIO.write(regenPath, rows.map { case (id, e, u) =>
        (id, e.map(x => -x), u) })
      assert(java.nio.file.Files.size(java.nio.file.Paths.get(regenPath))
        == floatBytes, "regenerated slab must be size-identical")
      val ex2 = intercept[IllegalArgumentException] {
        ShardWorker.main(Array(regenPath, freePort().toString, k.toString,
          "0.0", "threads=2", s"int8=$floatPath.i8"))
      }
      assert(ex2.getMessage.contains("content-fingerprint mismatch"))
    } finally {
      pool.shutdownNow()
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala
        .foreach(p => try java.nio.file.Files.deleteIfExists(p)
          catch { case _: java.io.IOException => () })
    }
  }

  test("int8 SIMD dot == scalar dot on every length/offset (exact integer math)") {
    // integer arithmetic is order-independent, so the widening SIMD
    // kernel must be BIT-identical to the scalar loop — including tails
    // shorter than a vector and unaligned slab offsets
    val rnd = new scala.util.Random(41)
    val codes = Array.fill(1024)((rnd.nextInt(255) - 127).toByte)
    for (len <- Seq(0, 1, 7, 8, 15, 16, 63, 64, 100); off <- Seq(0, 3, 64, 129)) {
      val q = Array.fill(len)((rnd.nextInt(255) - 127).toByte)
      var want = 0L
      var d = 0
      while (d < len) { want += codes(off + d) * q(d); d += 1 }
      val got = graft.simd.SimdDot.dotBytes(codes, off, len, q)
      assert(got == want, s"len=$len off=$off")
    }
  }

  test("worker topK over slices == brute-force top-k with the global tie order") {
    val rows = mkRows(1003, 32)
    val rep = BatchedServer.FlatReplica(rows)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val rnd = new scala.util.Random(13)
      val queries = Array.fill(3) {
        val q = Array.fill(32)(rnd.nextDouble() * 2 - 1)
        val n = math.sqrt(q.map(x => x * x).sum)
        q.map(_ / n)
      }
      val k = 10
      val th = 0.0
      val got = ShardWorker.topK(rep, pool, 4, queries, k, th)
      queries.zipWithIndex.foreach { case (q, qi) =>
        val want = rows.map { case (id, e, u) =>
          var s = 0.0; var i = 0
          while (i < e.length) { s += e(i) * q(i); i += 1 }
          (id, graft.plans.Num.round6(s), u)
        }.filter(_._2 >= th)
          .sortBy { case (id, s, _) => (-s, id) }.take(k).toSeq
        assert(got(qi).toSeq == want, s"query $qi")
      }
    } finally pool.shutdownNow()
  }

  /** Clustered fixture for the IVF-pruned worker: `c` unit centroids,
    * `perCell` noisy unit rows around each; rows come back CELL-ORDERED
    * (the slab layout the sidecar indexes) with the cell offsets. */
  private def mkClustered(c: Int, perCell: Int, d: Int)
      : (Array[(Long, Array[Double], Int)], Array[Long],
         Array[Array[Double]], Array[Int]) = {
    val rnd = new scala.util.Random(99)
    def unit(): Array[Double] = {
      val v = Array.fill(d)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val cents = Array.fill(c)(unit())
    val all = scala.collection.mutable.ArrayBuffer[(Long, Array[Double], Int)]()
    var id = 0L
    (0 until c).foreach { j =>
      (0 until perCell).foreach { _ =>
        val e = cents(j).zip(unit()).map { case (a, b) => a + 0.15 * b }
        val n = math.sqrt(e.map(x => x * x).sum)
        all += ((id, e.map(_ / n), (id % 10).toInt))
        id += 1
      }
    }
    // assign each row to its NEAREST centroid (round6 dot desc, cid asc
    // — the store-side ivfAssign rule), then order rows by (cell, id)
    def cellOf(e: Array[Double]): Int =
      (0 until c).map { j =>
        var s = 0.0; var i = 0
        while (i < d) { s += e(i) * cents(j)(i); i += 1 }
        (graft.plans.Num.round6(s), j)
      }.minBy { case (s, j) => (-s, j) }._2
    val byCell = all.toArray.map(r => (cellOf(r._2), r))
      .sortBy { case (cell, (rid, _, _)) => (cell, rid) }
    val offs = new Array[Int](c + 1)
    byCell.foreach { case (cell, _) => offs(cell + 1) += 1 }
    (1 to c).foreach(j => offs(j) += offs(j - 1))
    (byCell.map(_._2), (0 until c).map(_.toLong).toArray, cents, offs)
  }

  test("patchCellOrdered: splice of dirty cells is byte-identical to a " +
      "full rebuild (float slab, ivf sidecar, int8 twin)") {
    val d = 16
    val (rows, cids, cents, offs) = mkClustered(c = 6, perCell = 40, d = d)
    val c = cids.length
    val dir = tempDir("slab_patch").toString
    val v1 = s"$dir/v1.slab"
    SlabIO.write(v1, rows)
    SlabIO.writeIvf(s"$v1.ivf", cids, cents, offs, v1)
    SlabIO.writeInt8(s"$v1.i8", rows, v1)
    // dirty-cell churn: cell 1 loses its first 3 rows, re-embeds 2, and
    // gains 2 inserts; cell 4 drains completely (zero-width range)
    def cellRows(j: Int) = rows.slice(offs(j), offs(j + 1))
    val rnd = new scala.util.Random(5)
    def unit(): Array[Double] = {
      val v = Array.fill(d)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val cell1 = {
      val kept = cellRows(1).drop(3)
      val reembedded = kept.take(2).map { case (id, _, u) => (id, unit(), u) }
      val tail = kept.drop(2)
      val inserts = Array((900001L, unit(), 1), (900002L, unit(), 2))
      (reembedded ++ tail ++ inserts).sortBy(_._1)
    }
    val dirty = Map(1 -> cell1, 4 -> Array.empty[(Long, Array[Double], Int)])
    // reference: the full new row array, rebuilt from scratch
    val newRows = (0 until c).flatMap(j =>
      dirty.getOrElse(j, cellRows(j))).toArray
    val ref = s"$dir/ref.slab"
    SlabIO.write(ref, newRows)
    val refOffs = new Array[Int](c + 1)
    (0 until c).foreach(j => refOffs(j + 1) =
      refOffs(j) + dirty.get(j).map(_.length).getOrElse(offs(j + 1) - offs(j)))
    SlabIO.writeIvf(s"$ref.ivf", cids, cents, refOffs, ref)
    SlabIO.writeInt8(s"$ref.i8", newRows, ref)
    // patch: splice the clean cells out of v1
    val v2 = s"$dir/v2.slab"
    val (n2, cleanBytes, dirtyBytes) = SlabIO.patchCellOrdered(
      v1, s"$v1.ivf", dirty, v2, s"$v2.ivf", s"$v1.i8", s"$v2.i8")
    assert(n2 == newRows.length)
    assert(cleanBytes > 0 && dirtyBytes > 0)
    def bytes(p: String) =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    assert(java.util.Arrays.equals(bytes(v2), bytes(ref)),
      "patched float slab must be byte-identical to the full rebuild")
    assert(java.util.Arrays.equals(bytes(s"$v2.ivf"), bytes(s"$ref.ivf")),
      "patched ivf sidecar must be byte-identical to the full rebuild")
    assert(java.util.Arrays.equals(bytes(s"$v2.i8"), bytes(s"$ref.i8")),
      "patched int8 slab must be byte-identical to the full rebuild")
    // the patched generation loads through the same fail-loud gates
    SlabIO.readIvf(s"$v2.ivf").requirePairedWith(v2)
    SlabIO.readInt8(s"$v2.i8").requirePairedWith(v2)
    // unsorted dirty rows violate the cell-ordered (cell, id) convention
    val ex = intercept[IllegalArgumentException] {
      SlabIO.patchCellOrdered(v1, s"$v1.ivf",
        Map(0 -> cellRows(0).reverse), s"$dir/bad.slab", s"$dir/bad.ivf")
    }
    assert(ex.getMessage.contains("id-sorted"))
    // a STALE int8 twin (same row count, cut from a regenerated float
    // slab) must be rejected BEFORE its clean-cell codes are splice-
    // reused — re-stamping stale codes with a valid new fingerprint
    // would launder the exact hazard the pairing discipline prevents
    val regen = s"$dir/regen.slab"
    SlabIO.write(regen, rows.map { case (id, e, u) => (id, e.map(-_), u) })
    SlabIO.writeInt8(s"$regen.i8",
      rows.map { case (id, e, u) => (id, e.map(-_), u) }, regen)
    val ex2 = intercept[IllegalArgumentException] {
      SlabIO.patchCellOrdered(v1, s"$v1.ivf", dirty,
        s"$dir/bad2.slab", s"$dir/bad2.ivf", s"$regen.i8", s"$dir/bad2.i8")
    }
    assert(ex2.getMessage.contains("fingerprint mismatch"))
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .iterator().asScala
      .foreach(p => try java.nio.file.Files.deleteIfExists(p)
        catch { case _: java.io.IOException => () })
  }

  test("RELOAD swaps the served slab generation atomically under load; " +
      "a rejected manifest keeps the old generation serving") {
    val d = 16
    val rows = mkRows(300, d)
    val k = 5
    val dir = tempDir("slab_reload").toString
    val v1 = s"$dir/v1.slab"
    SlabIO.write(v1, rows)
    // v2 adds a sentinel row that exactly equals the probe query — after
    // the swap it MUST be the top-1 hit (score 1.0 beats every noisy row)
    val q = {
      val v = Array.tabulate(d)(i => math.cos(i * 0.7 + 1))
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val v2 = s"$dir/v2.slab"
    SlabIO.write(v2, (rows :+ ((999999L, q, 7))).sortBy(_._1))
    def freePort(): Int = {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close()
    }
    val port = freePort()
    val t = new Thread(new Runnable {
      def run(): Unit = ShardWorker.main(
        Array(v1, port.toString, k.toString, "0.0", "threads=2"))
    })
    t.setDaemon(true); t.start()
    var router: RemoteShardedRouter = null
    var tries = 0
    while (router == null) {
      try router = new RemoteShardedRouter(
        Seq(("127.0.0.1", port)), k, connsPerShard = 4)
      catch { case e: java.io.IOException =>
        tries += 1; if (tries > 60) throw e; Thread.sleep(250) }
    }
    try {
      assert(router.search(q).head._1 != 999999L, "sentinel absent in v1")
      // background storm: reload must not fail a single concurrent request
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val errors = new java.util.concurrent.atomic.AtomicInteger(0)
      val served = new java.util.concurrent.atomic.AtomicInteger(0)
      val stormers = (0 until 3).map { _ =>
        val st = new Thread(new Runnable {
          def run(): Unit = while (!stop.get()) {
            try {
              val hits = router.search(q)
              // every answer must be a coherent generation: either v1's
              // top-k (no sentinel) or v2's (sentinel first) — nothing else
              if (hits.head._1 == 999999L) assert(hits.head._2 == 1.0)
              else assert(hits.length == k)
              served.incrementAndGet()
            } catch { case _: Throwable => errors.incrementAndGet() }
          }
        })
        st.setDaemon(true); st.start(); st
      }
      Thread.sleep(300)
      val r = router.reload(0, v2)
      assert(r.isRight, s"reload must succeed, got $r")
      val Right((ver, n)) = r: @unchecked
      assert(ver == 2L && n == rows.length + 1)
      Thread.sleep(300)
      stop.set(true)
      stormers.foreach(_.join(2000))
      assert(errors.get() == 0,
        s"reload under load must not fail requests, got ${errors.get()} errors")
      assert(served.get() > 0)
      val after = router.search(q)
      assert(after.head._1 == 999999L && after.head._2 == 1.0,
        "post-swap answers must come from the new generation")
      // rejected manifest: an ivf sidecar cut from v1 does not pair with
      // v2 — the worker must refuse AND keep serving the current gen
      SlabIO.writeIvf(s"$v1.ivf",
        Array(0L), Array(q), Array(0, rows.length), v1)
      val bad = router.reload(0, v2, ivfPath = s"$v1.ivf", nprobe = 1)
      assert(bad.isLeft && bad.swap.exists(_.contains("fingerprint")),
        s"mismatched sidecar must be rejected loud, got $bad")
      val still = router.search(q)
      assert(still.head._1 == 999999L,
        "a rejected reload must leave the old generation serving")
    } finally {
      router.close()
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala
        .foreach(p => try java.nio.file.Files.deleteIfExists(p)
          catch { case _: java.io.IOException => () })
    }
  }

  test("failover: a dead primary moves the shard to its backup replica " +
      "mid-stream — same answers, no caller-visible error") {
    val rows = mkRows(400, 16)
    val k = 10
    val q = {
      val v = Array.tabulate(16)(i => math.sin(i + 2.0))
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val brute = rows.map { case (id, e, u) =>
      var s = 0.0; var i = 0
      while (i < e.length) { s += e(i) * q(i); i += 1 }
      (id, graft.plans.Num.round6(s), u)
    }.sortBy { case (id, s, _) => (-s, id) }.take(k).toSeq
    // protocol-correct in-JVM replica server whose "crash" closes the
    // listener AND every accepted socket (connection reset, like a
    // killed process) — both replicas serve the SAME rows
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val rep = BatchedServer.FlatReplica(rows)
    final class Replica {
      val srv = new java.net.ServerSocket(0)
      def port: Int = srv.getLocalPort
      private val accepted =
        java.util.concurrent.ConcurrentHashMap.newKeySet[java.net.Socket]()
      // set by kill() before it closes anything: a socket accept() returned
      // but that reached `accepted` only after kill() swept it is closed
      // here, so a dead replica serves no pooled connection
      @volatile private var dead = false
      val requestsServed = new java.util.concurrent.atomic.AtomicInteger(0)
      private val acceptor = new Thread(new Runnable {
        def run(): Unit = try {
          while (true) {
            val sock = srv.accept()
            sock.setTcpNoDelay(true)
            accepted.add(sock)
            if (dead) sock.close()
            val t = new Thread(new Runnable { def run(): Unit = {
              val in = new java.io.DataInputStream(
                new java.io.BufferedInputStream(sock.getInputStream))
              val out = new java.io.DataOutputStream(
                new java.io.BufferedOutputStream(sock.getOutputStream))
              try {
                while (true) {
                  val nq = in.readInt()
                  if (nq == 0) { out.writeInt(0); out.flush() }
                  else {
                    val dd = in.readInt()
                    val qs = Array.fill(nq)(Array.fill(dd)(in.readDouble()))
                    val res = ShardWorker.topK(rep, pool, 2, qs, k, 0.0)
                    res.foreach { hits =>
                      out.writeInt(hits.length)
                      hits.foreach { case (id, s, u) =>
                        out.writeLong(id); out.writeDouble(s); out.writeInt(u) }
                    }
                    // count BEFORE the reply leaves: the caller asserts on
                    // the count as soon as it has read the reply
                    requestsServed.incrementAndGet()
                    out.flush()
                  }
                }
              } catch { case _: java.io.IOException => () }
              finally sock.close()
            }})
            t.setDaemon(true); t.start()
          }
        } catch { case _: java.io.IOException => () }
      })
      acceptor.setDaemon(true); acceptor.start()
      def kill(): Unit = {
        dead = true
        try srv.close() catch { case _: Throwable => () }
        accepted.forEach(s => try s.close() catch { case _: Throwable => () })
      }
    }
    val primary = new Replica
    val backup = new Replica
    val router = new RemoteShardedRouter(
      Seq(("127.0.0.1", primary.port)), k, connsPerShard = 2,
      backups = Seq(Seq(("127.0.0.1", backup.port))))
    try {
      // healthy: the primary serves
      assert(router.search(q).toSeq == brute)
      assert(primary.requestsServed.get() == 1 &&
        backup.requestsServed.get() == 0)
      // crash the primary: the NEXT request must fail over to the backup
      // with the same exact answer and no exception
      primary.kill()
      assert(router.search(q).toSeq == brute,
        "failover answer must equal the healthy answer")
      assert(backup.requestsServed.get() >= 1,
        "the backup must have served the failover request")
      // and the failover is sticky: subsequent requests keep working
      (0 until 5).foreach(_ => assert(router.search(q).toSeq == brute))
      // the operational counters saw it — and counted it EXACTLY ONCE
      // (VERDICT r16 #7): one dead endpoint = one shard-wide endpoint
      // walk = one failover, however many pooled conns hit it (the CAS
      // admits a single winner; followers read the advanced value). The
      // lazy reconnects are per-conn and at least one happened.
      assert(router.failovers == 1, s"failovers=${router.failovers}")
      assert(router.reconnects >= 1, s"reconnects=${router.reconnects}")
      // ...and they ride the HTTP exposition: the shard's ACTIVE endpoint
      // gauge shows it serving from backup index 1 — the state a health
      // dashboard cannot infer from latency alone
      val http = router.serveMetricsHttp()
      try {
        val url = new java.net.URI(
          s"http://127.0.0.1:${http.boundPort}/metrics").toURL
        val conn = url.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        // bounded: a wedged handler must fail the assert, not hang the suite
        conn.setConnectTimeout(5000)
        conn.setReadTimeout(5000)
        val body = try scala.io.Source.fromInputStream(
          conn.getInputStream).mkString finally conn.disconnect()
        val lines = body.linesIterator.toSeq
        assert(lines.exists(l => l.startsWith("graft_router_failovers_total ")
          && l.split(" ")(1).toLong >= 1), s"exposition:\n$body")
        assert(lines.contains("graft_router_active_endpoint{shard=\"0\"} 1"),
          s"active-endpoint gauge must show the backup:\n$body")
      } finally http.close()
      // all-replicas-down IS an error (an outage must be loud, not an
      // empty result): kill the backup too
      backup.kill()
      intercept[Exception](router.search(q))
    } finally {
      router.close()
      primary.kill(); backup.kill()
      pool.shutdownNow()
    }
  }

  test("ivf sidecar: round-trip, pruned scan at full probe == full scan " +
      "(float AND int8), partial probe stays exact-within-cells, " +
      "pairing fingerprint fails loud") {
    val d = 32
    val (rows, cids, cents, offs) = mkClustered(c = 8, perCell = 60, d = d)
    val k = 10
    val dir = tempDir("slab_ivf").toString
    val floatPath = s"$dir/shard.slab"
    SlabIO.write(floatPath, rows)
    SlabIO.writeIvf(s"$floatPath.ivf", cids, cents, offs, floatPath)
    SlabIO.writeInt8(s"$floatPath.i8", rows, floatPath)
    val ivf = SlabIO.readIvf(s"$floatPath.ivf")
    assert(ivf.c == 8 && ivf.cids.toSeq == cids.toSeq &&
      ivf.offs.toSeq == offs.toSeq)
    ivf.cents.zip(cents).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a, b))
    }
    ivf.requirePairedWith(floatPath) // must not throw
    val rep = BatchedServer.FlatReplica(rows)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val rnd = new scala.util.Random(7)
    // queries near cluster centers (the serving regime) + one random
    val queries = cents.take(3).map { ce =>
      val e = ce.zipWithIndex.map { case (x, i) =>
        x + 0.05 * math.sin(i.toDouble) }
      val n = math.sqrt(e.map(x => x * x).sum); e.map(_ / n)
    } :+ {
      val e = Array.fill(d)(rnd.nextGaussian())
      val n = math.sqrt(e.map(x => x * x).sum); e.map(_ / n)
    }
    try {
      // FULL PROBE parity: nprobe = C covers every row, so the pruned
      // scan must be row-for-row identical to the full scan — float...
      val full = ShardWorker.topK(rep, pool, 4, queries, k, 0.0)
      queries.zipWithIndex.foreach { case (q, qi) =>
        val rs = ShardWorker.probeRanges(ivf, q, nprobe = ivf.c)
        assert(rs.map { case (lo, hi) => hi - lo }.sum == rows.length,
          "full probe must cover the whole slab")
        val pruned = ShardWorker.topK(rep, pool, 4, Array(q), k, 0.0, rs)
        assert(pruned(0).toSeq == full(qi).toSeq, s"float full-probe, q$qi")
      }
      // ...and int8 (pruned byte-slab phase 1 + mmap rescore)
      val slab = SlabIO.readInt8(s"$floatPath.i8")
      val (fbuf, ds) = SlabIO.mapFloatForRescore(floatPath)
      val i8 = new SlabIO.MappedFloats(slab, fbuf, ds)
      val i8full = BatchedServer.int8TwoPhase(i8, slab.codes, queries, k, 0.0,
        3.0, pool, 4)
      queries.zipWithIndex.foreach { case (q, qi) =>
        val rs = ShardWorker.probeRanges(ivf, q, nprobe = ivf.c)
        val pruned = BatchedServer.int8TwoPhase(i8, slab.codes,
          Array(q), k, 0.0, 3.0, pool, 4, ranges = rs)
        assert(pruned(0).toSeq == i8full(qi).toSeq, s"int8 full-probe, q$qi")
      }
      // PARTIAL probe (nprobe=2): every returned hit's score must be the
      // row's true exact score (pruning drops candidates, never corrupts
      // survivors) and the ranking/tie order must hold
      queries.indices.foreach { qi =>
        val q = queries(qi)
        val rs = ShardWorker.probeRanges(ivf, q, nprobe = 2)
        val pruned = ShardWorker.topK(rep, pool, 4, Array(q), k, 0.0, rs)(0)
        val exactScore = rows.map { case (id, e, u) =>
          var s = 0.0; var i = 0
          while (i < d) { s += e(i) * q(i); i += 1 }
          id -> graft.plans.Num.round6(s)
        }.toMap
        pruned.foreach { case (id, s, _) =>
          assert(s == exactScore(id), s"pruned score must be exact, q$qi id$id")
        }
        assert(pruned.sortBy { case (id, s, _) => (-s, id) }.toSeq
          == pruned.toSeq, s"pruned order, q$qi")
        // near-center queries: the top-k lives in the probed cells, so
        // nprobe=2 already reproduces the full answer on this fixture
        if (qi < 3) assert(pruned.toSeq == full(qi).toSeq,
          s"clustered query q$qi must recall its cell's top-k at nprobe=2")
      }
      // end-to-end over a socket at full probe: ivf worker ≡ exact
      def freePort(): Int = {
        val s = new java.net.ServerSocket(0)
        try s.getLocalPort finally s.close()
      }
      val port = freePort()
      val t = new Thread(new Runnable {
        def run(): Unit = ShardWorker.main(Array(floatPath, port.toString,
          k.toString, "0.0", "threads=2", s"ivf=$floatPath.ivf",
          s"nprobe=${ivf.c}"))
      })
      t.setDaemon(true); t.start()
      var router: RemoteShardedRouter = null
      var tries = 0
      while (router == null) {
        try router = new RemoteShardedRouter(
          Seq(("127.0.0.1", port)), k, connsPerShard = 2)
        catch { case e: java.io.IOException =>
          tries += 1; if (tries > 60) throw e; Thread.sleep(250) }
      }
      try queries.zipWithIndex.foreach { case (q, qi) =>
        assert(router.search(q).toSeq == full(qi).toSeq, s"socket ivf, q$qi")
      } finally router.close()
      // pairing: a sidecar against a REGENERATED same-shape slab must
      // fail loud (its cell offsets would silently mis-slice the rows)
      val regen = s"$dir/regen.slab"
      SlabIO.write(regen, rows.map { case (id, e, u) => (id, e.map(-_), u) })
      val ex = intercept[IllegalArgumentException](
        ivf.requirePairedWith(regen))
      assert(ex.getMessage.contains("content-fingerprint mismatch"))
    } finally {
      pool.shutdownNow()
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala
        .foreach(p => try java.nio.file.Files.deleteIfExists(p)
          catch { case _: java.io.IOException => () })
    }
  }

  /** Brute-force FILTERED oracle: exact top-k over only the rows whose
    * user is in the list — the same semantics as
    * `Search.knn(preFilter = user_id IN (...))`. */
  private def bruteFiltered(rows: Array[(Long, Array[Double], Int)],
      q: Array[Double], users: Seq[Int], k: Int, th: Double)
      : Seq[(Long, Double, Int)] =
    rows.filter(r => users.contains(r._3)).map { case (id, e, u) =>
      var s = 0.0; var i = 0
      val nd = math.min(e.length, q.length)
      while (i < nd) { s += e(i) * q(i); i += 1 }
      (id, graft.plans.Num.round6(s), u)
    }.filter(_._2 >= th)
      .sortBy { case (id, s, _) => (-s, id) }.take(k).toSeq

  test("filtered serving planner: selective ≡ exact filtered scan, broad " +
      "rides the pruned cells, int8 selective rescores from mmap — all " +
      "row-for-row vs the filtered oracle (VERDICT r16 #1)") {
    val d = 32
    val (rows, cids, cents, offs) = mkClustered(c = 8, perCell = 60, d = d)
    val k = 10
    val th = 0.0
    val dir = tempDir("slab_filtered").toString
    val floatPath = s"$dir/shard.slab"
    SlabIO.write(floatPath, rows)
    SlabIO.writeIvf(s"$floatPath.ivf", cids, cents, offs, floatPath)
    SlabIO.writeInt8(s"$floatPath.i8", rows, floatPath)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val queries = cents.take(3).map { ce =>
      val e = ce.zipWithIndex.map { case (x, i) =>
        x + 0.05 * math.sin(i.toDouble) }
      val n = math.sqrt(e.map(x => x * x).sum); e.map(_ / n)
    }
    val filters = Seq(Seq(3), Seq(1, 4, 7), Seq(0, 2, 5, 8, 9))
    try {
      // in-proc planner over every mode × filter × query combination
      val stFloat = ShardWorker.loadState(floatPath, "", s"$floatPath.ivf",
        nprobe = cids.length, oversample = 3.0, version = 1)
      val stInt8 = ShardWorker.loadState(floatPath, s"$floatPath.i8",
        s"$floatPath.ivf", nprobe = cids.length, oversample = 3.0, version = 1)
      val stNoIvf = ShardWorker.loadState(floatPath, "", "",
        nprobe = 0, oversample = 3.0, version = 1)
      queries.foreach { q =>
        filters.foreach { us =>
          val want = bruteFiltered(rows, q, us, k, th)
          // selective branch (matched ≪ default threshold): exact scan
          // over postings rows — float, int8 (mmap rescore), and no-ivf
          Seq(stFloat, stInt8, stNoIvf).foreach { st =>
            val got = ShardWorker.filteredTopK(st, us.toArray, q, k, th,
              ShardWorker.DefaultFullScanThreshold, pool, 4)
            assert(got.toSeq == want,
              s"selective filtered (int8=${st.int8}, ivf=${st.ivf != null})")
          }
          // broad branch (fullScanTh = 0 forces it) at FULL probe: the
          // probed cells cover every row, so post-filtered pruned scan
          // must equal the exact filtered oracle — float path...
          val gotBroad = ShardWorker.filteredTopK(stFloat, us.toArray, q, k,
            th, 0, pool, 4)
          assert(gotBroad.toSeq == want, "broad filtered at full probe")
          // ...and int8: oversample large enough that phase 1 keeps every
          // matching row, so the two-phase result is exact — pins the
          // filter-before-rank plumbing deterministically
          val stInt8Wide = stInt8.copy(oversample = rows.length.toDouble)
          val gotBroad8 = ShardWorker.filteredTopK(stInt8Wide, us.toArray, q,
            k, th, 0, pool, 4)
          assert(gotBroad8.toSeq == want, "broad int8 filtered at full probe")
          // broad at PARTIAL probe: hits satisfy the filter, carry exact
          // scores, in (score desc, id asc) order — pruning may drop
          // candidates, never corrupt or leak non-matching rows
          val stNarrow = stFloat.copy(nprobe = 2)
          val gotPartial = ShardWorker.filteredTopK(stNarrow, us.toArray, q,
            k, th, 0, pool, 4)
          val exactScore = rows.map { case (id, e, u) =>
            var s = 0.0; var i = 0
            while (i < d) { s += e(i) * q(i); i += 1 }
            id -> graft.plans.Num.round6(s)
          }.toMap
          gotPartial.foreach { case (id, s, u) =>
            assert(us.contains(u), "partial-probe hit must satisfy the filter")
            assert(s == exactScore(id), "partial-probe score must be exact")
          }
          assert(gotPartial.sortBy { case (id, s, _) => (-s, id) }.toSeq
            == gotPartial.toSeq)
        }
      }
      // end-to-end over the socket: FilteredCmd frame through the router
      // on BOTH branches (default threshold = selective; 0 = broad)
      def freePort(): Int = {
        val s = new java.net.ServerSocket(0)
        try s.getLocalPort finally s.close()
      }
      Seq(ShardWorker.DefaultFullScanThreshold, 0).foreach { fullScanTh =>
        val port = freePort()
        val t = new Thread(new Runnable {
          def run(): Unit = ShardWorker.main(Array(floatPath, port.toString,
            k.toString, th.toString, "threads=2", s"ivf=$floatPath.ivf",
            s"nprobe=${cids.length}", s"full_scan=$fullScanTh"))
        })
        t.setDaemon(true); t.start()
        var router: RemoteShardedRouter = null
        var tries = 0
        while (router == null) {
          try router = new RemoteShardedRouter(
            Seq(("127.0.0.1", port)), k, connsPerShard = 2)
          catch { case e: java.io.IOException =>
            tries += 1; if (tries > 60) throw e; Thread.sleep(250) }
        }
        try queries.foreach { q =>
          filters.foreach { us =>
            assert(router.searchFiltered(q, us.toArray).toSeq ==
              bruteFiltered(rows, q, us, k, th),
              s"socket filtered (fullScanTh=$fullScanTh)")
          }
        } finally router.close()
      }
    } finally {
      pool.shutdownNow()
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala
        .foreach(p => try java.nio.file.Files.deleteIfExists(p)
          catch { case _: java.io.IOException => () })
    }
  }

  test("serving knobs file: a worker launched with the nprobe=-1 sentinel " +
      "serves the PERSISTED calibration, and regenerating the knobs " +
      "changes the served nprobe via RELOAD with no relaunch args " +
      "(VERDICT r16 #6)") {
    val d = 32
    val (rows, cids, cents, offs) = mkClustered(c = 8, perCell = 60, d = d)
    val k = 10
    val dir = tempDir("slab_knobs").toString
    val floatPath = s"$dir/shard.slab"
    SlabIO.write(floatPath, rows)
    SlabIO.writeIvf(s"$floatPath.ivf", cids, cents, offs, floatPath)
    // knobs v1: nprobe=1 — deliberately narrow
    SlabIO.writeKnobs(s"$floatPath.ivf.knobs", nprobe = 1, oversample = 3.0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    // a query BETWEEN two cluster centers: its true top-k spans two
    // cells, so nprobe=1 and nprobe=C give different answers — the
    // observable that proves which knob is being served
    val q = {
      val e = cents(0).zip(cents(1)).map { case (a, b) => a + b }
      val n = math.sqrt(e.map(x => x * x).sum); e.map(_ / n)
    }
    try {
      val rep = BatchedServer.FlatReplica(rows)
      val fullAnswer = ShardWorker.topK(rep, pool, 4, Array(q), k, 0.0)(0).toSeq
      val narrowAnswer = {
        val ivf = SlabIO.readIvf(s"$floatPath.ivf")
        val rs = ShardWorker.probeRanges(ivf, q, nprobe = 1)
        ShardWorker.topK(rep, pool, 4, Array(q), k, 0.0, rs)(0).toSeq
      }
      assert(narrowAnswer != fullAnswer,
        "fixture must make nprobe observable (cross-cell query)")
      def freePort(): Int = {
        val s = new java.net.ServerSocket(0)
        try s.getLocalPort finally s.close()
      }
      val port = freePort()
      val t = new Thread(new Runnable {
        def run(): Unit = ShardWorker.main(Array(floatPath, port.toString,
          k.toString, "0.0", "threads=2", s"ivf=$floatPath.ivf", "nprobe=-1"))
      })
      t.setDaemon(true); t.start()
      var router: RemoteShardedRouter = null
      var tries = 0
      while (router == null) {
        try router = new RemoteShardedRouter(
          Seq(("127.0.0.1", port)), k, connsPerShard = 2)
        catch { case e: java.io.IOException =>
          tries += 1; if (tries > 60) throw e; Thread.sleep(250) }
      }
      try {
        // launch read knobs v1: the worker serves nprobe=1
        assert(router.search(q).toSeq == narrowAnswer,
          "worker must serve the persisted nprobe=1")
        // the store-side calibration regenerates its knobs; the SAME
        // reload manifest (sentinel nprobe) now serves the new value
        SlabIO.writeKnobs(s"$floatPath.ivf.knobs",
          nprobe = cids.length, oversample = 3.0)
        val r = router.reload(0, floatPath, ivfPath = s"$floatPath.ivf",
          nprobe = -1)
        assert(r.isRight, s"knobs reload must succeed, got $r")
        assert(router.search(q).toSeq == fullAnswer,
          "regenerated knobs must change the served nprobe without " +
            "relaunch args")
        // the reload was ACKED: the router's per-endpoint generation
        // gauge shows it (ADVICE r16 #3 — a stale replica is observable)
        val m = router.metricsText()
        assert(m.contains(
          "graft_router_last_acked_generation{shard=\"0\",endpoint=\"0\"} 2"),
          s"generation ack must ride metricsText:\n$m")
      } finally router.close()
    } finally {
      pool.shutdownNow()
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala
        .foreach(p => try java.nio.file.Files.deleteIfExists(p)
          catch { case _: java.io.IOException => () })
    }
  }

  test("patchCellOrdered validation flag catches an INCOMPLETE dirty-cell " +
      "set (stale id surviving in a clean cell) — ADVICE r16 #1") {
    val d = 16
    val (rows, cids, cents, offs) = mkClustered(c = 6, perCell = 40, d = d)
    val dir = tempDir("slab_patchval").toString
    val v1 = s"$dir/v1.slab"
    SlabIO.write(v1, rows)
    SlabIO.writeIvf(s"$v1.ivf", cids, cents, offs, v1)
    def cellRows(j: Int) = rows.slice(offs(j), offs(j + 1))
    // an UPSERT that moves cell 2's first row into cell 1 — but the
    // caller's dirty set omits cell 2, leaving the stale copy behind:
    // the exact silent divergence the guard exists to catch
    val moved = cellRows(2).head
    val cell1Bad = (cellRows(1) :+ ((moved._1, cellRows(1).head._2, moved._3)))
      .sortBy(_._1)
    val incomplete = Map(1 -> cell1Bad)
    val ex = intercept[IllegalArgumentException] {
      SlabIO.patchCellOrdered(v1, s"$v1.ivf", incomplete,
        s"$dir/bad.slab", s"$dir/bad.ivf", validate = true)
    }
    assert(ex.getMessage.contains("INCOMPLETE"), ex.getMessage)
    // the COMPLETE set (cell 2 included, with the moved row removed)
    // passes validation and still patches byte-identically
    val complete = Map(1 -> cell1Bad, 2 -> cellRows(2).drop(1))
    val (n2, _, _) = SlabIO.patchCellOrdered(v1, s"$v1.ivf", complete,
      s"$dir/good.slab", s"$dir/good.ivf", validate = true)
    assert(n2 == rows.length) // one row moved: same total
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .iterator().asScala
      .foreach(p => try java.nio.file.Files.deleteIfExists(p)
        catch { case _: java.io.IOException => () })
  }

  test("graph sidecar tier: round-trip, beam=n descent == full scan, " +
      "partial beam keeps exact scores/order, socket e2e + filtered via " +
      "postings, fingerprint fails loud (VERDICT r16 #4)") {
    val d = 32
    val (rows, _, cents, offs) = mkClustered(c = 8, perCell = 60, d = d)
    val n = rows.length
    val k = 10
    val dir = tempDir("slab_graph").toString
    val floatPath = s"$dir/shard.slab"
    SlabIO.write(floatPath, rows)
    // brute-force 8-NN graph made UNDIRECTED (the graphBuild shape:
    // reverse links make greedy routing navigable), entries = each
    // cell's first row (the coarse entry tier)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      val nd = math.min(a.length, b.length)
      while (i < nd) { s += a(i) * b(i); i += 1 }
      graft.plans.Num.round6(s)
    }
    val adj = Array.fill(n)(scala.collection.mutable.SortedSet.empty[Int])
    (0 until n).foreach { i =>
      val nbrs = (0 until n).filter(_ != i)
        .map(j => (dot(rows(i)._2, rows(j)._2), rows(j)._1, j))
        .sortBy { case (s, id, _) => (-s, id) }.take(8).map(_._3)
      nbrs.foreach { j => adj(i) += j; adj(j) += i }
    }
    val gOffs = new Array[Int](n + 1)
    (0 until n).foreach(i => gOffs(i + 1) = gOffs(i) + adj(i).size)
    val gNbrs = (0 until n).flatMap(adj(_).toSeq).toArray
    val entries = (0 until 8).map(offs(_)).toArray
    // fixture property the beam=n parity rests on: the graph is CONNECTED
    // (BFS from the entries reaches every row)
    val seen = scala.collection.mutable.Set[Int](entries.toIndexedSeq: _*)
    var frontier = entries.toSeq
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(adj(_)).distinct.filterNot(seen)
      seen ++= frontier
    }
    assert(seen.size == n, s"fixture graph must be connected: ${seen.size}/$n")
    SlabIO.writeGraph(s"$floatPath.graph", gOffs, gNbrs, entries, floatPath)
    val g = SlabIO.readGraph(s"$floatPath.graph")
    assert(g.n == n && g.offs.toSeq == gOffs.toSeq &&
      g.nbrs.toSeq == gNbrs.toSeq && g.entries.toSeq == entries.toSeq)
    g.requirePairedWith(floatPath)
    val rep = BatchedServer.FlatReplica(rows)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val rnd = new scala.util.Random(13)
    val queries = cents.take(3).map { ce =>
      val e = ce.zipWithIndex.map { case (x, i) =>
        x + 0.05 * math.cos(i.toDouble) }
      val nn = math.sqrt(e.map(x => x * x).sum); e.map(_ / nn)
    } :+ {
      val e = Array.fill(d)(rnd.nextGaussian())
      val nn = math.sqrt(e.map(x => x * x).sum); e.map(_ / nn)
    }
    try {
      val full = ShardWorker.topK(rep, pool, 4, queries, k, 0.0)
      queries.zipWithIndex.foreach { case (q, qi) =>
        // beam = n: the descent is a BFS over the connected graph — it
        // must visit every row and equal the full scan row for row
        val atN = ShardWorker.graphTopK(rep, g, q, k, 0.0, beam = n)
        assert(atN.toSeq == full(qi).toSeq, s"beam=n parity, q$qi")
        // partial beam: every hit carries its true exact score, in the
        // global (score desc, id asc) order — descent drops candidates,
        // never corrupts survivors
        val atB = ShardWorker.graphTopK(rep, g, q, k, 0.0, beam = 8)
        val exactScore = rows.map { case (id, e, _) => id -> dot(e, q) }.toMap
        atB.foreach { case (id, s, _) =>
          assert(s == exactScore(id), s"beam-8 score must be exact, q$qi")
        }
        assert(atB.sortBy { case (id, s, _) => (-s, id) }.toSeq == atB.toSeq)
        // near-center queries recall their cluster's top-k at beam=8 on
        // this fixture (the serving regime)
        if (qi < 3) assert(atB.toSeq == full(qi).toSeq, s"clustered q$qi")
      }
      // FILTERED planner on a graph worker: selective stays the exact
      // postings path; broad (fullScanTh = 0) descends the FULL graph
      // with the predicate gating result ELIGIBILITY only (the
      // filtered-HNSW semantics; batch twin = graphBeamSearch preFilter).
      // At beam = n the descent is a BFS over the connected fixture, so
      // descend-then-filter must equal the exact filtered oracle
      // row-for-row; at the serving beam every hit satisfies the
      // predicate with its exact score in global order.
      val stGraph = ShardWorker.loadState(floatPath, "", "",
        nprobe = 0, oversample = 3.0, version = 1,
        graphPath = s"$floatPath.graph", beam = n)
      val usSel = Seq(3)
      val usBroad = Seq(1, 4, 7)
      queries.foreach { q =>
        assert(ShardWorker.filteredTopK(stGraph, usSel.toArray, q, k, 0.0,
          ShardWorker.DefaultFullScanThreshold, pool, 4).toSeq ==
          bruteFiltered(rows, q, usSel, k, 0.0),
          "graph-worker selective filtered must stay exact")
        assert(ShardWorker.filteredTopK(stGraph, usBroad.toArray, q, k, 0.0,
          0, pool, 4).toSeq == bruteFiltered(rows, q, usBroad, k, 0.0),
          "graph-worker broad filtered at beam=n must equal the oracle")
        val stB = stGraph.copy(beam = 8)
        val gotB = ShardWorker.filteredTopK(stB, usBroad.toArray, q, k, 0.0,
          0, pool, 4)
        val exactScore = rows.map { case (id, e, _) => id -> dot(e, q) }.toMap
        gotB.foreach { case (id, s, u) =>
          assert(usBroad.contains(u), "broad descent hit must match filter")
          assert(s == exactScore(id), "broad descent score must be exact")
        }
        assert(gotB.sortBy { case (id, s, _) => (-s, id) }.toSeq == gotB.toSeq)
      }
      // sidecar composition rules: graph+ivf and graph+int8 fail loud
      SlabIO.writeInt8(s"$floatPath.i8", rows, floatPath)
      val exIvf = intercept[IllegalArgumentException](
        ShardWorker.loadState(floatPath, "", s"$floatPath.graph",
          nprobe = 1, oversample = 3.0, version = 1,
          graphPath = s"$floatPath.graph", beam = 8))
      assert(exIvf.getMessage.contains("alternative phase-1"))
      val exI8 = intercept[IllegalArgumentException](
        ShardWorker.loadState(floatPath, s"$floatPath.i8", "",
          nprobe = 0, oversample = 3.0, version = 1,
          graphPath = s"$floatPath.graph", beam = 8))
      assert(exI8.getMessage.contains("float kernel"))
      // socket e2e: a graph worker serves the descent (beam=n for exact
      // parity over the wire) and filtered requests take the exact
      // postings path — both row-for-row vs their oracles
      def freePort(): Int = {
        val s = new java.net.ServerSocket(0)
        try s.getLocalPort finally s.close()
      }
      val port = freePort()
      val t = new Thread(new Runnable {
        def run(): Unit = ShardWorker.main(Array(floatPath, port.toString,
          k.toString, "0.0", "threads=2", s"graph=$floatPath.graph",
          s"beam=$n"))
      })
      t.setDaemon(true); t.start()
      var router: RemoteShardedRouter = null
      var tries = 0
      while (router == null) {
        try router = new RemoteShardedRouter(
          Seq(("127.0.0.1", port)), k, connsPerShard = 2)
        catch { case e: java.io.IOException =>
          tries += 1; if (tries > 60) throw e; Thread.sleep(250) }
      }
      try {
        queries.zipWithIndex.foreach { case (q, qi) =>
          assert(router.search(q).toSeq == full(qi).toSeq, s"socket graph q$qi")
          val us = Seq(3, 7)
          assert(router.searchFiltered(q, us.toArray).toSeq ==
            bruteFiltered(rows, q, us, k, 0.0), s"graph-worker filtered q$qi")
        }
        // RELOAD into a graph generation round-trips the new frame fields
        val r = router.reload(0, floatPath, graphPath = s"$floatPath.graph",
          beam = 8)
        assert(r.isRight, s"graph reload must succeed, got $r")
        queries.take(3).zipWithIndex.foreach { case (q, qi) =>
          assert(router.search(q).toSeq == full(qi).toSeq,
            s"post-reload beam-8 clustered q$qi")
        }
      } finally router.close()
      // socket e2e, BROAD branch: a graph worker launched with
      // fullScanTh = 0 serves every filtered request via the full-graph
      // descent (predicate gates eligibility only); at beam = n the BFS
      // covers the connected fixture, so the wire result must equal the
      // exact filtered oracle row-for-row
      val portB = freePort()
      val tB = new Thread(new Runnable {
        def run(): Unit = ShardWorker.main(Array(floatPath, portB.toString,
          k.toString, "0.0", "threads=2", "full_scan=0",
          s"graph=$floatPath.graph", s"beam=$n"))
      })
      tB.setDaemon(true); tB.start()
      var routerB: RemoteShardedRouter = null
      tries = 0
      while (routerB == null) {
        try routerB = new RemoteShardedRouter(
          Seq(("127.0.0.1", portB)), k, connsPerShard = 2)
        catch { case e: java.io.IOException =>
          tries += 1; if (tries > 60) throw e; Thread.sleep(250) }
      }
      try queries.foreach { q =>
        val us = Seq(1, 4, 7)
        assert(routerB.searchFiltered(q, us.toArray).toSeq ==
          bruteFiltered(rows, q, us, k, 0.0),
          "socket broad filtered descent (graph worker, fullScanTh=0)")
      } finally routerB.close()
      // pairing: sidecar vs a regenerated same-shape slab fails loud
      val regen = s"$dir/regen.slab"
      SlabIO.write(regen, rows.map { case (id, e, u) => (id, e.map(-_), u) })
      val ex = intercept[IllegalArgumentException](g.requirePairedWith(regen))
      assert(ex.getMessage.contains("content-fingerprint mismatch"))
    } finally {
      pool.shutdownNow()
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala
        .foreach(p => try java.nio.file.Files.deleteIfExists(p)
          catch { case _: java.io.IOException => () })
    }
  }

  test("shared lap: any start piece covers every row once; concurrent " +
      "clients across mid-lap reloads and a tiny slab get topK of their " +
      "generation bit for bit; a lone request returns on its own") {
    import org.scalacheck.{Gen, Prop}
    val P = BatchedServer.LapPieceRows
    val tiling = Prop.forAll(
        Gen.oneOf(Gen.choose(0, 5 * P + 7), Gen.oneOf(0, 1, P - 1, P, P + 1, 3 * P)),
        Gen.choose(0L, Long.MaxValue / 2)) { (n, start) =>
      val ps = (0 until BatchedServer.lapPieces(n))
        .map(j => BatchedServer.lapPiece(n, start + j)).sortBy(_._1)
      ps.head._1 == 0 && ps.last._2 == n &&
        ps.zip(ps.tail).forall { case (a, b) => a._2 == b._1 && a._1 < a._2 }
    }
    val tiled = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(500), tiling)
    assert(tiled.passed, tiled.status.toString)

    val d = 64
    val k = 7
    def unitRows(n: Int, seed: Int): Array[(Long, Array[Double], Int)] = {
      val r = new scala.util.Random(seed)
      Array.tabulate(n) { i =>
        val e = Array.fill(d)(r.nextGaussian())
        val norm = math.sqrt(e.map(x => x * x).sum)
        (i.toLong, e.map(_ / norm), i % 10)
      }
    }
    // three generations: 3 pieces, 2 pieces, and 2 rows (fewer rows than
    // the first slab has pieces, and than one piece holds)
    val gens = Seq(unitRows(2 * P + 1234, 1), unitRows(P + 777, 2), unitRows(2, 3))
    val dir = tempDir("slab_lap").toString
    val paths = gens.indices.map { g =>
      val p = s"$dir/v$g.slab"; SlabIO.write(p, gens(g)); p
    }
    val refPool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val reps = gens.map(BatchedServer.FlatReplica(_))
    def bits(hits: Array[(Long, Double, Int)]) = hits.toSeq.map {
      case (id, s, u) => (id, java.lang.Double.doubleToRawLongBits(s), u)
    }
    def expected(g: Int, q: Array[Double]) =
      bits(ShardWorker.topK(reps(g), refPool, 2, Array(q), k, 0.0)(0))
    val port = {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close()
    }
    val lapRef = new java.util.concurrent.atomic.AtomicReference[BatchedServer.SharedLap]()
    val t = new Thread(new Runnable {
      def run(): Unit = ShardWorker.run(
        Array(paths(0), port.toString, k.toString, "0.0", "threads=2"),
        lapRef.set)
    })
    t.setDaemon(true); t.start()
    val clients = 6
    val router = Drive.whenUp(new RemoteShardedRouter(
      Seq(("127.0.0.1", port)), k, connsPerShard = clients))
    val reloader = Drive.whenUp(new RemoteShardedRouter(
      Seq(("127.0.0.1", port)), k, connsPerShard = 1))
    val lap = lapRef.get()
    // generation sequence: reload s serves gens(schedule(s)); the worker's
    // generation always lies in [seqLo, seqHi]
    def schedule(s: Int): Int = s % 3
    val seqLo = new java.util.concurrent.atomic.AtomicInteger(0)
    val seqHi = new java.util.concurrent.atomic.AtomicInteger(0)
    def reloadTo(s: Int): Unit = {
      seqHi.set(s)
      val r = reloader.reload(0, paths(schedule(s)))
      assert(r.isRight, s"reload $s failed: $r")
      seqLo.set(s)
    }
    // each client's answers with the generation window they were served in
    def drive(perClient: Int, pauseNs: Int, seed: Int)
        : Seq[(Array[Double], Seq[(Long, Long, Int)], Int, Int)] = {
      val ex = java.util.concurrent.Executors.newFixedThreadPool(clients)
      try {
        (0 until clients).map { c =>
          ex.submit(new java.util.concurrent.Callable[Seq[(Array[Double], Seq[(Long, Long, Int)], Int, Int)]] {
            def call() = {
              val r = new scala.util.Random(seed * 100 + c)
              (0 until perClient).map { _ =>
                if (pauseNs > 0)
                  java.util.concurrent.locks.LockSupport.parkNanos(r.nextInt(pauseNs).toLong)
                val q = {
                  val e = Array.fill(d)(r.nextGaussian())
                  val norm = math.sqrt(e.map(x => x * x).sum); e.map(_ / norm)
                }
                val lo = seqLo.get()
                val hits = bits(router.search(q))
                (q, hits, lo, seqHi.get())
              }
            }
          })
        }.flatMap(_.get())
      } finally ex.shutdownNow()
    }
    def servedBy(a: (Array[Double], Seq[(Long, Long, Int)], Int, Int)): Set[Int] =
      (a._3 to a._4).map(schedule).toSet.filter(g => expected(g, a._1) == a._2)
    try {
      // 1. random join offsets (random pauses) while reloads cycle the
      // three generations under the clients
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val reloadError = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val reloads = new Thread(new Runnable {
        def run(): Unit = try {
          var s = 0
          while (!stop.get()) {
            s += 1; reloadTo(s)
            Thread.sleep(5)
          }
        } catch { case e: Throwable => reloadError.set(e) }
      })
      reloads.start()
      val mixed = try drive(perClient = 100, pauseNs = 3000000, seed = 1)
        finally { stop.set(true); reloads.join() }
      assert(reloadError.get() == null, s"reload failed: ${reloadError.get()}")
      val served = mixed.map(servedBy)
      served.zipWithIndex.foreach { case (gs, i) =>
        assert(gs.nonEmpty, s"answer $i equals topK on no generation live while it ran")
      }
      assert(served.flatten.distinct.size >= 2,
        s"the reloads did not land under the clients: ${served.flatten.distinct}")
      // 2. closed loop on the 3-piece slab: every answer exact, and the
      // concurrent queries share the pieces
      reloadTo(((seqHi.get() / 3) + 1) * 3)
      val (pieces0, active0) = (lap.pieces.get(), lap.activeSum.get())
      val closed = drive(perClient = 30, pauseNs = 0, seed = 2)
      closed.foreach(a => assert(a._2 == expected(0, a._1)))
      val meanActive = (lap.activeSum.get() - active0).toDouble /
        (lap.pieces.get() - pieces0)
      assert(meanActive > 1.0, s"mean active queries per piece $meanActive")
      // 3. a lone request is served with no other traffic
      val q = gens(0)(4321)._2
      val lone = scala.concurrent.Future(bits(router.search(q)))(
        scala.concurrent.ExecutionContext.global)
      assert(scala.concurrent.Await.result(lone,
        scala.concurrent.duration.Duration(30, "s")) == expected(0, q))
      assert(lap.summary.startsWith("LAP laps="))
    } finally {
      router.close()
      reloader.close()
      refPool.shutdownNow()
    }
  }

  test("bad frames (negative, unknown-command, oversize, truncated) close " +
      "only their connection; the worker then answers bit-identically") {
    import org.scalacheck.Gen
    val d = 16
    val rows = mkRows(300, d)
    val k = 5
    val slab = s"${tempDir("slab_frames")}/v1.slab"
    SlabIO.write(slab, rows)
    val port = {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close()
    }
    val t = new Thread(new Runnable {
      def run(): Unit = ShardWorker.main(
        Array(slab, port.toString, k.toString, "0.0", "threads=2"))
    })
    t.setDaemon(true); t.start()
    def connect() = Drive.whenUp(new RemoteShardedRouter(
      Seq(("127.0.0.1", port)), k, connsPerShard = 1))
    val q = rows(17)._2
    val users = Array(3, 4)
    def bits(hits: Array[(Long, Double, Int)]) = hits.toSeq.map {
      case (id, s, u) => (id, java.lang.Double.doubleToRawLongBits(s), u)
    }
    val before = connect()
    val (plain, filtered) =
      try (bits(before.search(q)), bits(before.searchFiltered(q, users)))
      finally before.close()
    def frame(body: java.io.DataOutputStream => Unit): Array[Byte] = {
      val bytes = new java.io.ByteArrayOutputStream
      val out = new java.io.DataOutputStream(bytes)
      body(out); out.flush(); bytes.toByteArray
    }
    def search(out: java.io.DataOutputStream): Unit = {
      out.writeInt(1); out.writeInt(d); q.foreach(out.writeDouble)
    }
    val Filtered = ShardWorker.FilteredCmd
    val valid = Gen.oneOf(
      frame(search),
      frame { o => o.writeInt(Filtered); o.writeInt(2); users.foreach(o.writeInt); search(o) },
      frame { o =>
        o.writeInt(ShardWorker.ReloadCmd); o.writeUTF(slab); o.writeUTF("")
        o.writeUTF(""); o.writeInt(0); o.writeDouble(3.0); o.writeUTF(""); o.writeInt(0)
      })
    val neg = Gen.choose(Int.MinValue, -1)
    def over(max: Int) = Gen.choose(max + 1, max * 4)
    // whole headers the worker must reject without waiting for more bytes
    val rejected = Gen.oneOf(
      neg.suchThat(c => c != ShardWorker.ReloadCmd && c != Filtered)
        .map(c => frame(_.writeInt(c))),
      neg.map(nu => frame { o => o.writeInt(Filtered); o.writeInt(nu) }),
      over(ShardWorker.MaxFilterUsers)
        .map(nu => frame { o => o.writeInt(Filtered); o.writeInt(nu) }),
      neg.map(nq => frame { o =>
        o.writeInt(Filtered); o.writeInt(1); o.writeInt(3); o.writeInt(nq) }),
      for (nq <- Gen.choose(1, 4); dd <- neg)
        yield frame { o => o.writeInt(nq); o.writeInt(dd) },
      over(ShardWorker.MaxFrameCells)
        .map(dd => frame { o => o.writeInt(1); o.writeInt(dd) }),
      over(ShardWorker.MaxFrameCells).map(nq => frame(_.writeInt(nq))),
      for (nq <- Gen.choose(2, 64);
           dd <- Gen.choose(ShardWorker.MaxFrameCells / nq + 1, ShardWorker.MaxFrameCells))
        yield frame { o => o.writeInt(nq); o.writeInt(dd) },
      // a query dim other than the (uniform) slab dim
      for (nq <- Gen.choose(1, 4);
           dd <- Gen.oneOf(Gen.choose(0, d - 1), Gen.choose(d + 1, 4 * d)))
        yield frame { o => o.writeInt(nq); o.writeInt(dd) })
    val truncated = for (f <- valid; cut <- Gen.choose(1, f.length - 1))
      yield f.take(cut)
    // the worker's first reply byte, or -1 once it closes the connection
    def send(bytes: Array[Byte], halfClose: Boolean): Int = {
      val s = new java.net.Socket("127.0.0.1", port)
      try {
        s.setSoTimeout(10000) // a worker waiting on a bad frame times out here
        s.getOutputStream.write(bytes); s.getOutputStream.flush()
        if (halfClose) s.shutdownOutput()
        try s.getInputStream.read() catch { case _: java.net.SocketException => -1 }
      } finally s.close()
    }
    val seed = org.scalacheck.rng.Seed(20261018L)
    Gen.listOfN(60, rejected).pureApply(Gen.Parameters.default, seed).foreach { f =>
      assert(send(f, halfClose = false) == -1, s"frame ${f.toSeq} was not rejected")
    }
    Gen.listOfN(30, truncated).pureApply(Gen.Parameters.default, seed.next).foreach { f =>
      assert(send(f, halfClose = true) == -1, s"truncated frame ${f.toSeq} got a reply")
    }
    val after = connect()
    try {
      after.ping()
      assert(bits(after.search(q)) == plain)
      assert(bits(after.searchFiltered(q, users)) == filtered)
    } finally after.close()
  }

  test("reload heap headroom arithmetic (ADVICE r16 #2): float needs " +
      "~3.5x the slab file, int8 ~2x the code file; the gate sits at " +
      "exactly that boundary") {
    assert(ShardWorker.reloadHeapNeed(1000L, 0L) == 3500L)
    assert(ShardWorker.reloadHeapNeed(8000L, 1000L) == 2000L)
    assert(ShardWorker.reloadHeadroomOk(3500L, 1000L, 0L))
    assert(!ShardWorker.reloadHeadroomOk(3499L, 1000L, 0L))
    assert(ShardWorker.reloadHeadroomOk(2000L, 8000L, 1000L))
    assert(!ShardWorker.reloadHeadroomOk(1999L, 8000L, 1000L))
  }

  test("launch parser: four positional args give the defaults, each named " +
      "key round-trips, malformed tokens fail before the slab loads") {
    import ShardWorker.LaunchConfig
    val base = Seq("/s.slab", "4100", "7", "0.25")
    val d = LaunchConfig.parse(base)
    assert(d == LaunchConfig("/s.slab", 4100, 7, 0.25,
      threads = math.max(4, Runtime.getRuntime.availableProcessors / 2),
      int8 = "", ivf = "", nprobe = 0, oversample = 3.0, fullScan = 20000,
      graph = "", beam = 0))
    val cases = Seq(
      "threads=3" -> d.copy(threads = 3),
      "int8=/s.slab.i8" -> d.copy(int8 = "/s.slab.i8"),
      "ivf=/s.slab.ivf" -> d.copy(ivf = "/s.slab.ivf"),
      "nprobe=-1" -> d.copy(nprobe = -1),
      "oversample=2.5" -> d.copy(oversample = 2.5),
      "full_scan=0" -> d.copy(fullScan = 0),
      "graph=/s.slab.graph" -> d.copy(graph = "/s.slab.graph"),
      "beam=32" -> d.copy(beam = 32))
    assert(cases.map(_._1.takeWhile(_ != '=')) == LaunchConfig.Keys)
    cases.foreach { case (tok, want) => assert(LaunchConfig.parse(base :+ tok) == want) }
    assert(LaunchConfig.parse(base ++ cases.map(_._1)) == LaunchConfig("/s.slab",
      4100, 7, 0.25, 3, "/s.slab.i8", "/s.slab.ivf", -1, 2.5, 0, "/s.slab.graph", 32))
    // a missing slab would throw NoSuchFileException: each bad launch
    // fails on its args first
    val missing = Seq("/no/such.slab", "0", "7", "0.25")
    Seq(Seq("threads=2", "stall=5") -> "unknown launch key(s) stall",
      Seq("beam=8", "beam=16") -> "repeated launch key(s) beam",
      Seq("threads") -> "'threads' is not key=value",
      Seq("2") -> "'2' is not key=value",
      Seq("=2") -> "'=2' is not key=value").foreach { case (extra, msg) =>
      val ex = intercept[IllegalArgumentException](
        ShardWorker.main((missing ++ extra).toArray))
      assert(ex.getMessage.contains(msg) && ex.getMessage.contains("usage:"),
        ex.getMessage)
    }
    assert(intercept[IllegalArgumentException](ShardWorker.main(
      Array("/no/such.slab", "0", "7"))).getMessage.contains("usage:"))
  }
}
