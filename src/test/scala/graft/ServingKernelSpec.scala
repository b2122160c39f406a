package graft

import org.scalatest.funsuite.AnyFunSuite

/** Exhaustive parity of the serving scan kernel ([[BatchedServer.scoreRange]])
  * against a naive reference: the row-blocked kernel and the f32 SIMD
  * phase 1 with its certified gate and exact rescore must produce
  * BIT-IDENTICAL results to "exact left-to-right dot, 6dp HALF_UP round,
  * (score desc, id asc) top-k, threshold ≥" on any input — the blocking,
  * the f32 gate and the rounding gate are pure execution detail. No Spark
  * session needed: the kernel is plain JVM code.
  *
  * (These specs also graded the round-10 int8-gate experiment — a
  * quantized scan with certified-bound exact rescore, Qdrant's scalar
  * quantization shape. It passed all of them but measured SLOWER than
  * the blocked double kernel on this JVM — 24.7 vs 33.5 Gcells/s at the
  * design point; scalar byte loads + 3-cycle imuls lose to latency-
  * hidden double FMAs without SIMD — so it was reverted. PLANS_r10.) */
class ServingKernelSpec extends AnyFunSuite {

  private def round6(x: Double): Double = graft.plans.Num.round6(x)

  /** Naive reference: per query, exact sequential dots over min-length,
    * round6, threshold, (score desc, id asc) top-k; a NaN dot never
    * places. */
  private def reference(rows: Array[(Long, Array[Double], Int)],
      queries: Array[Array[Double]], k: Int, th: Double)
      : Map[Int, Seq[(Long, Double, Int)]] =
    queries.zipWithIndex.map { case (q, qi) =>
      qi -> rows.toSeq.flatMap { case (id, emb, u) =>
        val nd = math.min(emb.length, q.length)
        var s = 0.0d
        var d = 0
        while (d < nd) { s += emb(d) * q(d); d += 1 }
        if (s.isNaN) None else Some((id, round6(s), u))
      }.filter(_._2 >= th)
        .sortBy { case (id, s, _) => (-s, id) }
        .take(k)
    }.toMap

  private def viaKernel(rows: Array[(Long, Array[Double], Int)],
      queries: Array[Array[Double]], k: Int, th: Double,
      useSimd: Boolean = true): Map[Int, Seq[(Long, Double, Int)]] = {
    val rep = BatchedServer.FlatReplica(rows, useSimd)
    // exercise range boundaries too: three ranges scanned in turn straight
    // into one heap per query (the inline slicer), each starting at the
    // floor the ranges before it left. The odd range count also leaves
    // SIMD-block-unaligned boundaries, covering the scalar head/tail
    // stitching of the SIMD dispatch.
    val nSlices = 3
    val ranges = Array.tabulate(nSlices)(si =>
      (rep.n * si / nSlices, rep.n * (si + 1) / nSlices))
    BatchedServer.sliceTopK(Array.fill(queries.length)(new BatchedServer.TopK(k)),
      ranges, null, nSlices)(BatchedServer.scoreRange(rep, _, _, _, queries, th))
      .zipWithIndex.map { case (top, qi) => qi -> top.result().toSeq }.toMap
  }

  private def check(rows: Array[(Long, Array[Double], Int)],
      queries: Array[Array[Double]], k: Int, th: Double): Unit = {
    val expect = reference(rows, queries, k, th)
    // both kernels — scalar blocked AND (when the module is present)
    // the SIMD transposed-block path — must match the naive reference
    for (simd <- Seq(false, true)) {
      val got = viaKernel(rows, queries, k, th, useSimd = simd)
      queries.indices.foreach { qi =>
        assert(got(qi) == expect(qi),
          s"simd=$simd qi=$qi k=$k th=$th\n got=${got(qi)}\n want=${expect(qi)}")
      }
    }
  }

  test("SIMD kernel active in this JVM; every f32 lane lies within the " +
      "certified bound of the exact dot") {
    assume(BatchedServer.SimdSupport.enabled,
      "incubator vector module absent — SIMD path not gradeable here")
    val rnd = new scala.util.Random(41L)
    val dim = 48
    // prime count (unaligned tail); row scales from 1e-30 to 1e20
    val rows = Array.tabulate(1021) { i =>
      val mag = math.pow(10.0, Seq(0, -3, 2, -30, 20, 0, 1)(i % 7))
      (i.toLong, Array.fill(dim)(rnd.nextGaussian() * mag), i % 6)
    }
    val rep = BatchedServer.FlatReplica(rows, true)
    val lanes = rep.tlanes
    assert(rep.tslab != null && lanes >= 4,
      "uniform-dim corpus must build the transposed f32 slab")
    assert(rep.simdRows == (rows.length / lanes) * lanes)
    assert(rep.tnorms.length == rep.simdRows / lanes)
    val exact = Array.tabulate(rep.simdRows)(r =>
      java.util.Arrays.copyOfRange(rep.embs, rep.offs(r), rep.offs(r + 1)))
    // block norms bound every row norm from above
    exact.indices.foreach { r =>
      assert(rep.tnorms(r / lanes) >= math.sqrt(exact(r).map(x => x * x).sum),
        s"row $r: norm above its block's")
    }
    val queries = Seq(1.0, 1e-30, 1e15).map(m => Array.fill(dim)(rnd.nextGaussian() * m))
    val qf = queries.map(_.map(_.toFloat)).toArray
    val qn = queries.map(q => math.sqrt(q.map(x => x * x).sum)).toArray
    val one, two, four = new Array[Float](4 * lanes)
    var worst = 0.0
    (0 until rep.simdRows / lanes).foreach { blk =>
      val base = blk * lanes * dim
      graft.simd.SimdDot.block4(rep.tslab, base, dim, qf(0), qf(1), qf(2), qf(0), four)
      graft.simd.SimdDot.block2(rep.tslab, base, dim, qf(1), qf(2), two)
      queries.indices.foreach { qi =>
        graft.simd.SimdDot.block1(rep.tslab, base, dim, qf(qi), one)
        val bn = rep.tnorms(blk).toDouble
        (0 until lanes).foreach { lane =>
          val r = blk * lanes + lane
          // the 4- and 2-query kernels compute each query's lanes as the
          // 1-query kernel does
          assert(four(qi * lanes + lane) == one(lane))
          if (qi > 0) assert(two((qi - 1) * lanes + lane) == one(lane))
          val err = math.abs(one(lane) - BatchedServer.dotRaw(exact(r), queries(qi)))
          if (qn(qi) * bn < BatchedServer.F32Cap) {
            val b = BatchedServer.f32GateBound(dim, qn(qi), bn)
            assert(err <= b, s"row $r query $qi: |f32 − exact| = $err > bound $b")
            worst = math.max(worst, err / b)
          }
        }
      }
    }
    // the bound is not vacuous: some lane uses a real share of it
    assert(worst > 1e-3, s"largest error/bound ratio $worst")
    // and on unit-scale clustered rows the gate passes few rows to the
    // exact rescore
    val unit = Array.tabulate(4096) { i =>
      val e = Array.fill(dim)(rnd.nextGaussian())
      val nr = math.sqrt(e.map(x => x * x).sum)
      (i.toLong, e.map(_ / nr), 0)
    }
    val unitRep = BatchedServer.FlatReplica(unit, true)
    val rescored = new java.util.concurrent.atomic.LongAdder()
    val top = Array(new BatchedServer.TopK(10))
    BatchedServer.scoreRange(unitRep, top, 0, unit.length, Array(unit(7)._2), 0.0,
      rescored = rescored)
    assert(top(0).result().exists(h => h._1 == 7L && h._2 == 1.0))
    assert(rescored.sum() > 0 && rescored.sum() < unit.length / 8,
      s"rescored ${rescored.sum()} of ${unit.length} rows")
  }

  test("random uniform-dim corpus: kernel ≡ naive reference across k and thresholds") {
    val rnd = new scala.util.Random(7L)
    val dim = 24
    val rows = Array.tabulate(301) { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian() * 0.2), i % 5)
    }
    val queries = Array.fill(9)(Array.fill(dim)(rnd.nextGaussian() * 0.2))
    for (k <- Seq(1, 7, 50); th <- Seq(-1e9, 0.0, 0.05))
      check(rows, queries, k, th)
  }

  test("extreme magnitudes: the certified quantization bound holds far from unit norm") {
    val rnd = new scala.util.Random(11L)
    val dim = 16
    // magnitudes spanning 12 orders, mixed signs, plus exact-zero rows
    val rows = Array.tabulate(120) { i =>
      val mag = math.pow(10.0, (i % 13) - 6)
      val emb =
        if (i % 17 == 3) Array.fill(dim)(0.0)
        else Array.fill(dim)(rnd.nextGaussian() * mag)
      (i.toLong, emb, i % 3)
    }
    val queries = Array.tabulate(6) { j =>
      Array.fill(dim)(rnd.nextGaussian() * math.pow(10.0, j - 3))
    }
    for (k <- Seq(3, 20); th <- Seq(-1e18, 0.0))
      check(rows, queries, k, th)
  }

  test("ragged rows and ragged queries take the exact paths, same results") {
    val rnd = new scala.util.Random(13L)
    val rows = Array.tabulate(97) { i =>
      val dim = Seq(8, 16, 16, 16, 32)(i % 5) // ragged blocks
      (i.toLong, Array.fill(dim)(rnd.nextGaussian()), i % 4)
    }
    val queries = Array(
      Array.fill(16)(rnd.nextGaussian()),
      Array.fill(4)(rnd.nextGaussian()),   // shorter than most rows
      Array.fill(64)(rnd.nextGaussian()))  // longer than all rows
    for (k <- Seq(5, 25); th <- Seq(-1e9, 0.1))
      check(rows, queries, k, th)
  }

  test("non-finite row never places and never corrupts its block") {
    // a NaN dot fails every >= comparison (gate and threshold alike), so
    // the row simply never places — and the 3 clean rows sharing its
    // 4-row block must be unaffected
    val dim = 8
    val rnd = new scala.util.Random(17L)
    val rows = Array.tabulate(40) { i =>
      val emb = Array.fill(dim)(rnd.nextGaussian())
      if (i == 21) emb(3) = Double.NaN
      (i.toLong, emb, 1)
    }
    val queries = Array(Array.fill(dim)(rnd.nextGaussian()))
    val got = viaKernel(rows, queries, 10, -1e9)
    assert(!got(0).exists(_._1 == 21L), "NaN row must not place")
    assert(got(0).size == 10)
    // and the clean rows still match the reference exactly
    val clean = rows.filterNot(_._1 == 21L)
    assert(viaKernel(clean, queries, 10, -1e9) ==
      reference(clean, queries, 10, -1e9))
  }

  test("FlatReplica survives Java serialization: the copy scores bit for bit") {
    // the job tier pins one replica per partition MEMORY_AND_DISK, and a
    // spilled block is serialized: the copy must score exactly like the
    // original, on both layouts, and must not ship its postings
    val rnd = new scala.util.Random(37L)
    val dim = 24
    val rows = Array.tabulate(203)(i =>
      (i.toLong * 3, Array.fill(dim)(rnd.nextGaussian()), i % 5))
    val queries = Array.fill(5)(Array.fill(dim)(rnd.nextGaussian()))
    val users = Array(1, 3, 3)
    def serialize(rep: BatchedServer.FlatReplica): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(rep)
      oos.close()
      bos.toByteArray
    }
    def bits(tops: Array[BatchedServer.TopK]) = tops.toSeq.map(_.result().toSeq.map {
      case (id, s, u) => (id, java.lang.Double.doubleToRawLongBits(s), u) })
    def scores(rep: BatchedServer.FlatReplica) = {
      val all = Array.fill(queries.length)(new BatchedServer.TopK(7))
      BatchedServer.scoreRange(rep, all, 0, rep.n, queries, -1e9)
      val rowIdx = rep.postings.rowsFor(users)
      val filtered = Array.fill(queries.length)(new BatchedServer.TopK(7))
      BatchedServer.scoreRows(rep, rowIdx, filtered, 0, rowIdx.length, queries, -1e9)
      (bits(all), bits(filtered))
    }
    for (useSimd <- Seq(true, false)) {
      val rep = BatchedServer.FlatReplica(rows, useSimd)
      val bare = serialize(rep)
      rep.postings
      val bytes = serialize(rep)
      assert(bytes.length == bare.length, "postings must not be serialized")
      val copy = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
        .readObject().asInstanceOf[BatchedServer.FlatReplica]
      if (useSimd && BatchedServer.SimdSupport.enabled)
        assert(rep.tslab != null && copy.tslab != null, "SIMD layout expected")
      assert(scores(copy) == scores(rep), s"useSimd=$useSimd: the copy scores differently")
    }
  }

  test("certified f32 gate: scoreRange ≡ naive reference bit for bit on " +
      "near-ties, duplicates, dims 1-130 and magnitudes 1e-40..1e39, with " +
      "and without seed floors, over odd slice splits") {
    import org.scalacheck.{Gen, Prop}
    // powers of ten: mostly the mid scales where the f32 error dwarfs the
    // 1e-6 rounding slack, else f32 subnormals, the f32 range edges and
    // beyond
    val exps = Seq(-40, -38, -30, -12, 0, 12, 30, 37, 39)
    val scale = Gen.frequency(4 -> Gen.choose(-3, 8), 1 -> Gen.oneOf(exps))
    def bits(hits: Seq[(Long, Double, Int)]) =
      hits.map { case (id, s, u) => (id, java.lang.Double.doubleToRawLongBits(s), u) }
    val rescored = new java.util.concurrent.atomic.LongAdder()
    val simdRows = new java.util.concurrent.atomic.AtomicLong()
    val prop = Prop.forAllNoShrink(
        Gen.choose(1, 130), Gen.choose(0, 150), scale, scale,
        Gen.choose(1, 8), Gen.oneOf(1, 1, 2, 3, 5, 8, 25), Gen.choose(0, 3),
        Gen.choose(0L, Long.MaxValue)) {
        (dim, n, rowExp, qExp, nq, k, thMode, seed) =>
      val rnd = new scala.util.Random(seed)
      val ids = rnd.shuffle((0 until 4 * n + 4).map(_.toLong)).toArray
      val rowMag = math.pow(10.0, rowExp)
      val centers = Array.fill(3)(Array.fill(dim)(rnd.nextGaussian()))
      val rows = new Array[(Long, Array[Double], Int)](n)
      (0 until n).foreach { i =>
        val kind = rnd.nextInt(60)
        val emb =
          if (kind < 3) Array.fill(dim)(0.0)
          else if (kind < 4) {
            val e = Array.fill(dim)(rnd.nextGaussian() * rowMag)
            e(rnd.nextInt(dim)) = Double.NaN; e
          } else if (kind < 28 && i > 0)
            // exact duplicate of a hot row: ids land on either side of the
            // original's, so ties go both ways
            rows(rnd.nextInt(math.min(i, 3)))._2.clone()
          else if (kind < 34 && i > 0) {
            // near-duplicate: one cell moved by a relative 1e-7 or less, so
            // the exact scores differ by far less than the f32 error
            val e = rows(rnd.nextInt(math.min(i, 3)))._2.clone()
            val d = rnd.nextInt(dim)
            e(d) = e(d) * (1.0 + (rnd.nextDouble() - 0.5) * 2e-7 * rnd.nextDouble())
            e
          } else if (kind < 37) {
            // a row at another scale, f32 range edges and beyond included
            val m = math.pow(10.0, exps(rnd.nextInt(exps.length)))
            Array.fill(dim)(rnd.nextGaussian() * m)
          } else {
            // clustered rows; the first three ("hot") rows at 1.5× the
            // norm lead their queries' top-k with their duplicate groups
            val c = centers(rnd.nextInt(3))
            val m = if (i < 3) 1.5 * rowMag else rowMag
            Array.tabulate(dim)(d => (c(d) + 0.05 * rnd.nextGaussian()) * m)
          }
        rows(i) = (ids(i), emb, rnd.nextInt(4))
      }
      val qMag = math.pow(10.0, qExp)
      val queries = Array.tabulate(nq) { _ =>
        // mostly a perturbed hot row: each such query draws its own f32
        // error on the hot groups' exact ties
        val q =
          if (n > 0 && rnd.nextInt(4) > 0)
            rows(rnd.nextInt(math.min(n, 3)))._2.map(x =>
              (x / rowMag + 0.02 * rnd.nextGaussian()) * qMag)
          else Array.fill(dim)(rnd.nextGaussian() * qMag)
        // some queries run past the row dim (still the SIMD path)
        if (rnd.nextInt(4) == 0) q ++ Array.fill(2)(rnd.nextGaussian()) else q
      }
      // the threshold: none, zero, or on / within 1e-7 of one of query
      // 0's top-k scores
      val anchor = {
        val top = reference(rows, queries.take(1), k, Double.NegativeInfinity)(0)
        if (top.isEmpty) 0.0 else top(rnd.nextInt(top.size))._2
      }
      val th = thMode match {
        case 0 => Double.NegativeInfinity
        case 1 => 0.0
        case 2 => anchor
        case _ => anchor + (if (rnd.nextBoolean()) 1e-7 else -1e-7)
      }
      val want = reference(rows, queries, k, th).map { case (qi, h) => qi -> bits(h) }
      // odd slice splits: random cut points, SIMD-block-unaligned
      val cuts = (0 +: Seq.fill(rnd.nextInt(4))(rnd.nextInt(n + 1)) :+ n).sorted
      val pieces = cuts.zip(cuts.tail)
      Seq(false, true).forall { simd =>
        val rep = BatchedServer.FlatReplica(rows, simd)
        if (rep.tslab != null) simdRows.addAndGet(rep.simdRows.toLong * nq * 2)
        // independent slices, each in its own heaps, offered into one
        // destination at the end (the sliced scan)
        val sliced = Array.fill(nq)(new BatchedServer.TopK(k))
        pieces.foreach { case (lo, hi) =>
          val part = Array.fill(nq)(new BatchedServer.TopK(k))
          BatchedServer.scoreRange(rep, part, lo, hi, queries, th, rescored)
          queries.indices.foreach(qi => sliced(qi).offerAll(part(qi).result()))
        }
        // the shared lap: pieces in turn from a random start, each scored
        // into heaps seeded with the lap heap's floor and offered into it
        val start = rnd.nextInt(pieces.length)
        val lap = Array.fill(nq)(new BatchedServer.TopK(k))
        (pieces.drop(start) ++ pieces.take(start)).foreach { case (lo, hi) =>
          val part = lap.map(t => new BatchedServer.TopK(k, t.floor(Double.NegativeInfinity)))
          BatchedServer.scoreRange(rep, part, lo, hi, queries, th, rescored)
          queries.indices.foreach(qi => lap(qi).offerAll(part(qi).result()))
        }
        val best = lap.map(_.result())
        queries.indices.forall { qi =>
          val w = want(qi)
          val ok = bits(sliced(qi).result().toSeq) == w && bits(best(qi).toSeq) == w
          if (!ok) println(s"simd=$simd dim=$dim n=$n rowExp=$rowExp qExp=$qExp " +
            s"k=$k th=$th qi=$qi\n sliced=${sliced(qi).result().toSeq}\n lap=${best(qi).toSeq}\n want=$w")
          ok
        }
      }
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(1500)
        .withInitialSeed(org.scalacheck.rng.Seed(20261019L)), prop)
    assert(res.passed, res.status.toString)
    if (BatchedServer.SimdSupport.enabled) {
      // the f32 path ran, and its gate kept fewer rows than it read
      assert(rescored.sum() > 0 && rescored.sum() < simdRows.get(),
        s"rescored ${rescored.sum()} of ${simdRows.get()} SIMD rows")
    }
  }

  test("seeded chunk heaps offered into a destination ≡ sort of the union, take k") {
    import org.scalacheck.{Gen, Prop}
    // the reference order, written independently of HitOrder
    def sortTake(hits: Seq[(Long, Double, Int)], k: Int) =
      hits.sortBy { case (id, s, _) => (-s, id) }.take(k)
    def bits(hits: Seq[(Long, Double, Int)]) =
      hits.map { case (id, s, u) => (id, java.lang.Double.doubleToRawLongBits(s), u) }
    // few distinct scores, so equal scores are common; ±0.0 included
    val score = Gen.oneOf(-1.0, -0.0, 0.0, 0.25, 0.5, 0.5, 1.0)
    val prop = Prop.forAll(Gen.listOf(score), Gen.choose(0, 12), Gen.choose(1, 5),
        Gen.choose(0, 4), Gen.choose(0L, Long.MaxValue)) { (scores, k, nChunks, seedMode, seed) =>
      val rnd = new scala.util.Random(seed)
      // unique ids, in random order
      val ids = rnd.shuffle(scores.indices.map(_.toLong * 3 + 1).toList)
      val hits = scores.zip(ids).map { case (s, id) => (id, s, rnd.nextInt(4)) }
      // some hits already sit in the destination (the lap so far); the
      // rest fall into chunks scanned into heaps of their own
      val (held, scanned) = hits.splitAt(rnd.nextInt(hits.length + 1))
      val chunks = scanned.groupBy(_ => rnd.nextInt(nChunks)).values.toSeq
      val dest = new BatchedServer.TopK(k)
      held.foreach { case (id, s, u) => dest.offer(s, id, u) }
      // the chunk seed: the destination's floor (what the slicer uses),
      // or on, just above or just below the k-th score of the union
      val kth = sortTake(hits, k).lastOption.map(_._2).getOrElse(0.0)
      val seedScore = seedMode match {
        case 0 => dest.floor(Double.NegativeInfinity)
        case 1 => kth
        case 2 => Math.nextUp(kth)
        case 3 => Math.nextDown(kth)
        case _ => Double.NegativeInfinity
      }
      chunks.foreach { chunk =>
        val part = new BatchedServer.TopK(k, seedScore)
        chunk.foreach { case (id, s, u) => part.offer(s, id, u) }
        dest.offerAll(part.result())
      }
      val got = bits(dest.result().toSeq)
      // a seeded heap drops what scores below its seed; nothing else
      val want = bits(sortTake(held ++ scanned.filter(_._2 >= seedScore), k))
      // and a seed at or below the k-th score drops nothing that places
      got == want && (!(seedScore <= kth) || got == bits(sortTake(hits, k)))
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("tie-breaks: equal scores keep ascending ids through gate and merge") {
    val dim = 4
    val v = Array(0.5, 0.5, 0.5, 0.5)
    val rows = Array.tabulate(50)(i => (49L - i, v.clone(), 0)) // ids 0..49, all identical
    val queries = Array(v.clone())
    val got = viaKernel(rows, queries, 7, 0.0)
    assert(got(0).map(_._1) == (0L until 7L), s"tie order broken: ${got(0)}")
  }
}
