package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.concurrent.duration._

/** Cross-process sharded serving (VERDICT r11 #8): hand each hash-shard
  * of a replica-too-big collection to a WORKER JVM as a slab file and
  * drive the [[RemoteShardedRouter]] scatter-gather over real sockets —
  * the executor-resident-scorer shape of the 100 TB deployment, measured
  * instead of argued. Workers are plain JVMs (no Spark at runtime)
  * running the bit-exact replica kernel ([[BatchedServer.scoreRange]],
  * SIMD dispatch included).
  *
  * [[measure]] returns the keys the bench grades:
  *   - `crossproc_correct` (1.0 = router top-10 ≡ exact
  *     [[graft.operators.Search.knn]] over the union, row for row, on
  *     sampled queries — the in-JVM ShardedServer equivalence);
  *   - `crossproc_ping_p50_ms` — the pure IPC round-trip floor;
  *   - closed-loop (32 clients) QPS/p50/p99 and paced-1000
  *     p50/p99 from scheduled arrival (coordinated-omission-correct) —
  *     the same two load shapes the in-JVM sharded tier is graded at. */
object CrossProc {

  /** Deterministic driver-side Lloyd k-means over a sample — the IVF
    * worker tier's centroid trainer. Init = evenly spaced sample rows
    * (deterministic), fixed iteration count, parallel assignment over a
    * local pool. This trains the SLAB layout's cell directory; the probe
    * measures the recall the resulting cells actually deliver, so a
    * mediocre clustering costs nprobe, never correctness. */
  private[graft] def localKMeans(sample: Array[Array[Double]], c: Int,
      iters: Int, threads: Int): Array[Array[Double]] = {
    require(sample.nonEmpty && c >= 1)
    val d = sample(0).length
    var cents = Array.tabulate(math.min(c, sample.length))(j =>
      sample(j * (sample.length / math.min(c, sample.length))).clone())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      (0 until iters).foreach { _ =>
        val cc = cents
        val parts = (0 until threads).map { t =>
          pool.submit(new java.util.concurrent.Callable[
              (Array[Array[Double]], Array[Long])] {
            def call(): (Array[Array[Double]], Array[Long]) = {
              val sums = Array.fill(cc.length)(new Array[Double](d))
              val counts = new Array[Long](cc.length)
              var i = t
              while (i < sample.length) {
                val e = sample(i)
                var best = 0; var bestS = Double.NegativeInfinity
                var j = 0
                while (j < cc.length) {
                  var s = 0.0; var x = 0
                  while (x < d) { s += e(x) * cc(j)(x); x += 1 }
                  if (s > bestS) { bestS = s; best = j }
                  j += 1
                }
                var x = 0
                while (x < d) { sums(best)(x) += e(x); x += 1 }
                counts(best) += 1
                i += threads
              }
              (sums, counts)
            }
          })
        }.map(_.get())
        cents = cents.indices.map { j =>
          val sum = new Array[Double](d)
          var n = 0L
          parts.foreach { case (sums, counts) =>
            var x = 0
            while (x < d) { sum(x) += sums(j)(x); x += 1 }
            n += counts(j)
          }
          if (n == 0) cents(j) // empty cell keeps its centroid
          else {
            // spherical k-means: normalize so ranking by dot == nearest
            var norm = 0.0
            var x = 0
            while (x < d) { norm += sum(x) * sum(x); x += 1 }
            norm = math.sqrt(norm)
            if (norm == 0) cents(j) else sum.map(_ / norm)
          }
        }.toArray
      }
      cents
    } finally pool.shutdownNow()
  }

  /** Nearest-cell index per row (round6 dot desc, cid asc — the
    * store-side ivfAssign tie rule), parallel over a local pool. */
  private[graft] def assignCells(rows: Array[(Long, Array[Double], Int)],
      cents: Array[Array[Double]], threads: Int): Array[Int] = {
    val out = new Array[Int](rows.length)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      (0 until threads).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = {
            var i = t
            while (i < rows.length) {
              val e = rows(i)._2
              var best = 0
              var bestS = Double.NegativeInfinity
              var j = 0
              while (j < cents.length) {
                val ce = cents(j)
                val nd = math.min(ce.length, e.length)
                var s = 0.0; var x = 0
                while (x < nd) { s += e(x) * ce(x); x += 1 }
                val r = graft.plans.Num.round6(s)
                if (r > bestS || (r == bestS && j < best)) {
                  // j ascends, so r > bestS is the only live branch; the
                  // tie arm documents the (round6 desc, cid asc) rule
                  bestS = r; best = j
                }
                j += 1
              }
              out(i) = best
              i += threads
            }
          }
        })
      }.foreach(_.get())
      out
    } finally pool.shutdownNow()
  }

  /** Deterministic CLUSTERED corpus for the cross-process fixture
    * (VERDICT r16 #3): `cGen` tight Gaussian balls (unit centers, noise
    * vector of norm `noise`) with cGen ≫ the k-means cell count, so many
    * generator clusters STRADDLE k-means cell boundaries and a query's
    * true top-k spans multiple cells — recall ≥ target becomes a binding
    * constraint the nprobe calibration must actually solve (the old
    * replicated-copies fixture recalled 1.0 at nprobe=1 by construction:
    * a query's true neighbors included its own copies, which share its
    * cell). Same generator shape as ShardWorkerSpec.mkClustered, sized
    * for the probe and generated distributed (one seeded draw per id, so
    * the frame is deterministic under any partitioning). user_id spans
    * 1000 values so a one-user filter is genuinely selective. */
  private[graft] def clusteredPoints(spark: SparkSession, rows: Long, d: Int,
      cGen: Int = 256, noise: Double = 0.25, seed: Long = 2024L): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    def unit(r: scala.util.Random): Array[Double] = {
      val v = Array.fill(d)(r.nextGaussian())
      val nn = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nn)
    }
    val cents = Array.fill(cGen)(unit(rnd))
    val bc = spark.sparkContext.broadcast(cents)
    val nz = noise
    val cg = cGen
    val dd = d
    val sd = seed
    spark.range(rows).as[Long].mapPartitions { it =>
      it.map { id =>
        val r = new scala.util.Random(sd ^ (id * 0x9E3779B97F4A7C15L))
        val nv = new Array[Double](dd)
        var i = 0
        var nn = 0.0
        while (i < dd) { nv(i) = r.nextGaussian(); nn += nv(i) * nv(i); i += 1 }
        nn = math.sqrt(nn)
        val ce = bc.value((id % cg).toInt)
        val e = new Array[Double](dd)
        i = 0
        var en = 0.0
        while (i < dd) {
          e(i) = ce(i) + nz * nv(i) / nn
          en += e(i) * e(i)
          i += 1
        }
        en = math.sqrt(en)
        i = 0
        while (i < dd) { e(i) /= en; i += 1 }
        (id, e.toSeq, (id % 1000).toInt)
      }
    }.toDF("id", "embedding", "user_id")
  }

  def measure(spark: SparkSession, bigPoints: DataFrame,
      qPool: Array[Array[Double]], k: Int = 10, th: Double = 0.1,
      forcedShards: Option[Int] = None,
      int8: Boolean = false, ivf: Boolean = false,
      int8Oversample: Double = -1.0,
      graph: Boolean = false,
      cellRowsOverride: Long = -1L): Map[String, Double] = {
    val bigN = bigPoints.count()
    val shardMaxRows = BatchedServer.DefaultReplicaMaxRows
    // forcedShards: the shard-count SWEEP knob (VERDICT r12 #3) — same
    // total rows split across 2/4/8 workers to measure how closed-loop
    // p50 grows with gather width (all-shards-must-answer tail risk)
    val nShards = forcedShards.getOrElse(
      math.max(1, ((bigN + shardMaxRows - 1) / shardMaxRows).toInt))
    // int8 mode (VERDICT r14 #6): each worker pins an INT8 code slab for
    // phase 1 and mmaps the float slab only for survivor rescore — the
    // reference's always-RAM INT8 on the tier where the 8× RAM cut
    // decides how many shards a corpus needs. Keys get the
    // `crossproc_int8_` prefix; slab sizes ride in the result.
    // ivf mode (VERDICT r15 #1): slabs are CELL-ORDERED with an IVF
    // sidecar, and each worker scans only the LCB-calibrated nprobe
    // cells nearest the query — per-query work stops scaling with shard
    // size (the sub-linear phase 1 the reference gets from its index).
    require(!(graph && (ivf || int8)),
      "graph mode is the float kernel's alternative phase-1 family")
    val P =
      if (graph) "crossproc_graph"
      else if (ivf && int8) "crossproc_ivf8"
      else if (ivf) "crossproc_ivf"
      else if (int8) "crossproc_int8"
      else "crossproc"
    val dir = java.nio.file.Files.createTempDirectory("graft_xproc").toString
    // IVF prep: deterministic sample → local spherical k-means. C keeps
    // the TARGET CELL SIZE constant (C ∝ N — the same discipline as the
    // indexed store's band maintenance), so probed rows per query stay
    // ~nprobe·cellRows as shards grow: the flat-per-query property the
    // scale probe grades.
    // cellRowsOverride > 0 forces the target cell size — the graph-vs-ivf
    // regime comparison dials the ivf tier's PROBED-CELL size up with it
    // (emulating the skewed/coarse-cell geometry the ×8 scale sweep hit)
    // while the graph run keeps the default build-time candidate cells
    val ivfCellRows =
      if (cellRowsOverride > 0) cellRowsOverride
      else sys.env.getOrElse("GRAFT_XPROC_CELL_ROWS", "8192").toLong
    val ivfTarget = sys.env.getOrElse("GRAFT_XPROC_IVF_TARGET", "0.95").toDouble
    // graph mode needs the centroid table too: cell-ordering feeds the
    // window-candidate build and the per-cell entry rows
    val needCells = ivf || graph
    val ivfCents: Array[Array[Double]] =
      if (!needCells) null
      else {
        val c = math.max(16, ((bigN + ivfCellRows - 1) / ivfCellRows).toInt)
        val sampleTarget = 32768L
        val stride = math.max(1L, bigN / sampleTarget)
        val sample = bigPoints
          .filter(pmod(col("id"), lit(stride)) === 0L)
          .select(col("embedding")).collect()
          .map(_.getSeq[Double](0).toArray)
        localKMeans(sample, c, iters = 6,
          threads = Runtime.getRuntime.availableProcessors)
      }
    // global per-cell row counts (accumulated while writing shards):
    // the calibration's scanned-fraction note
    val ivfCellCounts: Array[Long] =
      if (needCells) new Array[Long](ivfCents.length) else null
    var graphEdges = 0L
    var graphEntries = 0L
    // shard handoff: one slab file per hash shard (what a cluster would
    // read from the bucketed store); in int8 mode a code slab rides next
    // to each float slab, fingerprinted by the float file's size AND
    // content checksum (ADVICE r15). Rows are collected ONE SHARD AT A
    // TIME and released after the slab is on disk — the parity gate
    // below re-reads slabs from disk the same way, so the driver never
    // holds more than one shard's rows (ADVICE r15: keeping every
    // shard's rows roughly tripled driver-resident memory in a probe
    // whose point is slab economics).
    var floatSlabBytes = 0L
    var codeSlabBytes = 0L
    val slabs = (0 until nShards).map { s =>
      val rowsRaw = bigPoints
        .filter(pmod(col("id"), lit(nShards.toLong)) === s.toLong)
        .collect().map(r => (r.getLong(0),
          r.getSeq[Double](1).toArray, r.getInt(2)))
      // ivf: CELL-ORDER the shard's rows and write the sidecar next to
      // the slab (cids = centroid indices; cells empty in this shard
      // keep zero-width offsets so probeRanges just skips them)
      val cellsRaw =
        if (!needCells) null
        else assignCells(rowsRaw, ivfCents,
          Runtime.getRuntime.availableProcessors)
      val rows =
        if (!needCells) rowsRaw
        else rowsRaw.indices.toArray
          .sortBy(i => (cellsRaw(i), rowsRaw(i)._1))
          .map(rowsRaw)
      val p = s"$dir/shard_$s.slab"
      SlabIO.write(p, rows)
      val cellOffs: Array[Int] =
        if (!needCells) null
        else {
          val c = ivfCents.length
          val offs = new Array[Int](c + 1)
          cellsRaw.foreach(j => offs(j + 1) += 1)
          (1 to c).foreach(j => offs(j) += offs(j - 1))
          cellsRaw.foreach(j => ivfCellCounts(j) += 1)
          offs
        }
      if (ivf)
        SlabIO.writeIvf(s"$p.ivf",
          (0 until ivfCents.length).map(_.toLong).toArray,
          ivfCents, cellOffs, p)
      if (graph) {
        // edges from the ENGINE's distributed graph build (VERDICT r16
        // #4 verbatim: "ship graphBuild's edge table as a slab sidecar")
        // — knnJoin candidates probe nprobe=2 cells, so edges are
        // GEOMETRIC neighbors including cross-cell links (a window-only
        // build fragments clusters split across cells and recall caps at
        // the cell-coverage ceiling — measured 0.82 before this). Edge
        // table re-keyed id→slab row on the driver (≤ maxDegree·rows —
        // ~2M 16-byte pairs per shard). Entry set = one row per
        // non-empty cell (the coarse tier) + an even id-stride sweep
        // (connectivity insurance for corpora whose natural clusters are
        // finer than the cell grid — ~500 extra dots/query, inside the
        // descent's budget).
        val centsDf = {
          import spark.implicits._
          ivfCents.indices.map(j => (j.toLong, ivfCents(j).toSeq))
            .toDF("cid", "ce")
        }
        val shardDf = bigPoints.filter(
          pmod(col("id"), lit(nShards.toLong)) === s.toLong)
        val built = graft.operators.Ann.graphBuild(shardDf, centsDf,
          graphK = 8, maxDegree = 16, nprobe = 2)
        // GRAFT_XPROC_GRAPH_REFINE=<rounds>: NN-Descent link improvement
        // (Ann.graphRefine + cross-cell bridges) on the sidecar edges —
        // the construction-quality dial behind the single-shard
        // calibration miss SCALING r17 reported (beam ladder maxed at
        // recall 0.906 on build-quality-limited edges)
        val refineRounds =
          sys.env.getOrElse("GRAFT_XPROC_GRAPH_REFINE", "0").toInt
        val tEdges0 = System.nanoTime()
        val refined =
          if (refineRounds <= 0) built
          else graft.operators.Ann.graphRefine(shardDf, built,
            rounds = refineRounds, maxDegree = 16,
            bridges = Some(
              graft.operators.Ann.graphBridges(shardDf, centsDf, 2)))
        val edges = refined
          .select(col("src"), col("dst")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        println(s"""{"probe":"graph_edges","shard":$s,""" +
          s""""refine_rounds":$refineRounds,"edges":${edges.length},""" +
          s""""build_ms":${(System.nanoTime() - tEdges0) / 1000000}}""")
        val idxOf = new java.util.HashMap[Long, Integer]()
        rows.indices.foreach(i => idxOf.put(rows(i)._1, i))
        val bySrc = edges.groupBy(_._1)
        val gOffs = new Array[Int](rows.length + 1)
        val nbrsB = Array.newBuilder[Int]
        rows.indices.foreach { i =>
          val out = bySrc.getOrElse(rows(i)._1, Array.empty)
            .map(e => idxOf.get(e._2).intValue()).sorted
          gOffs(i + 1) = gOffs(i) + out.length
          nbrsB ++= out
        }
        val gNbrs = nbrsB.result()
        val perCell = (0 until ivfCents.length)
          .filter(j => cellOffs(j + 1) > cellOffs(j)).map(cellOffs(_))
        val stride = math.max(1, rows.length / 512)
        val sweep = rows.indices.by(stride)
        val entries = (perCell ++ sweep).distinct.sorted.toArray
        SlabIO.writeGraph(s"$p.graph", gOffs, gNbrs, entries, p)
        graphEdges += gNbrs.length
        graphEntries += entries.length
      }
      floatSlabBytes += java.nio.file.Files.size(java.nio.file.Paths.get(p))
      if (int8) {
        SlabIO.writeInt8(s"$p.i8", rows, p)
        codeSlabBytes += java.nio.file.Files.size(
          java.nio.file.Paths.get(s"$p.i8"))
      }
      p
    }
    // int8 oversample: CALIBRATED like every other approximate-serving
    // knob (VERDICT r15 #3 — it was the only one not derived from a
    // stated target). int8Oversample <= 0 (the default) walks the
    // ladder on shard 0's slab via the same LCB machinery the replica
    // tier uses; an explicit positive value pins it (the A/B knob).
    // If no rung clears the target the tier STAYS int8 at the ladder
    // max and says so (cal_target_met=0) — this probe grades the int8
    // tier, and the end-to-end recall row sits right next to the flag.
    val (effOversample, calDecision): (Double, Option[ServingDecision]) =
      if (!int8 || int8Oversample > 0) (int8Oversample, None)
      else {
        val rep = BatchedServer.FlatReplica(SlabIO.read(slabs(0)))
        val d = ServingCalibration.decide(rep, k, th,
          graft.operators.IndexMeta.DefaultRecallTarget)
        val os =
          if (d.family == "int8") d.oversample.toDouble
          else ServingCalibration.OversampleLadder.max.toDouble
        (os, Some(d))
      }
    // exact oracle for calibration/recall/correctness gates (Spark-side;
    // bounded: one knn job per sampled query, memoized — the held-out
    // recall row, the nprobe=1 coverage row, and the correctness gate
    // share sample indices)
    val exactIdsCache =
      scala.collection.concurrent.TrieMap.empty[Int, Seq[(Long, Double)]]
    def exactIds(qi: Int): Seq[(Long, Double)] =
      exactIdsCache.getOrElseUpdate(qi, {
        val q = {
          import spark.implicits._
          Seq(qPool(qi).toSeq).toDF("qemb")
        }
        graft.operators.Search.knn(bigPoints, q, k, th)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      })
    val nQ = qPool.length
    // IVF nprobe calibration (LCB, same machinery as IndexMeta — VERDICT
    // r15 #1 "at a stated nprobe"): 32 calibration queries DISJOINT from
    // the graded recall sample (offset by a half stride); per query the
    // cell-coverage curve of its exact top-k over the probe order, then
    // nprobe = smallest probe count whose one-sided 90% LCB clears the
    // target. Recall within probed cells is exact, so coverage IS recall.
    val (ivfNprobe, ivfScanFrac): (Int, Double) =
      if (!ivf) (0, 1.0)
      else {
        val c = ivfCents.length
        val stride = math.max(1, nQ / 32)
        val calQ = (0 until 32).map(i => (i * stride + stride / 2) % nQ)
          .distinct
        val exactByQ = calQ.map(qi => qi -> exactIds(qi).map(_._1)).toMap
        // ONE bounded collect + ONE batched assignment for every true
        // neighbor across all calibration queries (per-neighbor
        // single-row assignCells calls each spun up a thread pool)
        val allNbs = exactByQ.values.flatten.toSeq.distinct
        val nbRows = bigPoints
          .filter(col("id").isin(allNbs.map(Long.box): _*))
          .select(col("id"), col("embedding")).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, 0))
        val cellOfNb = nbRows.map(_._1).zip(
          assignCells(nbRows, ivfCents,
            Runtime.getRuntime.availableProcessors)).toMap
        val curves = calQ.map { qi =>
          val q = qPool(qi)
          val exact = exactByQ(qi)
          val order = (0 until c).map { j =>
            var s = 0.0; var x = 0
            val ce = ivfCents(j)
            while (x < math.min(ce.length, q.length)) { s += ce(x) * q(x); x += 1 }
            (graft.plans.Num.round6(s), j)
          }.sortBy { case (s, j) => (-s, j) }.map(_._2)
          val rankOf = order.zipWithIndex.toMap
          val cov = new Array[Double](c)
          exact.foreach { nb =>
            var p = rankOf(cellOfNb(nb))
            while (p < c) { cov(p) += 1.0; p += 1 }
          }
          cov.map(_ / math.max(exact.length, 1))
        }
        val nq = curves.length.toDouble
        val np = (0 until c).indexWhere { p =>
          val m = curves.map(_(p)).sum / nq
          val sd =
            if (nq < 2) 0.0
            else math.sqrt(
              curves.map(cv => (cv(p) - m) * (cv(p) - m)).sum / (nq - 1))
          m - 1.28 * sd / math.sqrt(nq) >= ivfTarget
        } match {
          case -1 => c
          case i => i + 1
        }
        // mean scanned fraction at the chosen nprobe over the
        // calibration queries (global cell counts)
        val frac = calQ.map { qi =>
          val q = qPool(qi)
          val top = (0 until c).map { j =>
            var s = 0.0; var x = 0
            val ce = ivfCents(j)
            while (x < math.min(ce.length, q.length)) { s += ce(x) * q(x); x += 1 }
            (graft.plans.Num.round6(s), j)
          }.sortBy { case (s, j) => (-s, j) }.take(np)
          top.map { case (_, j) => ivfCellCounts(j) }.sum.toDouble / bigN
        }.sum / calQ.length
        (np, math.rint(frac * 10000) / 10000)
      }
    // GRAPH beam calibration (the graph family's LCB dial — HNSW's ef):
    // walk the beam ladder, per rung replaying the ROUTER's exact merge
    // driver-side (per-shard graphTopK over the written slab+sidecar,
    // merged under the global order) against the exact oracle on the
    // same half-stride calibration sample the ivf calibration uses;
    // chosen = smallest rung whose one-sided 90% LCB clears the target,
    // degrade-to-ladder-max (reported, not hidden) when none does.
    val graphLadder = Seq(8, 16, 32, 64, 96)
    val (graphBeam, graphCalMet): (Int, Double) =
      if (!graph) (0, 1.0)
      else {
        val reps = slabs.map(p => BatchedServer.FlatReplica(SlabIO.read(p)))
        val sidecars = slabs.map(p => SlabIO.readGraph(s"$p.graph"))
        val stride = math.max(1, qPool.length / 32)
        val calQ = (0 until 32).map(i => (i * stride + stride / 2) % qPool.length)
          .distinct
        def lcbAt(b: Int): Double = {
          val per = calQ.map { qi =>
            val q = qPool(qi)
            val got = reps.indices.flatMap(s =>
              ShardWorker.graphTopK(reps(s), sidecars(s), q, k, th, b))
              .sortBy { case (id, sc, _) => (-sc, id) }.take(k).map(_._1).toSet
            val want = exactIds(qi).map(_._1).toSet
            if (want.isEmpty) 1.0 else (got & want).size.toDouble / want.size
          }
          val m = per.sum / per.length
          val sd =
            if (per.length < 2) 0.0
            else math.sqrt(per.map(r => (r - m) * (r - m)).sum / (per.length - 1))
          m - 1.28 * sd / math.sqrt(per.length)
        }
        graphLadder.iterator.map(b => (b, lcbAt(b)))
          .find(_._2 >= ivfTarget) match {
          case Some((b, _)) => (b, 1.0)
          case None => (graphLadder.max, 0.0)
        }
      }
    val basePort = 42800 + (System.nanoTime() % 100).toInt
    val workerThreads = math.max(4,
      Runtime.getRuntime.availableProcessors / nShards)
    // straggler injection (measurement only, default off): the LAST
    // shard sleeps stallMs per request, so the deadline path is graded
    // under an actual straggler instead of only where it never fires
    val stallMs = sys.env.getOrElse("GRAFT_XPROC_STALL_MS", "0").toLong
    // worker heap sized from the slab: the float replica needs the slab
    // + its SIMD transpose + the transient row array at load (~3.5× the
    // file) — a fixed 2g OOM'd silently at the ivf-scale sweep's 8×
    // point (2.1M rows, 1.08 GB slab)
    val maxSlabBytes = slabs.map(p =>
      java.nio.file.Files.size(java.nio.file.Paths.get(p))).max
    val workerXmx =
      math.max(2L, (maxSlabBytes * 4.0 / (1L << 30)).ceil.toLong) + "g"
    val procs = slabs.zipWithIndex.map { case (slab, i) =>
      val stall = if (i == slabs.length - 1) stallMs else 0L
      val tailArgs =
        if (graph) Seq("20", "", "", "0", "3.0",
          ShardWorker.DefaultFullScanThreshold.toString,
          s"$slab.graph", graphBeam.toString)
        else if (ivf) Seq("20", if (int8) s"$slab.i8" else "",
          s"$slab.ivf", ivfNprobe.toString, effOversample.toString)
        else if (int8) Seq("20", s"$slab.i8", "", "0",
          effOversample.toString)
        else Seq.empty
      Drive.spawnWorker(workerXmx, Seq(slab,
        (basePort + i).toString, k.toString, th.toString,
        workerThreads.toString, stall.toString) ++ tailArgs,
        new java.io.File(s"$dir/worker_$i.log"))
    }
    // success flag for the cleanup path: set only when the full
    // measurement completed (worker logs are kept on failure)
    var ok: Option[Map[String, Double]] = None
    try {
      val addrs = (0 until nShards).map(i => ("127.0.0.1", basePort + i))
      val router = Drive.whenUp(new RemoteShardedRouter(addrs, k))
      try {
        router.ping()
        // correctness: float router ≡ solo exact knn on 3 spread queries;
        // int8 router ≡ the in-JVM int8 kernel per shard + top-k merge
        // (the tier's own contract — the approximation vs exact is the
        // separate recall row below, measured not gated); ivf router:
        // every returned hit carries its TRUE exact score in descending
        // (score, id asc) order — pruning may drop candidates (that is
        // the recall row) but must never corrupt survivors (the
        // pruned≡full parity at full probe is spec-pinned in
        // ShardWorkerSpec at fixture scale)
        val okAll =
          if (ivf || graph)
            Seq(0, nQ / 2, nQ - 1).forall { qi =>
              val got = router.search(qPool(qi))
              val embOf = bigPoints
                .filter(col("id").isin(got.map(h => Long.box(h._1)): _*))
                .select(col("id"), col("embedding")).collect()
                .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
              val q = qPool(qi)
              val scoresExact = got.forall { case (id, s, _) =>
                val e = embOf(id)
                var acc = 0.0; var x = 0
                val nd = math.min(e.length, q.length)
                while (x < nd) { acc += e(x) * q(x); x += 1 }
                s == graft.plans.Num.round6(acc) && s >= th
              }
              val ordered = got.sortBy { case (id, s, _) => (-s, id) }
                .toSeq == got.toSeq
              scoresExact && ordered && got.nonEmpty
            }
          else if (!int8)
            Seq(0, nQ / 2, nQ - 1).forall { qi =>
              router.search(qPool(qi)).map(h => (h._1, h._2)).toSeq == exactIds(qi)
            }
          else {
            // per-shard oracle built ONE SHARD AT A TIME from the slab
            // files (SlabIO.read) and released before the next — all
            // three test queries batch through each shard so the slab
            // is read once (ADVICE r15 driver-memory fix)
            val qis = Seq(0, nQ / 2, nQ - 1)
            val wantByQ = scala.collection.mutable.Map[Int,
              scala.collection.mutable.ArrayBuffer[(Long, Double, Int)]]()
            qis.foreach(qi => wantByQ(qi) =
              scala.collection.mutable.ArrayBuffer.empty)
            slabs.foreach { slabPath =>
              val rep = BatchedServer.FlatReplica(SlabIO.read(slabPath))
              val codes = BatchedServer.quantizeSlab(rep.embs)
              val qArr = qis.map(qPool(_)).toArray
              BatchedServer.int8TwoPhase(rep, codes, qArr, k, th,
                effOversample, null, 1)
                .zipWithIndex.foreach { case (hits, bi) => wantByQ(qis(bi)) ++= hits }
            }
            qis.forall { qi =>
              val got = router.search(qPool(qi)).toSeq
              val want = wantByQ(qi)
                .sortBy { case (id, s, _) => (-s, id) }.take(k).toSeq
              got == want
            }
          }
        // approximate tiers (int8 / ivf): recall@k MEASURED, not assumed
        // (ADVICE r14) — recall of the router vs exact over 32 spread
        // queries (HELD OUT from the ivf calibration sample, which sits
        // at half-stride offsets); the bench gates the tier's bars on
        // this row next to its stated target
        val heldOutQis = (0 until 32).map(i => i * math.max(1, nQ / 32) % nQ)
        val recallAtK =
          if (!int8 && !ivf && !graph) 1.0
          else {
            val per = heldOutQis.map { qi =>
              val got = router.search(qPool(qi)).map(_._1).toSet
              val want = exactIds(qi).map(_._1).toSet
              if (want.isEmpty) 1.0 else (got & want).size.toDouble / want.size
            }
            math.rint(per.sum / per.length * 10000) / 10000
          }
        // GATE-BINDING evidence (VERDICT r16 #3): recall@k the tier WOULD
        // have at nprobe=1, on the same held-out sample. Within-cell
        // scoring is exact, so coverage IS recall: recall@nprobe1 = the
        // fraction of each query's true top-k living in its single
        // nearest cell (per shard the same global cell is probed, so the
        // shard union covers exactly that cell). On the clustered fixture
        // this must sit BELOW the target while the calibrated nprobe
        // clears it — proving "recall ≥ target" is a real constraint, not
        // a structural identity of the fixture.
        val recallAtNprobe1: Double =
          if (!ivf) 1.0
          else {
            val exactByQ = heldOutQis.map(qi => qi -> exactIds(qi).map(_._1)).toMap
            val allNbs = exactByQ.values.flatten.toSeq.distinct
            val nbRows = bigPoints
              .filter(col("id").isin(allNbs.map(Long.box): _*))
              .select(col("id"), col("embedding")).collect()
              .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, 0))
            val cellOfNb = nbRows.map(_._1).zip(
              assignCells(nbRows, ivfCents,
                Runtime.getRuntime.availableProcessors)).toMap
            val c = ivfCents.length
            val per = heldOutQis.map { qi =>
              val q = qPool(qi)
              val top1 = (0 until c).map { j =>
                var s = 0.0; var x = 0
                val ce = ivfCents(j)
                while (x < math.min(ce.length, q.length)) { s += ce(x) * q(x); x += 1 }
                (graft.plans.Num.round6(s), j)
              }.minBy { case (s, j) => (-s, j) }._2
              val want = exactByQ(qi)
              if (want.isEmpty) 1.0
              else want.count(nb => cellOfNb(nb) == top1).toDouble / want.size
            }
            math.rint(per.sum / per.length * 10000) / 10000
          }
        // IPC floor
        (0 until 200).foreach(_ => router.ping())
        val (_, pings) = Drive.closed(1, 1000)((_, _) => router.ping())
        // JIT/GC warm for router AND workers before the timed drives
        (0 until 600).foreach(i => router.search(qPool(i % nQ)))
        def pct(xs: Array[Double], p: Double): Double = Drive.pct(xs, p, 1000)
        val closedClients = 32
        val perClient = 100
        // MEDIAN-OF-3 drives (r16): a single closed/paced capture is
        // hostage to whatever the box does during its 3-8 s window —
        // same-code spreads of 300× were observed on the paced row under
        // transient load. Three drives with a per-metric median is the
        // same de-noising discipline the query suite applies to its
        // volatile tail (5-run medians in queries_runs); min would
        // grade best-case, median grades the typical drive.
        // searchFn-parameterized drives: the filtered phases grade
        // router.searchFiltered through the SAME closed/paced machinery
        def runClosed(searchFn: Int => Unit): (Double, Double, Double) = {
          val (closedSecs, cl) =
            Drive.closed(closedClients, perClient)((_, i) => searchFn(i))
          (math.rint(closedClients * perClient / closedSecs * 10) / 10,
            pct(cl, 0.5), pct(cl, 0.99))
        }
        // paced 1000 QPS, p50/p99 from SCHEDULED arrival; 64 request
        // threads, 2 min for the stragglers
        val paceQps = 1000
        val paceN = 5000
        def paced(searchFn: Int => Unit): Array[Double] =
          Drive.pacedBlocking(paceQps, paceN, workers = 64,
            timeout = 2.minutes)(searchFn)
        def runPaced(searchFn: Int => Unit): (Double, Double) = {
          val pl = paced(searchFn)
          (pct(pl, 0.5), pct(pl, 0.99))
        }
        def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
        // one full drive set (3× closed + 3× paced) with its own steal
        // window: (qps, closedP50, closedP99, pacedP50, pacedP99, steal)
        def driveSet(searchFn: Int => Unit)
            : (Double, Double, Double, Double, Double, Double) = {
          val ((closedRuns, pacedRuns), steal) = Drive.withSteal(
            (IndexedSeq.fill(3)(runClosed(searchFn)),
              IndexedSeq.fill(3)(runPaced(searchFn))))
          (med(closedRuns.map(_._1)), med(closedRuns.map(_._2)),
            med(closedRuns.map(_._3)), med(pacedRuns.map(_._1)),
            med(pacedRuns.map(_._2)), steal)
        }
        val plainSearch: Int => Unit = i => router.search(qPool(i % nQ))
        // STEAL-GATED retry (r16): when the hypervisor stole > 5% of the
        // drive window, the window measured the HOST's other tenants,
        // not this code — re-run the whole set once and keep the
        // LOWER-STEAL set. Selection is on the interference evidence,
        // never on the result (a fast-but-stolen set is still discarded
        // if its steal reads higher), so this cannot grade best-case; it
        // only refuses to grade a flooded track. One retry, bounded.
        // retried: 0 = gate never fired; 1 = fired, FIRST set kept
        // (the retry read equal-or-higher steal); 2 = fired, SECOND set
        // kept — so an adjudicator knows which wall-clock window the
        // graded numbers came from.
        val firstSet = driveSet(plainSearch)
        val (chosenSet, retried) =
          if (firstSet._6 > 5.0) {
            val second = driveSet(plainSearch)
            if (second._6 >= 0 && second._6 < firstSet._6) (second, 2.0)
            else (firstSet, 1.0)
          } else (firstSet, 0.0)
        val (closedQps, closedP50, closedP99, pacedP50, pacedP99,
          driveSteal) = chosenSet
        // FILTERED serving drives (VERDICT r16 #1): the reference's
        // flagship query shape — a user_id predicate fused INTO the
        // search — driven through router.searchFiltered on the ivf tier.
        // Selective = one user (the verify-flow shape; the worker plans
        // an exact scan over just that user's postings rows — recall 1.0
        // by construction, so correctness is row-for-row vs the Spark
        // filtered oracle). Broad = an IN-list wide enough to push
        // matched rows past the worker's full-scan threshold (the worker
        // post-filters the probed cells — approximate like any pruned
        // scan, so the broad row ships measured filtered recall instead
        // of an equality gate, plus the same exact-scores/order checks
        // as the unfiltered ivf tier). GRAPH mode drives the same two
        // phases: selective takes the same exact postings path; broad
        // takes the full-graph descent with eligibility filtering
        // (filtered-HNSW), so the same checks apply — hits must satisfy
        // the predicate with exact scores, recall is measured.
        val filteredPhases: Map[String, Double] =
          if (!ivf && !graph) Map.empty else {
          val sampleUsers = bigPoints.orderBy("id").limit(4000)
            .select(col("user_id")).collect().map(_.getInt(0)).distinct
          val selUsers: Int => Array[Int] =
            qi => Array(sampleUsers(qi % sampleUsers.length))
          val broadUsers: Array[Int] =
            sampleUsers.take(math.min(100, sampleUsers.length))
          def matchedOf(us: Array[Int]): Long = bigPoints
            .filter(col("user_id").isin(us.map(Int.box): _*)).count()
          val matchedSel = matchedOf(selUsers(0))
          val matchedBroad = matchedOf(broadUsers)
          def exactFiltered(qi: Int, us: Array[Int]): Seq[(Long, Double, Int)] = {
            import spark.implicits._
            val q = Seq(qPool(qi).toSeq).toDF("qemb")
            graft.operators.Search.knn(bigPoints, q, k, th,
              preFilter = Some(col("user_id").isin(us.map(Int.box): _*)))
              .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
              .toSeq
          }
          // correctness: selective ≡ exact filtered oracle row-for-row
          val selCorrect = Seq(0, nQ / 2, nQ - 1).forall { qi =>
            router.searchFiltered(qPool(qi), selUsers(qi)).toSeq ==
              exactFiltered(qi, selUsers(qi))
          }
          // broad: every hit satisfies the predicate, carries its true
          // exact score, in (score desc, id asc) order; recall measured
          val broadChecks = Seq(0, nQ / 2, nQ - 1).forall { qi =>
            val got = router.searchFiltered(qPool(qi), broadUsers)
            val ids = got.map(h => Long.box(h._1)).toSeq
            val rowsOf = bigPoints.filter(col("id").isin(ids: _*))
              .select(col("id"), col("embedding"), col("user_id")).collect()
              .map(r => r.getLong(0) ->
                (r.getSeq[Double](1).toArray, r.getInt(2))).toMap
            val q = qPool(qi)
            got.forall { case (id, s, u) =>
              val (e, trueU) = rowsOf(id)
              var acc = 0.0; var x = 0
              val nd = math.min(e.length, q.length)
              while (x < nd) { acc += e(x) * q(x); x += 1 }
              u == trueU && broadUsers.contains(u) &&
                s == graft.plans.Num.round6(acc) && s >= th
            } && got.sortBy { case (id, s, _) => (-s, id) }.toSeq == got.toSeq
          }
          val broadRecall = {
            val per = heldOutQis.take(16).map { qi =>
              val got = router.searchFiltered(qPool(qi), broadUsers)
                .map(_._1).toSet
              val want = exactFiltered(qi, broadUsers).map(_._1).toSet
              if (want.isEmpty) 1.0 else (got & want).size.toDouble / want.size
            }
            math.rint(per.sum / per.length * 10000) / 10000
          }
          val selSet = driveSet(i =>
            router.searchFiltered(qPool(i % nQ), selUsers(i % nQ)))
          val broadSet = driveSet(i =>
            router.searchFiltered(qPool(i % nQ), broadUsers))
          Map(
            "crossproc_filtered_correct" ->
              (if (selCorrect && broadChecks) 1.0 else 0.0),
            "crossproc_filtered_matched_sel" -> matchedSel.toDouble,
            "crossproc_filtered_matched_broad" -> matchedBroad.toDouble,
            "crossproc_filtered_broad_recall_at_k" -> broadRecall,
            "crossproc_filtered_closed_qps" -> selSet._1,
            "crossproc_filtered_closed_p50_ms" -> selSet._2,
            "crossproc_filtered_closed_p99_ms" -> selSet._3,
            "crossproc_filtered_paced_p50_ms" -> selSet._4,
            "crossproc_filtered_paced_p99_ms" -> selSet._5,
            "crossproc_filtered_drive_steal_pct" -> selSet._6,
            "crossproc_filtered_broad_closed_qps" -> broadSet._1,
            "crossproc_filtered_broad_closed_p50_ms" -> broadSet._2,
            "crossproc_filtered_broad_closed_p99_ms" -> broadSet._3,
            "crossproc_filtered_broad_paced_p50_ms" -> broadSet._4,
            "crossproc_filtered_broad_paced_p99_ms" -> broadSet._5,
            "crossproc_filtered_broad_drive_steal_pct" -> broadSet._6)
        }
        // deadline + hedged phases: the straggler-policy arcs, in their
        // own steal window so their latency rows keep box-state evidence
        // too (the drive gate covers only closed+paced) — run on
        // the float tier only (the int8 probe grades the quantized
        // kernel + slab economics; policy arcs are tier-independent)
        val (tailPhases, policySteal) = Drive.withSteal[Map[String, Double]](
            if (int8 || ivf || graph) Map.empty else {
          // DEADLINE path (searchPartial, PLANS_r13 §3): the same paced
          // drive with a 20 ms per-request gather deadline — the tail is
          // bounded by construction at the cost of (1 − complete_rate)
          // degraded-but-exact-subset answers; both shipped so the
          // trade is visible next to the blocking path's p99.
          val deadlineMs = 20L
          val dIncomplete = new java.util.concurrent.atomic.AtomicLong(0)
          val dl = paced { i =>
            val r = router.searchPartial(qPool(i % nQ), deadlineMs)
            if (!r.complete) dIncomplete.incrementAndGet()
          }
          // HEDGE-THEN-DEGRADE path (searchHedged, VERDICT r13 #4 + r14
          // #8): the same paced drive with a duplicate send to any shard
          // still silent after `hedgeMs` (a p95-ish fraction of the
          // deadline — Dean–Barroso's "after the 95th-percentile
          // expected latency" rule), COMPOSED with the drop path's 20 ms
          // gather deadline as the last resort: the hedge's second
          // latency draw rescues the common intermittent stall (complete
          // rate stays ~1), and the ~1% whose stall outruns BOTH
          // attempts is dropped at the deadline instead of dragging p99
          // to the old 100 ms hedge budget (r14 measured 103.6 ms p99 as
          // exactly that budget surfacing). Hedge rate and the deadline
          // both ship in the artifact.
          val hedgeMs = sys.env.getOrElse("GRAFT_XPROC_HEDGE_MS", "5").toLong
          val hedgeDeadlineMs = sys.env.getOrElse(
            "GRAFT_XPROC_HEDGE_DEADLINE_MS", "20").toLong
          val hedgeBudget = sys.env.getOrElse("GRAFT_XPROC_HEDGE_BUDGET",
            RemoteShardedRouter.HedgeBudgetFraction.toString).toDouble
          val hIncomplete = new java.util.concurrent.atomic.AtomicLong(0)
          val hSent = new java.util.concurrent.atomic.AtomicLong(0)
          val hWins = new java.util.concurrent.atomic.AtomicLong(0)
          val hl = paced { i =>
            val r = router.searchHedged(qPool(i % nQ), hedgeMs,
              hedgeDeadlineMs, budgetFraction = hedgeBudget)
            if (!r.complete) hIncomplete.incrementAndGet()
            hSent.addAndGet(r.hedgesSent)
            hWins.addAndGet(r.hedgeWins)
          }
          Map(
            "crossproc_deadline_ms" -> deadlineMs.toDouble,
            "crossproc_deadline_paced_p50_ms" -> pct(dl, 0.5),
            "crossproc_deadline_paced_p99_ms" -> pct(dl, 0.99),
            "crossproc_deadline_complete_rate" ->
              math.rint((1.0 - dIncomplete.get().toDouble / paceN) * 10000) / 10000,
            "crossproc_hedge_after_ms" -> hedgeMs.toDouble,
            "crossproc_hedge_deadline_ms" -> hedgeDeadlineMs.toDouble,
            "crossproc_hedge_budget" -> hedgeBudget,
            "crossproc_hedged_paced_p50_ms" -> pct(hl, 0.5),
            "crossproc_hedged_paced_p99_ms" -> pct(hl, 0.99),
            "crossproc_hedged_complete_rate" ->
              math.rint((1.0 - hIncomplete.get().toDouble / paceN) * 10000) / 10000,
            "crossproc_hedge_rate" ->
              math.rint(hSent.get().toDouble / paceN * 10000) / 10000,
            "crossproc_hedge_win_rate" -> (if (hSent.get() == 0) 0.0 else
              math.rint(hWins.get().toDouble / hSent.get() * 10000) / 10000))
        })
        val int8Extras: Map[String, Double] =
          (if (!int8) Map.empty[String, Double]
          else Map(
            "crossproc_oversample" -> effOversample,
            "crossproc_float_slab_mb" ->
              math.rint(floatSlabBytes / 1e6 * 100) / 100,
            "crossproc_code_slab_mb" ->
              math.rint(codeSlabBytes / 1e6 * 100) / 100) ++
            calDecision.map(d => Map(
              "crossproc_oversample_calibrated" -> 1.0,
              "crossproc_cal_sample_recall" -> d.sampleRecall,
              "crossproc_cal_target" -> d.targetRecall,
              "crossproc_cal_target_met" ->
                (if (d.family == "int8") 1.0 else 0.0))
            ).getOrElse(Map("crossproc_oversample_calibrated" -> 0.0))) ++
          (if (!int8 && !ivf && !graph) Map.empty[String, Double]
          else Map("crossproc_recall_at_k" -> recallAtK)) ++
          (if (!ivf) Map.empty[String, Double]
          else Map(
            "crossproc_nprobe" -> ivfNprobe.toDouble,
            "crossproc_cells" -> ivfCents.length.toDouble,
            "crossproc_recall_target" -> ivfTarget,
            "crossproc_recall_at_nprobe1" -> recallAtNprobe1,
            "crossproc_scanned_frac" -> ivfScanFrac)) ++
          (if (!graph) Map.empty[String, Double]
          else Map(
            "crossproc_beam" -> graphBeam.toDouble,
            "crossproc_edges" -> graphEdges.toDouble,
            "crossproc_entries" -> graphEntries.toDouble,
            "crossproc_recall_target" -> ivfTarget,
            "crossproc_cal_target_met" -> graphCalMet))
        val result = (Map(
          "crossproc_rows" -> bigN.toDouble,
          "crossproc_shards" -> nShards.toDouble,
          "crossproc_worker_threads" -> workerThreads.toDouble,
          "crossproc_correct" -> (if (okAll) 1.0 else 0.0),
          "crossproc_ping_p50_ms" -> pct(pings, 0.5),
          "crossproc_ping_p99_ms" -> pct(pings, 0.99),
          "crossproc_closed_clients" -> closedClients.toDouble,
          "crossproc_closed_qps" -> closedQps,
          "crossproc_closed_p50_ms" -> closedP50,
          "crossproc_closed_p99_ms" -> closedP99,
          "crossproc_paced_rate_qps" -> paceQps.toDouble,
          "crossproc_paced_p50_ms" -> pacedP50,
          "crossproc_paced_p99_ms" -> pacedP99,
          "crossproc_drive_median_of" -> 3.0,
          // box-state next to the latency it explains: steal of the
          // GRADED drive window, plus whether the steal gate re-ran it
          // (and which window it kept — see the retried encoding above)
          "crossproc_drive_steal_pct" -> driveSteal,
          "crossproc_drive_retried" -> retried,
          "crossproc_policy_steal_pct" -> policySteal,
          "crossproc_stall_ms" -> stallMs.toDouble)
          ++ tailPhases ++ int8Extras ++ filteredPhases)
          .map { case (key, v) => key.replaceFirst("crossproc", P) -> v }
        ok = Some(result)
        result
      } finally router.close()
    } finally {
      procs.foreach(_.destroyForcibly())
      // the slab handoff dir is hundreds of MB at the replica-too-big
      // fixture size — reclaim the SLABS unconditionally rather than
      // leaking one copy per bench run (ADVICE r12). Worker logs are
      // deleted only on the success path: after a measurement failure
      // they are the only diagnostic left (the bench catch keeps just
      // the one-line exception message — ADVICE r13), so on failure the
      // dir (logs only, slabs gone) is left behind and its path printed.
      procs.foreach(p => try p.waitFor(5, java.util.concurrent.TimeUnit.SECONDS)
        catch { case _: InterruptedException => () })
      val failed = ok.isEmpty
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .iterator().asScala
          .filter(p => !failed || java.nio.file.Files.isDirectory(p) ||
            !p.getFileName.toString.endsWith(".log"))
          .foreach(p => try java.nio.file.Files.deleteIfExists(p)
            catch { case _: java.io.IOException => () })
      } catch { case scala.util.control.NonFatal(_) => () }
      if (failed)
        println(s"crossproc_worker_logs_kept: $dir")
    }
  }
}

object CrossProcProbe {

  /** Flags a CHILD Spark-capable JVM needs, replayed from THIS JVM's own
    * launch arguments (build.sbt's jdk17AddOpens + the incubator-vector
    * module) instead of a hand-rolled list — a bare `java` child breaks
    * Spark internals silently on JDK 17 (the r15 re-capture incident:
    * Kryo "Unable to create serializer" swallowed into plausible
    * timings). Heap is the one flag REPLACED: the child runs small-heap
    * on purpose (VERDICT r15 #4 — paced-policy numbers from a big-heap
    * JVM are GC-noise next to signal). */
  private[graft] def sparkChildFlags(xmx: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val in = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toList
    val picked = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < in.length) {
      val a = in(i)
      if (a == "--add-opens" || a == "--add-modules" || a == "--add-exports") {
        if (i + 1 < in.length) { picked += a; picked += in(i + 1); i += 1 }
      } else if (a.startsWith("--add-opens=") || a.startsWith("--add-modules=") ||
          a.startsWith("--add-exports=") || a.startsWith("-D"))
        picked += a
      i += 1
    }
    picked.toSeq :+ s"-Xmx$xmx"
  }

  /** Run the probe in a SMALL-HEAP subprocess and merge its per-mode JSON
    * lines ([[mergeProbeLines]]) — the in-suite path for every
    * cross-process policy number (VERDICT r15 #4: the r15 in-suite paced
    * rows spread 48.8–387.7 ms across same-code runs because the bench
    * JVM's big-heap GC pauses landed on the fixed arrival clock; the
    * standalone small-heap JVM measured the same code at a ≤2× spread).
    * A subprocess that fails after some modes finished still returns
    * their keys, and prints the `crossproc_error` note itself. Throws
    * when no mode finished — the bench catch degrades that to absent
    * keys + the same note. */
  def viaSubprocess(sfDir: String, modes: String, cpus: Int = 32,
      xmx: String = "6g"): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val args = Seq(javaBin) ++ sparkChildFlags(xmx) ++
      Seq("-cp", cp, "graft.CrossProcProbe")
    val logFile = java.io.File.createTempFile("graft_xproc_sub", ".log")
    val pb = new ProcessBuilder(args.asJava)
    pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
    pb.environment().put("SPARK_GRAFT_CPUS", cpus.toString)
    pb.environment().put("GRAFT_XPROC_MODES", modes)
    sys.env.get("GRAFT_XPROC_OVERSAMPLE").foreach(v =>
      pb.environment().put("GRAFT_XPROC_OVERSAMPLE", v))
    pb.redirectErrorStream(true)
    pb.redirectOutput(logFile)
    val p = pb.start()
    val done = p.waitFor(45, java.util.concurrent.TimeUnit.MINUTES)
    if (!done) p.destroyForcibly()
    val ok = done && p.exitValue() == 0
    val src = scala.io.Source.fromFile(logFile)
    val out = try mergeProbeLines(src.getLines()) finally src.close()
    val failure = s"crossproc subprocess ${if (ok) "printed no probe line"
      else s"failed (done=$done)"}, log kept: $logFile"
    require(out.nonEmpty, failure)
    if (ok) logFile.delete()
    else println(s"crossproc_error: $failure; the finished modes' keys are kept")
    out
  }

  /** Every complete `"probe":"crossproc"` line of a probe's output (one
    * per finished mode) merged into one key → number map. A line cut
    * short by a dying process (no closing brace) is skipped, and so are
    * the non-numeric fields. */
  private[graft] def mergeProbeLines(lines: Iterator[String]): Map[String, Double] = {
    val kv = "\"([A-Za-z0-9_]+)\":(-?[0-9][0-9.eE+-]*)".r
    lines.filter(l => l.contains("\"probe\":\"crossproc\"") && l.trim.endsWith("}"))
      .flatMap(l => kv.findAllMatchIn(l).map(m => m.group(1) -> m.group(2).toDouble))
      .toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the slab handoff collects whole shards to the driver (the
    // deliberate replica-tier shape); the ivf-scale sweep's 8× point is a
    // 2.1M-row single shard ≈ 1.1 GB of task results — over the 1 GB
    // default cap
    val spark = Drive.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      "spark.driver.maxResultSize" -> "8g")
    val points = graft.operators.Collection.load(spark, sfDir)
    val n = points.count()
    val shardMaxRows = BatchedServer.DefaultReplicaMaxRows
    val nCopies = (shardMaxRows / math.max(n, 1L)).toInt + 1
    val idStride = 1L << 32
    // GRAFT_XPROC_FIXTURE: "clustered" (default — VERDICT r16 #3: earned
    // recall geometry, straddling Gaussian clusters) or "replicated"
    // (the pre-r17 copies fixture, kept as the A/B knob; its recall rows
    // are structural 1.0 at nprobe=1 and say nothing).
    val fixtureKind = sys.env.getOrElse("GRAFT_XPROC_FIXTURE", "clustered")
    val bigPoints =
      if (fixtureKind == "clustered") {
        val d = points.select(org.apache.spark.sql.functions.size(
          col("embedding"))).head().getInt(0)
        CrossProc.clusteredPoints(spark, nCopies * n, d)
          .repartition(32).cache()
      } else {
        val copies = spark.range(nCopies).select(col("id").as("copy"))
        points.crossJoin(copies)
          .select((col("id") + col("copy") * idStride).as("id"),
            col("embedding"), col("user_id"))
          .repartition(32).cache()
      }
    bigPoints.count()
    // query pool FROM the fixture (its rows are what the exact oracle
    // and the workers serve)
    val qPool = bigPoints.orderBy("id").limit(400)
      .select("embedding").collect()
      .map(_.getSeq[Double](0).toArray)
    // GRAFT_XPROC_IVF_SCALE=1: the flat-per-query sweep (VERDICT r15 #1
    // "the number the full-scan tier cannot produce") — ONE worker, shard
    // rows growing 1×/2×/4×/8×, C ∝ N (fixed ~8k-row cells), nprobe
    // re-calibrated per size at the same 0.95 target. The full-scan
    // tier's per-query cost grows with the slab; the IVF tier's probed
    // rows stay ~nprobe·cellRows, so its closed p50 should stay flat.
    // Each size prints one JSON line with both tiers' numbers.
    if (sys.env.get("GRAFT_XPROC_IVF_SCALE").contains("1")) {
      bigPoints.unpersist() // the sweep builds its own sized fixtures
      // the sweep keeps its r16 replicated fixtures (it grades how
      // per-query COST scales with shard rows, where the copies are the
      // point) — so its query pool comes from the source points, not the
      // clustered main fixture
      val sweepQPool = points.orderBy("id").limit(400)
        .select("embedding").collect()
        .map(_.getSeq[Double](0).toArray)
      val mults = sys.env.getOrElse("GRAFT_XPROC_SCALE_MULTS", "1,2,4,8")
        .split(",").map(_.trim.toInt).toSeq
      mults.foreach { mult =>
        val copies = nCopies * mult
        val big = {
          val cs = spark.range(copies).select(col("id").as("copy"))
          points.crossJoin(cs)
            .select((col("id") + col("copy") * idStride).as("id"),
              col("embedding"), col("user_id"))
            .repartition(32).cache()
        }
        val rows = big.count()
        val fl = CrossProc.measure(spark, big, sweepQPool,
          forcedShards = Some(1))
        val iv = CrossProc.measure(spark, big, sweepQPool,
          forcedShards = Some(1), ivf = true)
        big.unpersist()
        def g(m: Map[String, Double], key: String): Double =
          m.getOrElse(key, -1.0)
        println(s"""{"probe":"ivfscale","rows":$rows,""" +
          s""""full_closed_p50_ms":${g(fl, "crossproc_closed_p50_ms")},""" +
          s""""full_closed_qps":${g(fl, "crossproc_closed_qps")},""" +
          s""""ivf_closed_p50_ms":${g(iv, "crossproc_ivf_closed_p50_ms")},""" +
          s""""ivf_closed_qps":${g(iv, "crossproc_ivf_closed_qps")},""" +
          s""""ivf_paced_p50_ms":${g(iv, "crossproc_ivf_paced_p50_ms")},""" +
          s""""ivf_nprobe":${g(iv, "crossproc_ivf_nprobe")},""" +
          s""""ivf_cells":${g(iv, "crossproc_ivf_cells")},""" +
          s""""ivf_scanned_frac":${g(iv, "crossproc_ivf_scanned_frac")},""" +
          s""""ivf_scanned_rows":${math.rint(
            g(iv, "crossproc_ivf_scanned_frac") * rows)},""" +
          s""""ivf_recall_at_k":${g(iv, "crossproc_ivf_recall_at_k")},""" +
          s""""ivf_correct":${g(iv, "crossproc_ivf_correct")}}""")
      }
      spark.stop()
      return
    }
    // GRAFT_XPROC_GRAPH_VS_IVF=1: the cell-growth regime comparison
    // (VERDICT r16 #4's motivating point) — ONE worker, the ivf tier
    // forced onto COARSE cells (default 32768 rows/cell, the probed-cell
    // size the ×8 sweep's skewed cell reached) vs the graph tier on the
    // same fixture: ivf's per-query work is nprobe · cellRows and grows
    // with the cell; the descent's beam·degree·hops does not. One JSON
    // line with both tiers' p50/QPS/recall.
    if (sys.env.get("GRAFT_XPROC_GRAPH_VS_IVF").contains("1")) {
      val coarse = sys.env.getOrElse(
        "GRAFT_XPROC_COARSE_CELL_ROWS", "32768").toLong
      val iv = CrossProc.measure(spark, bigPoints, qPool,
        forcedShards = Some(1), ivf = true, cellRowsOverride = coarse)
      val gr = CrossProc.measure(spark, bigPoints, qPool,
        forcedShards = Some(1), graph = true)
      def g(m: Map[String, Double], key: String): Double =
        m.getOrElse(key, -1.0)
      println(s"""{"probe":"graphvsivf","rows":${bigPoints.count()},""" +
        s""""coarse_cell_rows":$coarse,""" +
        s""""ivf_closed_p50_ms":${g(iv, "crossproc_ivf_closed_p50_ms")},""" +
        s""""ivf_paced_p50_ms":${g(iv, "crossproc_ivf_paced_p50_ms")},""" +
        s""""ivf_closed_qps":${g(iv, "crossproc_ivf_closed_qps")},""" +
        s""""ivf_nprobe":${g(iv, "crossproc_ivf_nprobe")},""" +
        s""""ivf_scanned_frac":${g(iv, "crossproc_ivf_scanned_frac")},""" +
        s""""ivf_recall_at_k":${g(iv, "crossproc_ivf_recall_at_k")},""" +
        s""""graph_closed_p50_ms":${g(gr, "crossproc_graph_closed_p50_ms")},""" +
        s""""graph_paced_p50_ms":${g(gr, "crossproc_graph_paced_p50_ms")},""" +
        s""""graph_closed_qps":${g(gr, "crossproc_graph_closed_qps")},""" +
        s""""graph_beam":${g(gr, "crossproc_graph_beam")},""" +
        s""""graph_recall_at_k":${g(gr, "crossproc_graph_recall_at_k")}}""")
      spark.stop()
      return
    }
    val forced = sys.env.get("GRAFT_XPROC_SHARDS").map(_.toInt)
    // GRAFT_XPROC_MODES: comma list of float,int8,ivf,ivf8 — all modes
    // share ONE fixture build so the in-suite bench can gather every
    // cross-proc tier from a single small-heap subprocess (VERDICT r15
    // #4: no policy number graded from a big-heap JVM).
    // GRAFT_XPROC_INT8=1 is the legacy spelling of MODES=int8.
    val modes = sys.env.get("GRAFT_XPROC_MODES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(
        if (sys.env.get("GRAFT_XPROC_INT8").contains("1")) Seq("int8")
        else Seq("float"))
    // <= 0 (the default): calibrate the int8 oversample from shard 0's
    // slab at the serving recall target; positive pins it (A/B knob)
    val oversample =
      sys.env.getOrElse("GRAFT_XPROC_OVERSAMPLE", "-1").toDouble
    // one probe line per finished mode: a failing mode costs only its own
    // keys, and the exit status says that one failed
    val failed = modes.count { mode =>
      try {
        val keys = CrossProc.measure(spark, bigPoints, qPool,
          forcedShards = forced,
          int8 = mode == "int8" || mode == "ivf8",
          ivf = mode == "ivf" || mode == "ivf8",
          int8Oversample = oversample,
          graph = mode == "graph")
        println((Seq("\"probe\":\"crossproc\"", s""""sf":"$sfDir"""", s""""mode":"$mode"""") ++
          keys.toSeq.sortBy(_._1).map { case (key, v) => "\"" + key + "\":" + v })
          .mkString("{", ",", "}"))
        false
      } catch {
        case scala.util.control.NonFatal(e) =>
          println(s"crossproc_mode_error: $mode: ${e.getClass.getName}: ${e.getMessage}")
          true
      }
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
