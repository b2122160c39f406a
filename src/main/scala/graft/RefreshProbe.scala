package graft

import scala.concurrent.duration._

/** Serving-freshness probe: the slab lifecycle the reference runs
  * implicitly inside Qdrant — live updates while serving
  * (src/core/qdrant_client.py add_vector / delete_vector against a
  * serving collection) — run as one composed arc against a live worker
  * under load: CDC batch → refresh planner → patch or rebuild → RELOAD.
  * Workers are subprocesses, like CrossProcProbe. The pieces alone are
  * pinned by ShardWorkerSpec (patched generation byte-identical to a
  * rebuild, RELOAD under load, failover to a backup); the standalone
  * patch/reload/failover timings of SCALING.md r16 are reproducible at
  * commit `9dae910`.
  *
  * Usage: `RefreshProbe [rows]` (at most and by default 262144). */
object RefreshProbe {
  import Drive.timed

  private def unit(d: Int, rnd: scala.util.Random): Array[Double] = {
    val v = Array.fill(d)(rnd.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** A unit vector 0.15 of a random unit step away from `base`. */
  private def near(base: Array[Double], rnd: scala.util.Random): Array[Double] = {
    val e = base.zip(unit(base.length, rnd)).map { case (a, b) => a + 0.15 * b }
    val norm = math.sqrt(e.map(x => x * x).sum)
    e.map(_ / norm)
  }

  /** Clustered fixture: rows drawn around `c` unit centroids (the
    * serving regime — structureless noise would make every cell
    * equidistant and the patch's dirty-set tiny AND meaningless). */
  private def mkFixture(n: Int, c: Int, d: Int, seed: Int)
      : (Array[(Long, Array[Double], Int)], Array[Array[Double]]) = {
    val rnd = new scala.util.Random(seed)
    val cents = Array.fill(c)(unit(d, rnd))
    val rows = Array.tabulate(n)(i => (i.toLong, near(cents(rnd.nextInt(c)), rnd), i % 10))
    (rows, cents)
  }

  /** Deterministic churn: `frac` of ids re-embedded near a DIFFERENT
    * centroid (most upserts move cells — the worst case for dirtiness),
    * plus frac/10 inserts and frac/10 deletes. Returns (upserts,
    * insertRows, deleteIds). */
  private def mkChurn(rows: Array[(Long, Array[Double], Int)],
      cents: Array[Array[Double]], frac: Double, seed: Int)
      : (Array[(Long, Array[Double], Int)], Array[(Long, Array[Double], Int)],
         Set[Long]) = {
    val rnd = new scala.util.Random(seed)
    val every = math.max(1, (1.0 / frac).round.toInt)
    val ups = rows.filter(_._1 % every == 3).map { case (id, _, u) =>
      (id, near(cents(rnd.nextInt(cents.length)), rnd), u) }
    val nextId = rows.map(_._1).max + 1
    val inserts = Array.tabulate(math.max(1, rows.length / (every * 10)))(i =>
      (nextId + i, near(cents(rnd.nextInt(cents.length)), rnd), i % 10))
    val dels = rows.filter(r => r._1 % every == 7 && r._1 % (every * 10) == 7)
      .map(_._1).toSet
    (ups, inserts, dels)
  }

  /** The composed freshness arc (VERDICT r16 #5): every piece run as
    * ONE pipeline against a live worker under load, for both churn
    * shapes:
    *
    *   CDC batch → [[graft.sources.CollectionStore.refreshManifestIndexed]]
    *   (the store-scan-free planner) → patch-or-rebuild decided by the
    *   planner's `rewrite_frac` → RELOAD on the serving worker.
    *
    * Asserted per shape: (a) the storm sees ZERO failed requests across
    * plan+build+reload; (b) the batch's sentinel row becomes the top-1
    * hit atomically at the swap (served results flip generations); (c)
    * BOTH build paths produce byte-identical generations (so the
    * decision is an economics choice, never a correctness one); (d) the
    * planner's decision side matches the measured cheaper path whenever
    * the measurement is decisive (ratio ≥ 1.1×) — append-local churn
    * must choose patch, scattered churn must choose rebuild. */
  def e2eScenario(n: Int, threads: Int, dir: String): Unit = {
    val spark = Drive.session(threads.toString)
    import graft.sources.CollectionStore
    import org.apache.spark.sql.functions.col
    val d = 64
    val c = math.max(16, n / 8192)
    val (rows, cents) = mkFixture(n, c, d, seed = 41)
    val q = unit(d, new scala.util.Random(42))
    val storePath = s"$dir/e2e_store"
    val pointsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, threads)
        .map(r => (r._1, r._2.toSeq, r._3, r._1.toDouble)))
      .toDF("id", "embedding", "user_id", "ts")
    val centsDf = spark.createDataFrame(
      cents.toSeq.zipWithIndex.map { case (ce, j) => (j.toLong, ce.toSeq) })
      .toDF("cid", "ce")
    CollectionStore.saveIndexed(pointsDf, storePath, centsDf,
      idSidecarBuckets = Some(8))
    val gen1 = s"$dir/e2e_g1.slab"
    CollectionStore.exportSlab(spark, storePath, gen1)
    val k = 10
    val nprobe = math.max(1, c / 16)
    val port = 43700 + (System.nanoTime() % 97).toInt
    val proc = Drive.spawnWorker("4g", Seq(gen1, port.toString, k.toString,
      "0.0", "threads=8", s"int8=$gen1.i8", s"ivf=$gen1.ivf", s"nprobe=$nprobe"))
    try {
      val router =
        Drive.whenUp(new RemoteShardedRouter(Seq(("127.0.0.1", port)), k))
      try {
        router.ping()
        val storm = new Drive.Background(8)(() => router.search(q))
        val rnd = new scala.util.Random(43)
        var curGen = gen1
        var genIdx = 1
        // two sequential CDC ticks: append-local then scattered — each
        // planned, built, and reloaded against the live worker
        Seq("append_local", "scattered").foreach { shape =>
          val sentinelId = 7000000L + genIdx
          val (ups, inserts, dels) = shape match {
            case "append_local" =>
              val nextId = 6000000L + genIdx * 100000L
              val ins = Array.tabulate(math.max(64, n / 100))(i =>
                (nextId + i, near(cents(rnd.nextInt(3)), rnd), i % 10))
              (Array.empty[(Long, Array[Double], Int)], ins, Set.empty[Long])
            case _ => mkChurn(rows, cents, frac = 0.01, seed = 44)
          }
          val batch = (ups ++ inserts) :+ ((sentinelId, q, 7))
          // ts beyond every base row's: the CDC batch wins LWW
          val upsDf = spark.createDataFrame(
            spark.sparkContext.parallelize(batch.toSeq, threads)
              .map(r => (r._1, r._2.toSeq, r._3, 1e9 + genIdx)))
            .toDF("id", "embedding", "user_id", "ts")
          val delsDf = spark.createDataFrame(
            spark.sparkContext.parallelize(dels.toSeq.map(Tuple1(_)), threads))
            .toDF("id")
          // 1. PLAN with the store-scan-free planner (footers + bucket-
          //    pruned sidecar — O(batch + C))
          val (stats, tPlan) = timed {
            val m = CollectionStore.refreshStats(
              CollectionStore.refreshManifestIndexed(
                spark, storePath, upsDf, delsDf, nBuckets = 8)).head()
            (m.getLong(1), m.getLong(3), m.getLong(2))
          }
          val (cellsDirty, rowsRewritten, rowsTotal) = stats
          val rewriteFrac = rowsRewritten.toDouble / math.max(rowsTotal, 1L)
          val decision = if (rewriteFrac <= 0.5) "patch" else "rebuild"
          // the manifest again, for the dirty-cell set the patch ships
          val dirtyCids = CollectionStore.refreshManifestIndexed(
              spark, storePath, upsDf, delsDf, nBuckets = 8)
            .filter(col("dirty") === 1).select("cid")
            .collect().map(_.getLong(0)).toSeq
          // 2. APPLY the CDC to the store (the source of truth)
          val centRows = centsDf
            .select(col("cid").cast("long"), col("ce")).orderBy("cid").collect()
          CollectionStore.mergeIndexed(spark, storePath, upsDf,
            centRows.map(_.getLong(0)).toSeq,
            centRows.map(_.getSeq[Double](1).toSeq).toSeq,
            nBuckets = 8, deletes = Some(delsDf))
          // 3. BUILD the next generation BOTH ways, timed; byte-identity
          //    makes the decision pure economics
          val patched = s"$dir/e2e_g${genIdx + 1}_patch.slab"
          val (_, tPatch) = timed {
            val shipped = CollectionStore.exportCells(spark, storePath, dirtyCids)
            val ivf1 = SlabIO.readIvf(s"$curGen.ivf")
            val idxOf = ivf1.cids.zipWithIndex.toMap
            SlabIO.patchCellOrdered(curGen, s"$curGen.ivf",
              shipped.map { case (cid, rs) => idxOf(cid) -> rs },
              patched, s"$patched.ivf", s"$curGen.i8", s"$patched.i8")
          }
          val rebuilt = s"$dir/e2e_g${genIdx + 1}_rebuild.slab"
          val (_, tRebuild) = timed {
            CollectionStore.exportSlab(spark, storePath, rebuilt)
          }
          def bytes(p: String) = java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(p))
          require(java.util.Arrays.equals(bytes(patched), bytes(rebuilt)),
            s"$shape: patched generation != rebuilt generation")
          val chosen = if (decision == "patch") patched else rebuilt
          // 4. RELOAD the worker onto the decision's artifact
          require(!router.search(q).exists(_._1 == sentinelId),
            s"$shape: sentinel visible before the swap")
          val r = router.reload(0, chosen, s"$chosen.i8", s"$chosen.ivf",
            nprobe, 3.0)
          require(r.isRight, s"$shape reload failed: $r")
          // each tick's sentinel shares the probe embedding (score 1.0);
          // earlier ticks' sentinels win the id tie, so the assertion is
          // PRESENCE at score 1.0, which only the new generation serves
          val post = router.search(q)
          require(post.exists(h => h._1 == sentinelId && h._2 == 1.0),
            s"$shape: sentinel must be served post-swap, got ${post.toSeq}")
          val ratio = tRebuild / tPatch
          val decisive = ratio >= 1.1 || ratio <= 1.0 / 1.1
          val measuredSide = if (tPatch < tRebuild) "patch" else "rebuild"
          if (decisive)
            require(decision == measuredSide,
              s"$shape: planner chose $decision (rewrite_frac=$rewriteFrac)" +
                s" but measured cheaper path is $measuredSide " +
                s"(patch=${tPatch}s rebuild=${tRebuild}s)")
          println(f"e2e.$shape%s plan_s=$tPlan%.2f cells_dirty=$cellsDirty " +
            f"rewrite_frac=$rewriteFrac%.4f decision=$decision " +
            f"patch_s=$tPatch%.2f rebuild_s=$tRebuild%.2f " +
            f"ratio=$ratio%.2f decisive=$decisive " +
            f"decision_matches_measured=${decision == measuredSide}")
          curGen = chosen
          genIdx += 1
        }
        Thread.sleep(500)
        val (lats, errs) = storm.stop()
        println(f"e2e.storm requests=${lats.size} errors=$errs")
        require(errs == 0, s"composed freshness arc dropped $errs requests")
      } finally router.close()
    } finally {
      Drive.stop(proc, 10.seconds)
      spark.stop()
    }
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) math.min(args(0).toInt, 262144) else 262144
    val threads = Runtime.getRuntime.availableProcessors
    val dir = java.nio.file.Files.createTempDirectory("graft_refresh").toString
    try {
      e2eScenario(n, threads, dir)
      println("refresh_probe_ok=1")
    } finally Drive.deleteTree(dir)
  }
}
