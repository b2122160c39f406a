package graft

/** Serving-freshness probe (r16): three standalone measurements of the
  * slab lifecycle the reference runs implicitly inside Qdrant — live
  * updates while serving (src/core/qdrant_client.py add_vector /
  * delete_vector against a serving collection) — expressed here as the
  * slab tier's patch → reload → failover pipeline. Plain JVM end to end
  * (workers are subprocesses, like CrossProcProbe): no Spark at runtime,
  * because the question is serving economics, not plan shape.
  *
  *   1. `patch`    — incremental [[SlabIO.patchCellOrdered]] vs a full
  *                   rebuild at 1% churn on a 1M-row clustered slab:
  *                   byte-identical output asserted, wall-clock and the
  *                   avoided work reported. The 100 TB argument: refresh
  *                   cost should scale with the CDC batch, not the shard.
  *   2. `reload`   — a worker swaps generations mid-storm
  *                   ([[ShardWorker.ReloadCmd]]): zero failed requests,
  *                   p50 before/during/after, sentinel visible after.
  *   3. `failover` — the primary worker is KILLED mid-storm; the router's
  *                   conn layer fails the shard over to a backup replica:
  *                   zero caller-visible errors, the reconnect blip
  *                   quantified, answers stay exact.
  *
  * Usage: `RefreshProbe [rows] [mode]`, mode ∈ all|patch|reload|failover.
  * Results land in SCALING.md (r16 addendum). */
object RefreshProbe {
  import Drive.timed

  private def unit(d: Int, rnd: scala.util.Random): Array[Double] = {
    val v = Array.fill(d)(rnd.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** Clustered fixture: rows drawn around `c` unit centroids (the
    * serving regime — structureless noise would make every cell
    * equidistant and the patch's dirty-set tiny AND meaningless). */
  private def mkFixture(n: Int, c: Int, d: Int, seed: Int)
      : (Array[(Long, Array[Double], Int)], Array[Array[Double]]) = {
    val rnd = new scala.util.Random(seed)
    val cents = Array.fill(c)(unit(d, rnd))
    val rows = Array.tabulate(n) { i =>
      val base = cents(rnd.nextInt(c))
      val e = base.zip(unit(d, rnd)).map { case (a, b) => a + 0.15 * b }
      val norm = math.sqrt(e.map(x => x * x).sum)
      (i.toLong, e.map(_ / norm), i % 10)
    }
    (rows, cents)
  }

  /** Cell-order `rows` by (assigned cell, id) and write the full slab
    * generation (float + ivf sidecar + int8 twin). Returns the assign /
    * sort+write timings — the costs a patch avoids for clean rows. */
  private def buildGeneration(rows: Array[(Long, Array[Double], Int)],
      cents: Array[Array[Double]], threads: Int, slabPath: String)
      : (Double, Double) = {
    val (cells, tAssign) = timed(CrossProc.assignCells(rows, cents, threads))
    val (_, tWrite) = timed {
      val order = rows.indices.toArray
        .sortBy(i => (cells(i), rows(i)._1))
      val sorted = order.map(rows)
      val offs = new Array[Int](cents.length + 1)
      cells.foreach(j => offs(j + 1) += 1)
      (1 to cents.length).foreach(j => offs(j) += offs(j - 1))
      SlabIO.write(slabPath, sorted)
      SlabIO.writeIvf(s"$slabPath.ivf",
        cents.indices.map(_.toLong).toArray, cents, offs, slabPath)
      SlabIO.writeInt8(s"$slabPath.i8", sorted, slabPath)
    }
    (tAssign, tWrite)
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
    val d = rows(0)._2.length
    val every = math.max(1, (1.0 / frac).round.toInt)
    val ups = rows.filter(_._1 % every == 3).map { case (id, _, u) =>
      val base = cents(rnd.nextInt(cents.length))
      val e = base.zip(unit(d, rnd)).map { case (a, b) => a + 0.15 * b }
      val norm = math.sqrt(e.map(x => x * x).sum)
      (id, e.map(_ / norm), u)
    }
    val nextId = rows.map(_._1).max + 1
    val inserts = Array.tabulate(math.max(1, rows.length / (every * 10))) { i =>
      val base = cents(rnd.nextInt(cents.length))
      val e = base.zip(unit(d, rnd)).map { case (a, b) => a + 0.15 * b }
      val norm = math.sqrt(e.map(x => x * x).sum)
      (nextId + i, e.map(_ / norm), (i % 10))
    }
    val dels = rows.filter(r => r._1 % every == 7 && r._1 % (every * 10) == 7)
      .map(_._1).toSet
    (ups, inserts, dels)
  }

  /** One patch-vs-rebuild measurement: `ups`/`inserts`/`dels` applied to
    * the v1 generation both ways; byte-identity asserted; one result
    * line printed under `tag`. The patch path touches the old slab ONLY
    * for dirty cells' survivor rows ([[SlabIO.readRows]]) — its read
    * cost scales with the dirty set, like everything else about it. */
  private def patchVsRebuild(tag: String, v1: String, dir: String,
      rows: Array[(Long, Array[Double], Int)], cents: Array[Array[Double]],
      ups: Array[(Long, Array[Double], Int)],
      inserts: Array[(Long, Array[Double], Int)], dels: Set[Long],
      threads: Int): Unit = {
    val c = cents.length
    val upById = ups.map(r => r._1 -> r).toMap
    val newRows = rows.filterNot(r => dels(r._1))
      .map(r => upById.getOrElse(r._1, r)) ++ inserts
    // PATH A — full rebuild: re-assign and re-write everything
    val ref = s"$dir/rebuild_$tag.slab"
    val (ra, rw) = buildGeneration(newRows, cents, threads, ref)
    // PATH B — incremental patch: assign ONLY the churned rows, splice
    // the rest. Dirty cells = old cells of touched ids ∪ new cells of
    // arriving rows; each dirty cell's new contents are its surviving
    // old rows merged with arrivals.
    var dirtyCells = 0
    val (_, tPatch) = timed {
      val changed = ups ++ inserts
      val changedCells =
        if (changed.isEmpty) Array.empty[Int]
        else CrossProc.assignCells(changed, cents, threads)
      val ivf1 = SlabIO.readIvf(s"$v1.ivf")
      // old cells of touched ids from ONE streaming pass over the ids
      // region (8 bytes/row — 16 MB at 2M rows); a deployment holding
      // the id→cid sidecar (CollectionStore.saveIdSidecar) replaces even
      // this with O(batch) bucket-pruned reads
      val touched = ups.map(_._1).toSet ++ dels
      val dirty = scala.collection.mutable.Set[Int]()
      val slabIds = SlabIO.readIds(v1)
      (0 until ivf1.c).foreach { j =>
        var r = ivf1.offs(j)
        while (r < ivf1.offs(j + 1)) {
          if (touched(slabIds(r))) dirty += j
          r += 1
        }
      }
      var i = 0
      while (i < changedCells.length) { dirty += changedCells(i); i += 1 }
      dirtyCells = dirty.size
      val arrivals = changed.indices.groupBy(changedCells)
        .map { case (cell, is) => cell -> is.map(changed).toArray }
      val newByCell = dirty.iterator.map { j =>
        val survivors = SlabIO.readRows(v1, ivf1.offs(j), ivf1.offs(j + 1))
          .filterNot(r => touched(r._1))
        j -> (survivors ++ arrivals.getOrElse(j, Array.empty))
          .sortBy(_._1)
      }.toMap
      val out = s"$dir/patched_$tag.slab"
      val (n2, clean, dirtyB) = SlabIO.patchCellOrdered(
        v1, s"$v1.ivf", newByCell, out, s"$out.ivf", s"$v1.i8", s"$out.i8")
      require(n2 == newRows.length, s"$n2 != ${newRows.length}")
      println(f"patch.$tag%s dirty_cells=${dirty.size}/$c " +
        f"clean_bytes=$clean dirty_bytes=$dirtyB")
    }
    // byte-identity: the patched generation IS the rebuilt one
    def eq(a: String, b: String) = java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(a)),
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(b)))
    val out = s"$dir/patched_$tag.slab"
    require(eq(out, ref), s"$tag: patched slab != rebuilt slab")
    require(eq(s"$out.ivf", s"$ref.ivf"), s"$tag: patched ivf != rebuilt")
    require(eq(s"$out.i8", s"$ref.i8"), s"$tag: patched i8 != rebuilt")
    println(f"patch.$tag%s byte_identical=1 patch_s=$tPatch%.2f " +
      f"rebuild_s=${ra + rw}%.2f speedup=${(ra + rw) / tPatch}%.1fx " +
      f"(rebuild assign_s=$ra%.2f write_s=$rw%.2f)")
    Seq(out, s"$out.ivf", s"$out.i8", ref, s"$ref.ivf", s"$ref.i8").foreach(
      p => java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p)))
  }

  /** Scenario 1: patch vs rebuild under the two churn shapes that decide
    * the refresh policy.
    *
    *   - `append_local`: 1% NEW rows arriving around 3 centroids — the
    *     training-corpus tick (documents append; few corrections).
    *     Arrivals land in few cells, so the patch splices almost
    *     everything: the designed regime.
    *   - `scattered`: 1% of EXISTING ids re-embedded toward random
    *     centroids + scattered deletes — the worst case: ~batch distinct
    *     old cells + ~batch new cells go dirty, and with target cells of
    *     ~8k rows any scattered batch ≥ C dirties essentially every
    *     cell. The patch then degenerates to a rebuild minus global
    *     re-assignment — measured and reported, not hidden: the refresh
    *     PLANNER (refreshStats.rewrite_frac) is exactly the number a
    *     deployment consults to pick rebuild over patch for such a
    *     batch. */
  def patchScenario(n: Int, threads: Int, dir: String): Unit = {
    val d = 64
    val c = math.max(16, n / 8192)
    val (rows, cents) = mkFixture(n, c, d, seed = 11)
    val v1 = s"$dir/gen1.slab"
    val (b1a, b1w) = buildGeneration(rows, cents, threads, v1)
    println(f"patch.v1_build assign_s=$b1a%.2f write_s=$b1w%.2f rows=$n cells=$c")
    // regime 1: append-local — 1% inserts around cents 0..2
    val rnd = new scala.util.Random(13)
    val nextId = rows.length.toLong
    val appended = Array.tabulate(n / 100) { i =>
      val base = cents(rnd.nextInt(3))
      val e = base.zip(unit(d, rnd)).map { case (a, b) => a + 0.15 * b }
      val norm = math.sqrt(e.map(x => x * x).sum)
      (nextId + i, e.map(_ / norm), i % 10)
    }
    patchVsRebuild("append_local", v1, dir, rows, cents,
      ups = Array.empty, inserts = appended, dels = Set.empty, threads)
    // regime 2: scattered upserts+deletes — the honest worst case
    val (ups, inserts, dels) = mkChurn(rows, cents, frac = 0.01, seed = 12)
    patchVsRebuild("scattered", v1, dir, rows, cents, ups, inserts, dels,
      threads)
  }

  private def p50(ns: Seq[Long]): Double =
    if (ns.isEmpty) Double.NaN
    else Drive.pct(ns.map(_ / 1e6).sorted.toArray, 0.5, 100)

  /** Scenario 2: RELOAD mid-storm — zero dropped requests, bounded blip. */
  def reloadScenario(n: Int, threads: Int, dir: String): Unit = {
    val d = 64
    val c = math.max(16, n / 8192)
    val (rows, cents) = mkFixture(n, c, d, seed = 21)
    val q = unit(d, new scala.util.Random(22))
    val v1 = s"$dir/r1.slab"
    buildGeneration(rows, cents, threads, v1)
    // v2: 1% churn + a sentinel row exactly at the probe query
    val (ups, inserts, dels) = mkChurn(rows, cents, frac = 0.01, seed = 23)
    val upById = ups.map(r => r._1 -> r).toMap
    val sentinel = (rows.length.toLong + 999999L, q, 7)
    val newRows = rows.filterNot(r => dels(r._1))
      .map(r => upById.getOrElse(r._1, r)) ++ inserts :+ sentinel
    val v2 = s"$dir/r2.slab"
    buildGeneration(newRows, cents, threads, v2)
    val k = 10
    val port = 43300 + (System.nanoTime() % 97).toInt
    // int8 + ivf mode: the reload swaps the FULL generation (code slab,
    // sidecar, calibration knobs), not just the float file
    val nprobe = math.max(1, c / 16)
    val proc = Drive.spawnWorker("4g", Seq(v1, port.toString, k.toString,
      "0.0", "8", "0", "20", s"$v1.i8", s"$v1.ivf", nprobe.toString, "3.0"))
    try {
      val router =
        Drive.whenUp(new RemoteShardedRouter(Seq(("127.0.0.1", port)), k))
      try {
        router.ping()
        require(router.search(q).head._1 != sentinel._1, "sentinel in v1?")
        val storm = new Drive.Background(8)(() => router.search(q))
        Thread.sleep(3000)
        val tReload0 = System.nanoTime()
        val r = router.reload(0, v2, s"$v2.i8", s"$v2.ivf", nprobe, 3.0)
        val tReload1 = System.nanoTime()
        require(r.isRight, s"reload failed: $r")
        Thread.sleep(3000)
        val (all, errs) = storm.stop()
        val before = all.filter(_._1 < tReload0 - 500000000L).map(_._2)
        val during = all.filter(l =>
          l._1 >= tReload0 - 500000000L && l._1 <= tReload1 + 500000000L).map(_._2)
        val after = all.filter(_._1 > tReload1 + 500000000L).map(_._2)
        println(f"reload.requests=${all.length} errors=$errs " +
          f"p50_before_ms=${p50(before)}%.2f p50_during_ms=${p50(during)}%.2f " +
          f"p50_after_ms=${p50(after)}%.2f " +
          f"reload_rtt_ms=${(tReload1 - tReload0) / 1e6}%.1f")
        require(errs == 0, s"reload dropped $errs requests")
        val post = router.search(q)
        require(post.head._1 == sentinel._1 && post.head._2 == 1.0,
          s"sentinel must lead post-swap, got ${post.head}")
        println("reload.sentinel_served=1")
      } finally router.close()
    } finally proc.destroy()
  }

  /** Scenario 3: primary worker KILLED mid-storm — failover to the
    * backup replica with zero caller-visible errors. */
  def failoverScenario(n: Int, threads: Int, dir: String): Unit = {
    val d = 64
    val c = math.max(16, n / 8192)
    val (rows, cents) = mkFixture(n, c, d, seed = 31)
    val q = unit(d, new scala.util.Random(32))
    val slab = s"$dir/f1.slab"
    buildGeneration(rows, cents, threads, slab)
    val k = 10
    val pPort = 43500 + (System.nanoTime() % 97).toInt
    val bPort = pPort + 101
    def worker(port: Int) =
      Drive.spawnWorker("4g", Seq(slab, port.toString, k.toString, "0.0", "8"))
    val primary = worker(pPort)
    val backup = worker(bPort)
    try {
      val router = Drive.whenUp(new RemoteShardedRouter(
        Seq(("127.0.0.1", pPort)), k, backups = Seq(Seq(("127.0.0.1", bPort)))))
      try {
        router.ping()
        // wait for the BACKUP too (the router only handshakes the primary)
        Drive.whenUp {
          val s = new java.net.Socket()
          s.connect(new java.net.InetSocketAddress("127.0.0.1", bPort), 1000)
          s.close()
        }
        val healthy = router.search(q).toSeq
        val wrong = new java.util.concurrent.atomic.AtomicInteger(0)
        val storm = new Drive.Background(8)(() =>
          if (router.search(q).toSeq != healthy) wrong.incrementAndGet())
        Thread.sleep(3000)
        val tKill = System.nanoTime()
        primary.destroyForcibly()
        Thread.sleep(4000)
        val (all, errs) = storm.stop()
        val before = all.filter(_._1 < tKill).map(_._2)
        val afterKill = all.filter(_._1 >= tKill).map(_._2)
        val blip = if (afterKill.isEmpty) 0.0 else afterKill.max / 1e6
        println(f"failover.requests=${all.length} errors=$errs " +
          f"wrong_answers=${wrong.get()} p50_before_ms=${p50(before)}%.2f " +
          f"p50_after_kill_ms=${p50(afterKill)}%.2f max_blip_ms=$blip%.1f")
        require(errs == 0, s"failover surfaced $errs errors to callers")
        require(wrong.get() == 0, s"${wrong.get()} non-exact answers")
        require(afterKill.nonEmpty, "no traffic measured after the kill")
      } finally router.close()
    } finally { primary.destroyForcibly(); backup.destroyForcibly() }
  }

  /** Scenario 4 — the COMPOSED freshness arc (VERDICT r16 #5): every
    * piece proven separately in r16 run as ONE pipeline against a live
    * worker under load, for both churn shapes:
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
      "0.0", "8", "0", "20", s"$gen1.i8", s"$gen1.ivf", nprobe.toString, "3.0"))
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
              val ins = Array.tabulate(math.max(64, n / 100)) { i =>
                val base = cents(rnd.nextInt(3))
                val e = base.zip(unit(d, rnd)).map { case (a, b) => a + 0.15 * b }
                val norm = math.sqrt(e.map(x => x * x).sum)
                (nextId + i, e.map(_ / norm), i % 10)
              }
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
      proc.destroy()
      spark.stop()
    }
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 1000000
    val mode = if (args.length > 1) args(1) else "all"
    val threads = Runtime.getRuntime.availableProcessors
    val dir = java.nio.file.Files.createTempDirectory("graft_refresh").toString
    try {
      if (mode == "all" || mode == "patch") patchScenario(n, threads, dir)
      if (mode == "all" || mode == "reload") reloadScenario(n, threads, dir)
      if (mode == "all" || mode == "failover") failoverScenario(n, threads, dir)
      if (mode == "all" || mode == "e2e")
        e2eScenario(math.min(n, 262144), threads, dir)
      println("refresh_probe_ok=1")
    } finally Drive.deleteTree(dir)
  }
}
