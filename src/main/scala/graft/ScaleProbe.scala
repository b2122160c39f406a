package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ann, Collection}
import graft.Drive.timed

/** Scaling-probe tool. Modes (third arg, default `graph`):
  *
  *  - `graph`: builds the graph once on the given fixture, then times
  *    (a) one single-query beam search and (b) one BATCHED beam search
  *    over `nQueries` evenly-spread stored vectors — the serving design
  *    point, where every hop join is shared by the whole batch.
  *  - `knn`: times the bulk k-NN self-join with EXACT centroid
  *    assignment vs the HIERARCHICAL (coarse-√C-then-fine) assignment at
  *    the same C — the experiment behind SCALING.md's two-level
  *    assignment rows (clustered vs structureless fixtures), plus the
  *    neighbor-overlap agreement between the two joins.
  *  - `diag`: times the two one-pass corpus diagnostics (zipf_fit over
  *    documents, embedding_health over raw vectors) — both single
  *    aggregates whose exponent should be ~flat-to-linear with NO
  *    driver-side materialization (VERDICT r9 #8).
  *
  * Prints one JSON line per phase.
  *
  *   SPARK_GRAFT_KNN_CELLS=320 sbt "runMain graft.ScaleProbe /tmp/graft_scale/sf10 100"
  *   SPARK_GRAFT_KNN_CELLS=320 sbt "runMain graft.ScaleProbe /tmp/graft_scale/sf10c 100 knn"
  *   sbt "runMain graft.ScaleProbe /tmp/graft_scale/sf10 100 diag"
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nQueries = if (args.length > 1) args(1).toInt else 100
    val mode = if (args.length > 2) args(2) else "graph"
    // serving mode collects a 2M-row replica template (~1 GB of rows) to
    // the driver — the deliberate replica-tier shape; the default 1 GB
    // maxResultSize caps it mid-collect
    val spark = Drive.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      "spark.driver.maxResultSize" -> "8g")
    val points = Collection.load(spark, sfDir)
      .select(col("id"), col("embedding"), col("user_id")).cache()
    val n = points.count()
    val cells = sys.env.getOrElse("SPARK_GRAFT_KNN_CELLS", "32").toInt
    if (mode == "graphchurn") {
      // Graph recall under SUSTAINED churn (VERDICT r15 #6): the one-tick
      // graph_after_cdc row (0.962 at sf0.1) answers "does one
      // delete+reinsert degrade the graph"; this mode answers "does it
      // COMPOUND". 10 consecutive CDC ticks, each the exact maintenance
      // composition the streaming path runs (graphDelete + beam-descent
      // graphInsert), over ROTATING 10% slices (pmod(id,10) == tick), so
      // across the 10 ticks every non-seed node is torn out and re-linked
      // by the insert machinery exactly once — by tick 10 the graph has
      // NO build edges left outside the entry tier, the worst case for
      // edge-quality drift. The collection itself is unchanged
      // (delete+reinsert of identical points), so the exact top-k sets
      // are computed once and recall per tick is directly comparable.
      import graft.operators.Ann
      val k = 10
      // query-sample width from args(1): 8 matches RecallReport's graded
      // row; 32 tightens the noise band (each neighbor is 1/(k·nQ) of
      // the mean) when adjudicating flat-vs-compounding
      val nQ = math.min(nQueries, 64)
      val qids = (0 until nQ).map(i => i * (n / nQ))
      val (ecids, ecents) = SparkEntry.graphEntrySeeds(spark, sfDir)
      val batchQ = points.filter(col("id").isin(qids.map(Long.box): _*))
        .select(col("id").as("qid"), col("embedding").as("qemb"))
        .localCheckpoint(true)
      def ids(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
        df.select("qid", "id").collect()
          .groupBy(_.getLong(0)).map { case (q, rs) =>
            q -> rs.map(_.getLong(1)).toSet }
      val exact = ids(graft.operators.Search.knnBatch(points,
        batchQ.select(col("qid").as("query_id"), col("qemb")), k, -1.0)
        .select(col("query_id").as("qid"), col("id")))
      def recallOf(g: org.apache.spark.sql.DataFrame): Double = {
        val got = ids(Ann.graphBeamSearch(points, g, batchQ, k = k,
          beam = 24, hops = 8, entryCids = ecids, entryCents = ecents))
        val per = qids.map { q =>
          val want = exact.getOrElse(q.toLong, Set.empty)
          if (want.isEmpty) 1.0
          else (got.getOrElse(q.toLong, Set.empty[Long]) & want).size.toDouble / want.size
        }
        math.rint(per.sum / per.size * 10000) / 10000
      }
      // STATS SEVERING, not just lineage severing: `localCheckpoint`
      // PRESERVES the source plan's estimated stats on the resulting
      // LogicalRDD leaf, and join-size estimates MULTIPLY — so chaining
      // checkpointed graphs across ticks compounds the size estimate
      // exponentially (the exponent multiplies by the per-tick join
      // count every tick), and by a few ticks the driver burns hours in
      // million-digit BigInteger products INSIDE stats computation (hit
      // live in this probe's first run, r16). Re-wrapping the
      // checkpointed RDD via createDataFrame resets the leaf to the
      // bounded default size estimate, so every tick starts from
      // constant-size stats. One tick (RecallReport's graph_after_cdc)
      // never sees this; ten chained ticks did.
      def severed(df: org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame =
        spark.createDataFrame(df.localCheckpoint(true).rdd, df.schema)
      var g = severed(SparkEntry.graphTable(spark, sfDir))
      val fresh = recallOf(g)
      val perTick = (1 to 10).map { t =>
        val slice = (t % 10).toLong
        val churn = points
          .filter(pmod(col("id"), lit(10L)) === slice && col("id") >= 32)
          .select(col("id"), col("embedding"), col("user_id"))
          .localCheckpoint(true)
        val surv = points.join(churn.select("id"), Seq("id"), "left_anti")
        val (g2, secs) = timed {
          severed(Ann.graphInsert(surv,
            Ann.graphDelete(g, churn.select("id")),
            churn, graphK = 12, maxDegree = 16, beam = 24, hops = 8,
            entryCids = ecids, entryCents = ecents))
        }
        g = g2
        val r = recallOf(g)
        println(s"""{"probe":"graphchurn_tick","tick":$t,"recall":$r,""" +
          s""""tick_secs":${math.rint(secs * 100) / 100}}""")
        r
      }
      println(s"""{"probe":"graphchurn","sf":"$sfDir","n":$n,""" +
        s""""fresh_recall":$fresh,""" +
        s""""recall_per_tick":[${perTick.mkString(",")}],""" +
        s""""min_recall":${perTick.min},"last_recall":${perTick.last}}""")
      spark.stop()
      return
    }
    if (mode == "diag") {
      // one-pass corpus diagnostics: each is a single hash-agg/agg plan
      // over the scan — flat driver memory at any N
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val rawEmb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("embedding").cast("array<double>").as("embedding"))
      graft.operators.TextAnalysis.zipfFit(docs).count() // warmup
      val (_, zipfSecs) = timed(
        graft.operators.TextAnalysis.zipfFit(docs).count())
      graft.operators.Stats.embeddingHealth(rawEmb).count() // warmup
      val (_, ehSecs) = timed(
        graft.operators.Stats.embeddingHealth(rawEmb).count())
      // round-11 one-pass shapes: the PCA moment aggregate (N·d²/2
      // products through ONE map-side-combined agg — the 2,080-row
      // shuffle claim) and one LR full-batch GD step (k+1 decimal sums)
      graft.operators.Pca.moments(points, 64) // warmup
      val (_, pcaSecs) = timed(graft.operators.Pca.moments(points, 64))
      // LR: the ONE-TIME feature build (the same text pipeline cost as
      // text_quality) separated from the PER-ITERATION aggregate — the
      // latter is what multiplies by the step count
      val feats = graft.operators.LogReg.qualityFeatures(docs)
        .select(col("f1"), col("f2"), col("f3"), col("f4"), col("y")).cache()
      val (_, lrBuildSecs) = timed(feats.count())
      graft.operators.LogReg.train(feats, iters = 1) // warmup
      val (_, lrSecs) = timed(graft.operators.LogReg.train(feats, iters = 1))
      feats.unpersist()
      println(s"""{"probe":"diag","sf":"$sfDir","n":$n,""" +
        s""""zipf_secs":${math.rint(zipfSecs * 100) / 100},""" +
        s""""embedding_health_secs":${math.rint(ehSecs * 100) / 100},""" +
        s""""pca_moments_secs":${math.rint(pcaSecs * 100) / 100},""" +
        s""""lr_feature_build_secs":${math.rint(lrBuildSecs * 100) / 100},""" +
        s""""lr_step_secs":${math.rint(lrSecs * 100) / 100}}""")
      spark.stop()
      return
    }
    if (mode == "ivfprobe") {
      // the deployment-regime IVF probe curve (VERDICT r11 #1 / r12): the
      // REGISTERED indexed_ivf_search store carries the oracle-pinned
      // C=16 trained cells, so probe bytes grow ∝ N/16 — flat only while
      // fixed cost dominates. At 100 TB the optimizer family holds cell
      // SIZE constant (C ∝ N — ivf_split/merge/optimize); this mode
      // builds the store at C = max(16, N/1250) (sf1: 16, sf10: 160,
      // sf100: 1600 — constant 1250-row cells) and times the
      // partition-pruned nprobe=4 search: the flat-at-any-N property
      // measured on its own three-point curve.
      import graft.sources.CollectionStore
      val c = math.max(16, (n / 1250).toInt)
      val san = sfDir.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"/tmp/graft_probe_ivf_$san"
      val (_, buildSecs) = timed(CollectionStore.saveIndexed(
        points, path, Ann.seedCentroids(points, c)))
      val (store, cents) = CollectionStore.loadIndexed(spark, path)
      val q = store.filter(col("id") === 0).select(col("embedding").as("qemb"))
      def once(): Double =
        timed(Ann.ivfSearch(store, cents, q, nprobe = 4, k = 10).count())._2
      once() // warmup (codegen + footer cache)
      val t = Seq(once(), once(), once()).sorted.apply(1)
      println(s"""{"probe":"ivfprobe","sf":"$sfDir","n":$n,"cells":$c,""" +
        s""""build_secs":${math.rint(buildSecs * 100) / 100},""" +
        s""""probe_secs":${math.rint(t * 1000) / 1000}}""")
      spark.stop()
      return
    }
    if (mode == "cnprobe") {
      // the GRADED C∝N config (VERDICT r12 #4): exactly the
      // indexed_ivf_search_cn lifecycle — saveIndexed on a small trained
      // centroid set, then optimizePartitions to the cnBand cell-size
      // band (constant ~1250-row cells at scale), then the
      // partition-pruned nprobe=4 search. Unlike `ivfprobe` (which
      // builds the end state directly at C = N/1250), this measures the
      // MAINTENANCE route the registered query uses, so the graded row
      // and the scale story coincide: report optimize wall, resulting C,
      // and the probe median.
      import graft.sources.CollectionStore
      val san = sfDir.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"/tmp/graft_probe_cn_$san"
      val (_, buildSecs) = timed(CollectionStore.saveIndexed(
        points, path, Ann.seedCentroids(points, 16),
        idSidecarBuckets = Some(64)))
      val (minR, maxR) = CollectionStore.cnBand(n)
      val (_, optSecs) = timed(CollectionStore.optimizePartitions(
        spark, path, minRows = minR, maxRows = maxR, nBuckets = 64))
      val (store, cents) = CollectionStore.loadIndexed(spark, path)
      val c = cents.count()
      val q = store.filter(col("id") === 0).select(col("embedding").as("qemb"))
      def once(): Double =
        timed(Ann.ivfSearch(store, cents, q, nprobe = 4, k = 10).count())._2
      once() // warmup (codegen + footer cache)
      val t = Seq(once(), once(), once()).sorted.apply(1)
      println(s"""{"probe":"cnprobe","sf":"$sfDir","n":$n,"cells":$c,""" +
        s""""band_min":$minR,"band_max":$maxR,""" +
        s""""build_secs":${math.rint(buildSecs * 100) / 100},""" +
        s""""optimize_secs":${math.rint(optSecs * 100) / 100},""" +
        s""""probe_secs":${math.rint(t * 1000) / 1000}}""")
      spark.stop()
      return
    }
    if (mode == "lifecycle") {
      // ONE composed maintenance tick at scale (VERDICT r13 #5): build
      // the C∝N store WITH residual codes + sidecar, optimize into the
      // cnBand, then run a CDC batch (adds + updates + tombstones)
      // through CollectionStore.maintainIndexed — merge, rebalance, and
      // residual-code re-encode in one pass — and report wall seconds
      // AND bytes actually read (the 100 TB cost predictor; fixture
      // wall is fixed-job-overhead-dominated). A full-store stale-code
      // scan closes the loop: stale_codes must be 0.
      import graft.sources.CollectionStore
      import graft.operators.Quantization
      val san = sfDir.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"/tmp/graft_probe_lc_$san"
      val marker = java.nio.file.Paths.get(path + "_fixture_sig")
      val fresh = !sys.env.contains("GRAFT_PROBE_REBUILD") &&
        java.nio.file.Files.exists(marker) &&
        new String(java.nio.file.Files.readAllBytes(marker)).trim == n.toString
      val cbRes = {
        // residual codebook trained once on the seed assignment (the
        // store build's own lifecycle); 128-bit config — the measured
        // scale budget (SCALING r13). Trained on a deterministic
        // subsample (the FAISS practice), encoded over the full store.
        val cents = Ann.seedCentroids(points, 16)
        val trainStep = math.max(1L,
          n / sys.env.getOrElse("GRAFT_PQ_TRAIN_MAX", "100000").toLong)
        Quantization.pqCodebookOf(Quantization.pqTrainResiduals(
          Ann.ivfAssign(points.filter(pmod(col("id"), lit(trainStep)) === 0),
            cents), cents, dim = 64,
          m = sys.env.getOrElse("GRAFT_PQ_M", "16").toInt,
          ksub = sys.env.getOrElse("GRAFT_PQ_KSUB", "256").toInt,
          maxIter = 5))
      }
      val (minR, maxR) = CollectionStore.cnBand(n)
      // LWW needs a ts column on store and batch alike (Collection.upsert)
      val pointsTs = points.withColumn("ts", col("id").cast("double"))
      val (buildSecs, optSecs) =
        if (fresh) (-1.0, -1.0)
        else {
          val (_, b) = timed(CollectionStore.saveIndexed(pointsTs, path,
            Ann.seedCentroids(points, 16), idSidecarBuckets = Some(64),
            pqResidualCodebook = Some(cbRes)))
          val (_, o) = timed(CollectionStore.optimizePartitions(
            spark, path, minRows = minR, maxRows = maxR, nBuckets = 64,
            pqResidualCodebook = Some(cbRes)))
          java.nio.file.Files.write(marker, n.toString.getBytes)
          (b, o)
        }
      // the CDC batch: nQueries fresh inserts + nQueries updates (other
      // rows' vectors — forced cell moves) + nQueries tombstones
      val maxId = points.agg(max(col("id"))).head().getLong(0)
      val adds = points.filter(col("id") < nQueries)
        .select((col("id") + maxId + 1000L).as("id"), col("embedding"),
          col("user_id"), lit(1e9).as("ts"))
        .unionByName(points
          .filter(col("id").between(maxId / 2, maxId / 2 + nQueries - 1))
          .select((col("id") - maxId / 2 + 100L).as("id"), col("embedding"),
            col("user_id"), lit(1e9).as("ts")))
        .localCheckpoint(true)
      val dels = {
        import spark.implicits._
        (0 until nQueries).map(i => 3000L + i).toDF("id")
      }
      val bytesAcc = new java.util.concurrent.atomic.AtomicLong
      // GRAFT_LC_TRACE=1: per-stage byte attribution (stage name carries
      // the call site) — the maintenance-reader diagnosis tool (r15)
      val trace = sys.env.get("GRAFT_LC_TRACE").contains("1")
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null)
            bytesAcc.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          if (trace) {
            val mb = s.stageInfo.taskMetrics.inputMetrics.bytesRead / 1e6
            if (mb > 20) {
              // the stage NAME for exchange/broadcast stages is a generic
              // thread-pool frame; look for any non-spark frame in the
              // creation-site stack, else dump the head of the stack
              val lines = s.stageInfo.details.split("\n").map(_.trim)
              val site = lines.find(l => l.contains("graft."))
                .getOrElse(lines.filterNot(l =>
                  l.contains("java.") || l.contains("scala.concurrent"))
                  .take(4).mkString(" <- "))
              println(f"[lcstage] ${s.stageInfo.stageId}%4d ${mb}%8.1f MB  " +
                site.take(300))
            }
          }
      }
      // FILESYSTEM-level bytes read (Hadoop FS statistics for the store's
      // scheme, JVM-wide — valid in local mode where executors are
      // in-process): the 100 TB-relevant number. The task-metrics
      // `tick_mb` above ALSO counts block-manager re-reads of
      // localCheckpoint/cached frames as "input" (the r15 trace showed
      // the big merge stages are checkpoint-block reads, not parquet),
      // so it OVERSTATES remote-storage I/O; both ship so the artifact
      // carries the distinction.
      def fsBytesRead(): Long = {
        import scala.jdk.CollectionConverters._
        org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
          .map(_.getBytesRead).sum
      }
      val fs0 = fsBytesRead()
      spark.sparkContext.addSparkListener(listener)
      bytesAcc.set(0L)
      // GRAFT_LC_DECOMPOSE=1: run the tick as its two phases (the exact
      // maintainIndexed body) with separate byte counts — the attribution
      // knob for "what reads the store during maintenance" (r15: the r14
      // guess that the band-check sizing pass dominated was WRONG; the
      // footer-based cellSizes barely moved the total)
      val decompose = sys.env.get("GRAFT_LC_DECOMPOSE").contains("1")
      var mergeBytes = -1L
      var optBytes = -1L
      val (centsAfter, tickSecs) =
        if (!decompose)
          timed(CollectionStore.maintainIndexed(
            spark, path, adds, Some(dels), nBuckets = 64,
            minRows = minR, maxRows = maxR,
            pqResidualCodebook = Some(cbRes)))
        else {
          // the listener-drain sleeps live OUTSIDE the timers (ADVICE
          // r15: with them inside, decompose-mode tick_secs was ~4 s
          // overstated vs the normal path and the two rows were not
          // comparable) — each phase is timed alone, the drain waits
          // between the stopwatches
          val centRows = spark.read.parquet(path + "_centroids")
            .select(col("cid").cast("long").as("cid"), col("ce"))
            .orderBy("cid").collect()
          val (_, mergeSecs) = timed(CollectionStore.mergeIndexed(
            spark, path, adds,
            centRows.map(_.getLong(0)).toSeq,
            centRows.map(_.getSeq[Double](1).toSeq).toSeq,
            nBuckets = 64, pqCodebook = None, deletes = Some(dels),
            pqResidualCodebook = Some(cbRes)))
          Thread.sleep(2000)
          mergeBytes = bytesAcc.get()
          val (r, optTickSecs) = timed(CollectionStore.optimizePartitions(
            spark, path, minRows = minR, maxRows = maxR, nBuckets = 64,
            pqResidualCodebook = Some(cbRes)))
          Thread.sleep(2000)
          optBytes = bytesAcc.get() - mergeBytes
          (r, mergeSecs + optTickSecs)
        }
      Thread.sleep(2000) // listener events drain async
      spark.sparkContext.removeSparkListener(listener)
      val tickBytes = bytesAcc.get()
      val tickFsBytes = fsBytesRead() - fs0
      val c = centsAfter.count()
      // consistency closure: recompute every row's residual codes vs the
      // final centroid table — stale count must be 0 (one full scan,
      // probe-only; the spec asserts the same at fixture scale)
      val (store, centsTable) = CollectionStore.loadIndexed(spark, path)
      val stale = store
        .join(org.apache.spark.sql.functions.broadcast(
          centsTable.select(col("cid"), col("ce"))), Seq("cid"))
        .filter(col("pqrc") =!= Quantization.pqEncode(
          zip_with(col("embedding"), col("ce"), (x, cc) => x - cc), cbRes))
        .count()
      println(s"""{"probe":"lifecycle","sf":"$sfDir","n":$n,"cells":$c,""" +
        s""""band_min":$minR,"band_max":$maxR,""" +
        s""""build_secs":${math.rint(buildSecs * 100) / 100},""" +
        s""""optimize_secs":${math.rint(optSecs * 100) / 100},""" +
        s""""batch_adds":${2 * nQueries},"batch_dels":$nQueries,""" +
        s""""tick_secs":${math.rint(tickSecs * 100) / 100},""" +
        s""""tick_mb":${math.rint(tickBytes / 1e5) / 10},""" +
        s""""tick_fs_mb":${math.rint(tickFsBytes / 1e5) / 10},""" +
        (if (decompose)
          s""""merge_mb":${math.rint(mergeBytes / 1e5) / 10},""" +
            s""""optimize_mb":${math.rint(optBytes / 1e5) / 10},"""
        else "") +
        s""""stale_codes":$stale}""")
      spark.stop()
      return
    }
    if (mode == "serving") {
      // INT8 vs FLOAT serving replica AT THE REAL SLAB (VERDICT r14 #7 +
      // ADVICE r14): the r14 int8 row was graded at 2k rows, where the
      // whole float slab is cache-resident and the quantized tier's only
      // effect is its extra phase-2 work — the "8× memory-bandwidth cut"
      // claim only materializes when the slab outruns cache. This mode
      // serves the SAME fixture through both replicas (float = exact
      // full scan; int8 = byte-slab phase 1 + float rescore of k·3
      // survivors), lone-client p50 and 8-client closed-loop QPS, plus
      // the int8-vs-exact recall@k the parity claim defers to at scale
      // (ApiSpec pins fixture equality; HERE the oversample=3
      // approximation is measured, not assumed).
      val k = 10
      val th = 0.1
      val qids = (0 until nQueries).map(i => (i * (n / nQueries)))
      val qPool: Array[Array[Double]] = points
        .filter(col("id").isin(qids.map(Long.box): _*))
        .orderBy("id").select("embedding").collect()
        .map(_.getSeq[Double](0).toArray)
      // one server per variant; returns (soloQps, soloP50, stormQps,
      // stormP50, per-query top-k id sets, float/int8 slab bytes)
      def drive(int8: Boolean)
          : (Double, Double, Double, Double, Array[Set[Long]], (Long, Long)) = {
        val srv = new BatchedServer(points, k, th,
          localReplicaMaxRows = n + 1, int8Replica = int8)
        try {
          import scala.concurrent.Await
          import scala.concurrent.duration._
          def one(q: Array[Double]): Array[org.apache.spark.sql.Row] =
            // 20 min: the FIRST request pays the whole replica build
            // (2M-row template collect + flat slab + int8 quantize)
            Await.result(srv.submit(q.toSeq), 1200.seconds)
          (0 until 20).foreach(i => one(qPool(i % qPool.length))) // JIT warm
          // solo closed loop over the query pool
          val (_, lats) = Drive.closed(1, qPool.length)((_, i) => one(qPool(i)))
          val soloQps = qPool.length / (lats.sum / 1e3)
          // 8-client closed-loop storm (each thread walks the pool)
          val clients = 8
          val perClient = math.max(25, qPool.length / 2)
          val (stormSecs, stormLats) = Drive.closed(clients, perClient)((_, i) =>
            one(qPool(i % qPool.length)))
          val stormQps = clients * perClient / stormSecs
          // per-query result ids (for the int8-vs-exact recall row)
          val hits = qPool.map(q => one(q).map(_.getLong(0)).toSet)
          (soloQps, Drive.pct(lats, 0.5, 100), stormQps,
            Drive.pct(stormLats, 0.5, 100), hits, srv.replicaSlabBytes)
        } finally srv.close()
      }
      val (fQps, fP50, fsQps, fsP50, fHits, _) = drive(int8 = false)
      val (iQps, iP50, isQps, isP50, iHits, slabs) = drive(int8 = true)
      val recall = math.rint(fHits.zip(iHits).map { case (f, i) =>
        if (f.isEmpty) 1.0 else (f & i).size.toDouble / f.size
      }.sum / fHits.length * 1000) / 1000
      def r2(x: Double): Double = math.rint(x * 100) / 100
      println(s"""{"probe":"serving","sf":"$sfDir","n":$n,""" +
        s""""queries":${qPool.length},"k":$k,""" +
        s""""float_solo_qps":${r2(fQps)},"float_solo_p50_ms":$fP50,""" +
        s""""float_storm_qps":${r2(fsQps)},"float_storm_p50_ms":$fsP50,""" +
        s""""int8_solo_qps":${r2(iQps)},"int8_solo_p50_ms":$iP50,""" +
        s""""int8_storm_qps":${r2(isQps)},"int8_storm_p50_ms":$isP50,""" +
        s""""int8_recall_at_$k":$recall,"int8_oversample":3.0,""" +
        s""""float_slab_mb":${r2(slabs._1 / 1e6)},""" +
        s""""int8_slab_mb":${r2(slabs._2 / 1e6)}}""")
      spark.stop()
      return
    }
    if (mode == "quantrecall") {
      // Quantization recall at the scale fixture (VERDICT r12 #8): the
      // graded recall report runs at sf0.1; this re-grades the
      // quantized two-phase paths — fixed-range INT8, trained SQ, and
      // PQ/ADC — against exact knn over the SAME rows at 2M-row scale,
      // where code-range behavior (clipping, per-dim hi spread, sub-
      // codebook coverage) could differ from the small store. Trained
      // artifacts are built ON the fixture (the reference trains its
      // INT8 quantile on the served collection, settings.py:48-51).
      import graft.operators.{Quantization, Search}
      val his = Quantization.sqTrainRanges(points).orderBy("dim")
        .select("hi").collect().map(_.getDouble(0)).toSeq
      // PQ code budget is a knob BY DESIGN: the graded fixture-scale
      // config (m=8, ksub=16 — 32-bit codes) collapsed to 0.225
      // recall@10 at 2M structureless rows (ADC resolution is constant
      // while candidate density grew 1000×); the standard literature
      // config (m=16, ksub=256 — 128-bit, Jégou '11) is the scale
      // remedy, measured via GRAFT_PQ_M / GRAFT_PQ_KSUB.
      val pqM = sys.env.getOrElse("GRAFT_PQ_M", "8").toInt
      val pqKsub = sys.env.getOrElse("GRAFT_PQ_KSUB", "16").toInt
      val pqOver = sys.env.getOrElse("GRAFT_PQ_OVERSAMPLE", "32").toDouble
      val (pqCb, pqSecs) = timed(Quantization.pqCodebookOf(
        Quantization.pqTrain(points, dim = 64, m = pqM, ksub = pqKsub,
          maxIter = 5)))
      val k = 10
      val qids = (0 until nQueries).map(i => i * (n / nQueries))
      def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
        df.select("id").collect().map(_.getLong(0)).toSet
      val per = qids.map { qid =>
        val q = points.filter(col("id") === qid)
          .select(col("embedding").as("qemb"))
        val exact = ids(Search.knn(points, q, k, -1.0))
        def rec(a: Set[Long]): Double =
          if (exact.isEmpty) 1.0 else (a & exact).size.toDouble / exact.size
        (rec(ids(Quantization.twoPhaseSearch(points, q, k))),
          rec(ids(Quantization.sqTwoPhaseSearchTrained(points, q, his, k))),
          rec(ids(Quantization.pqAdcSearch(points, q, pqCb, k, pqOver))))
      }
      def mean(f: ((Double, Double, Double)) => Double): Double =
        math.rint(per.map(f).sum / per.length * 1000) / 1000
      println(s"""{"probe":"quantrecall","sf":"$sfDir","n":$n,""" +
        s""""queries":${qids.length},"k":$k,""" +
        s""""pq_m":$pqM,"pq_ksub":$pqKsub,"pq_oversample":$pqOver,""" +
        s""""pq_train_secs":${math.rint(pqSecs * 100) / 100},""" +
        s""""int8_quant":${mean(_._1)},"sq_trained":${mean(_._2)},""" +
        s""""pq_adc":${mean(_._3)}}""")
      spark.stop()
      return
    }
    if (mode == "pqcal") {
      // The budget calibration AT SCALE (VERDICT r13 #2 follow-through):
      // walk the 32/64/128-bit ladder exactly as pqCalibrateBudget does
      // and report every tier's sample recall next to the chosen tier —
      // the mechanism that turns the measured "32-bit collapses at 2M
      // rows" rule into served behavior. Training wall per tier is
      // reported (index-build lifecycle cost).
      import graft.operators.{Quantization, Search}
      val target = Quantization.DefaultPqRecallTarget
      val sample = Quantization.DefaultPqCalibrationSample
      def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
        df.select("id").collect().map(_.getLong(0)).toSet
      val truth = sample.map { qid =>
        val q = points.filter(col("id") === qid)
          .select(col("embedding").as("qemb"))
        qid -> ids(Search.knn(points, q, 10, -1.0))
      }
      val total = truth.map(_._2.size).sum
      var chosen = -1
      val tierRows = Quantization.PqBudgetLadder.zipWithIndex.map {
        case ((m, ksub), t) =>
          val (cb, trainSecs) = timed(Quantization.pqCodebookOf(
            Quantization.pqTrain(points, 64, m, ksub, maxIter = 5)))
          val matches = truth.map { case (qid, exact) =>
            val q = points.filter(col("id") === qid)
              .select(col("embedding").as("qemb"))
            (ids(Quantization.pqAdcSearch(points, q, cb, 10)) & exact).size
          }.sum
          val rec = matches.toDouble / total
          if (chosen < 0 && rec >= target) chosen = t
          s""""tier${t}_m":$m,"tier${t}_ksub":$ksub,""" +
            s""""tier${t}_train_secs":${math.rint(trainSecs * 100) / 100},""" +
            s""""tier${t}_recall":${math.rint(rec * 1000) / 1000}"""
      }
      if (chosen < 0) chosen = Quantization.PqBudgetLadder.size - 1
      println(s"""{"probe":"pqcal","sf":"$sfDir","n":$n,""" +
        s""""target":$target,"sample":${sample.size},""" +
        tierRows.mkString(",") + s""","chosen_tier":$chosen}""")
      spark.stop()
      return
    }
    if (mode == "massign") {
      // COARSE-QUANTIZER CEILING vs MULTI-ASSIGNMENT (VERDICT r14 #5):
      // the sf100c campaign measured that at C∝N on clustered data the
      // coarse quantizer binds recall (ceiling 0.32/0.47/0.65 at nprobe
      // 4/8/16 — natural clusters span ~70 cells), independent of any
      // code budget. Candidate mitigation: store each point in its TOP-2
      // cells (the spilled analogue of HNSW's edge redundancy; FAISS's
      // IVF multi-assignment). This probe computes the EXACT ceiling
      // curves analytically — a true top-k neighbor is recallable at
      // probe width p iff (one of) its assigned cell(s) ranks < p in the
      // query's cell order — plus the rows-scanned cost of each curve,
      // so the two variants compare at EQUAL BYTES, not equal nprobe
      // (multi-assignment doubles cell occupancy; its win must survive
      // the cost normalization or it's a wash).
      import graft.sources.CollectionStore
      import graft.operators.Search
      val san = sfDir.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"/tmp/graft_probe_cn_$san"
      val marker = java.nio.file.Paths.get(path + "_fixture_sig")
      val fresh = java.nio.file.Files.exists(marker) &&
        new String(java.nio.file.Files.readAllBytes(marker)).trim == n.toString
      if (!fresh) {
        CollectionStore.saveIndexed(points, path,
          Ann.seedCentroids(points, 16), idSidecarBuckets = Some(64))
        val (minR, maxR) = CollectionStore.cnBand(n)
        CollectionStore.optimizePartitions(
          spark, path, minRows = minR, maxRows = maxR, nBuckets = 64)
        java.nio.file.Files.write(marker, n.toString.getBytes)
      }
      val centRows = spark.read.parquet(path + "_centroids")
        .select(col("cid").cast("long"), col("ce")).orderBy("cid").collect()
      val cids = centRows.map(_.getLong(0)).toSeq
      val ces = centRows.map(_.getSeq[Double](1).toSeq).toSeq
      val nC = cids.length
      // top-2 cell assignment for every point (ONE pass; the multi-assign
      // store would persist exactly these rows, doubled)
      val asg = points.select(col("id"),
        graft.plans.VectorExpressions.topCentroids(
          col("embedding"), cids, ces, 2).as("cs"))
        .select(col("id"), col("cs").getItem(0).as("c1"),
          col("cs").getItem(1).as("c2"))
        .cache()
      val size1 = asg.groupBy("c1").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val size2 = asg.groupBy("c2").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // exact top-k truth for the query sample, one batched job
      val k = 10
      val qids = (0 until nQueries).map(i => (i * (n / nQueries)))
      val sparkI = spark
      import sparkI.implicits._
      val qdf = points.filter(col("id").isin(qids.map(Long.box): _*))
        .select(col("id").as("query_id"), col("embedding").as("qemb"))
      val topByQ = Search.knnBatch(points, qdf, k, -1.0)
        .select(col("query_id"), col("id")).as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
      val qEmbOf = points.filter(col("id").isin(qids.map(Long.box): _*))
        .select(col("id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      val allNb = topByQ.values.flatten.toSeq.distinct
      val cellsOf = asg.filter(col("id").isin(allNb.map(Long.box): _*))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      def dot(a: Seq[Double], b: Seq[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i) * b(i); i += 1 }
        s
      }
      val probeWidths = Seq(1, 2, 4, 8, 16, 32, 64).filter(_ <= nC)
      // per query: the cell ranking, then both ceilings + both costs at
      // every width — all driver arithmetic over collected index state
      val perQ = qids.flatMap { qid =>
        topByQ.get(qid).map { nbs =>
          val qe = qEmbOf(qid)
          val order = cids.indices
            .map(i => (math.rint(dot(qe, ces(i)) * 1e6) / 1e6, cids(i)))
            .sortBy { case (s, c) => (-s, c) }.map(_._2)
          val rankOf = order.zipWithIndex.toMap
          probeWidths.map { p =>
            val probed = order.take(p)
            val sCeil = nbs.count(nb => rankOf(cellsOf(nb)._1) < p)
              .toDouble / nbs.length
            val mCeil = nbs.count { nb =>
              val (c1, c2) = cellsOf(nb)
              rankOf(c1) < p || rankOf(c2) < p
            }.toDouble / nbs.length
            val sRows = probed.map(c => size1.getOrElse(c, 0L)).sum
            val mRows = probed.map(c =>
              size1.getOrElse(c, 0L) + size2.getOrElse(c, 0L)).sum
            (p, sCeil, mCeil, sRows, mRows)
          }
        }
      }
      val rows = probeWidths.map { p =>
        val at = perQ.map(_.find(_._1 == p).get)
        def m3(x: Double) = math.rint(x * 1000) / 1000
        s""""p$p":{"single_ceiling":${m3(at.map(_._2).sum / at.length)},""" +
          s""""multi_ceiling":${m3(at.map(_._3).sum / at.length)},""" +
          s""""single_rows":${at.map(_._4).sum / at.length},""" +
          s""""multi_rows":${at.map(_._5).sum / at.length}}"""
      }
      asg.unpersist()
      println(s"""{"probe":"massign","sf":"$sfDir","n":$n,"cells":$nC,""" +
        s""""queries":${qids.length},"k":$k,""" + rows.mkString(",") + "}")
      spark.stop()
      return
    }
    if (mode == "ivfpqrecall") {
      // IVF-PQ at scale (round 13 follow-through on the quantrecall
      // finding): flat pq_adc at the 32-bit budget collapses at 2M rows
      // because ADC ranks ALL N candidates; IVF-PQ ranks only the
      // nprobe probed cells' candidates (~nprobe·1250 rows on the
      // cnBand store), so per-CELL density — not N — sets the
      // code-budget trade (Jégou '11 §V, the FAISS IVFPQ layout).
      // Measured next to the same-store exact-scoring ivfSearch, which
      // is the cell-recall CEILING: the gap between the two is what ADC
      // costs, the gap from 1.0 is what nprobe costs.
      import graft.sources.CollectionStore
      import graft.operators.{Quantization, Search}
      val san = sfDir.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"/tmp/graft_probe_cn_$san"
      // reuse is keyed on a FIXTURE SIGNATURE (row count written at build
      // time), not bare existence: a regenerated fixture at the same dir
      // must rebuild the store or the probe silently grades against
      // stale centroids/codes (ADVICE r13). GRAFT_PROBE_REBUILD=1 forces.
      val marker = java.nio.file.Paths.get(path + "_fixture_sig")
      val fresh = !sys.env.contains("GRAFT_PROBE_REBUILD") &&
        java.nio.file.Files.exists(marker) &&
        new String(java.nio.file.Files.readAllBytes(marker)).trim == n.toString
      if (!fresh) {
        CollectionStore.saveIndexed(points, path,
          Ann.seedCentroids(points, 16), idSidecarBuckets = Some(64))
        val (minR, maxR) = CollectionStore.cnBand(n)
        CollectionStore.optimizePartitions(
          spark, path, minRows = minR, maxRows = maxR, nBuckets = 64)
        java.nio.file.Files.write(marker, n.toString.getBytes)
      }
      val (store, cents) = CollectionStore.loadIndexed(spark, path)
      val pqM = sys.env.getOrElse("GRAFT_PQ_M", "8").toInt
      val pqKsub = sys.env.getOrElse("GRAFT_PQ_KSUB", "16").toInt
      val pqOver = sys.env.getOrElse("GRAFT_PQ_OVERSAMPLE", "32").toDouble
      val nprobe = sys.env.getOrElse("GRAFT_IVF_NPROBE", "4").toInt
      // codebooks train on a DETERMINISTIC subsample (id mod step == 0,
      // capped at GRAFT_PQ_TRAIN_MAX rows — the FAISS practice of
      // training quantizers on a corpus sample); encode/recall below
      // still run on the FULL corpus
      val trainStep = math.max(1L,
        n / sys.env.getOrElse("GRAFT_PQ_TRAIN_MAX", "100000").toLong)
      val trainPts = points.filter(pmod(col("id"), lit(trainStep)) === 0)
      // codebooks PERSIST per (fixture, m, ksub) like the engine's own
      // side tables — an nprobe sweep over the same store must not
      // retrain identical codebooks (~20 min each at 2M rows); keyed on
      // the same fixture signature as the store itself
      def cachedCb(tag: String, train: => org.apache.spark.sql.DataFrame)
          : (Quantization.PqCodebook, Double) = {
        val p = s"/tmp/graft_probe_pqcb_${tag}_${pqM}_${pqKsub}_$san"
        val mk = java.nio.file.Paths.get(p + "_sig")
        val cbFresh = !sys.env.contains("GRAFT_PROBE_REBUILD") &&
          java.nio.file.Files.exists(mk) &&
          new String(java.nio.file.Files.readAllBytes(mk)).trim == n.toString
        val secs =
          if (cbFresh) -1.0
          else {
            val (_, s) = timed(
              train.coalesce(1).write.mode("overwrite").parquet(p))
            java.nio.file.Files.write(mk, n.toString.getBytes)
            s
          }
        (Quantization.pqCodebookOf(spark.read.parquet(p)), secs)
      }
      val (pqCb, pqSecs) = cachedCb("raw",
        Quantization.pqTrain(trainPts, dim = 64, m = pqM, ksub = pqKsub,
          maxIter = 5))
      // the residual codebook (FAISS IVFPQ default): trained on
      // x − c(cell) over the same store — the within-cell signal
      val (pqResCb, pqResSecs) = cachedCb("res",
        Quantization.pqTrainResiduals(
          store.filter(pmod(col("id"), lit(trainStep)) === 0), cents,
          dim = 64, m = pqM, ksub = pqKsub, maxIter = 5))
      val k = 10
      val qids = (0 until nQueries).map(i => i * (n / nQueries))
      def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
        df.select("id").collect().map(_.getLong(0)).toSet
      val per = qids.map { qid =>
        val q = points.filter(col("id") === qid)
          .select(col("embedding").as("qemb"))
        val exact = ids(Search.knn(points, q, k, -1.0))
        def rec(a: Set[Long]): Double =
          if (exact.isEmpty) 1.0 else (a & exact).size.toDouble / exact.size
        (rec(ids(Ann.ivfSearch(store, cents, q, nprobe, k))),
          rec(ids(Ann.ivfPqSearch(store, cents, pqCb, q, nprobe, k, pqOver))),
          rec(ids(Ann.ivfPqResidualSearch(store, cents, pqResCb, q, nprobe,
            k, pqOver))),
          // the candidate-proportional rescore budget (VERDICT r14 #3):
          // fetchK = max(k·32, candidates/16) — the row that must hold
          // residual/ceiling ≥ 0.9 as nprobe widens where the fixed-320
          // budget diluted to 0.83
          rec(ids(Ann.ivfPqResidualSearchAdaptive(store, cents, pqResCb, q,
            nprobe, k, minOversample = pqOver))))
      }
      def mean(f: ((Double, Double, Double, Double)) => Double): Double =
        math.rint(per.map(f).sum / per.length * 1000) / 1000
      println(s"""{"probe":"ivfpqrecall","sf":"$sfDir","n":$n,""" +
        s""""cells":${cents.count()},"nprobe":$nprobe,""" +
        s""""queries":${qids.length},"k":$k,""" +
        s""""pq_m":$pqM,"pq_ksub":$pqKsub,"pq_oversample":$pqOver,""" +
        s""""pq_train_secs":${math.rint(pqSecs * 100) / 100},""" +
        s""""pqres_train_secs":${math.rint(pqResSecs * 100) / 100},""" +
        s""""ivf_exact_ceiling":${mean(_._1)},"ivfpq_adc":${mean(_._2)},""" +
        s""""ivfpq_res_adc":${mean(_._3)},""" +
        s""""ivfpq_res_adaptive":${mean(_._4)}}""")
      spark.stop()
      return
    }
    if (mode == "gmerge") {
      // Graph-sidecar maintenance probe: time ONE mergeGraphIndexed batch
      // (20 upserts + 10 tombstones) against the PRUNED path (full
      // sidecar pair — reads only affected buckets) and the LEGACY path
      // (src sidecar only — materializes the whole edge table + store
      // per batch). The claim under test: pruned batch cost is flat in
      // corpus size (exponent ~0), legacy grows ~linearly. Store build
      // and graph build are one-time costs, reported but not the claim.
      import graft.sources.CollectionStore
      // bucket count sized for the pruning to have room to bite (the
      // 100 TB deployment regime: nBuckets >> batch's affected srcs).
      // Deployment holds bucket SIZE constant — nBuckets ∝ N — which is
      // what makes pruned bytes per batch flat in corpus size; override
      // to measure that regime (fixed nBuckets leaves a constant-factor
      // saving only, since each touched bucket grows with N).
      // Batch sized like a CDC micro-batch.
      val nBuckets = sys.env.getOrElse("GRAFT_GMERGE_BUCKETS", "512").toInt
      val san = sfDir.replaceAll("[^A-Za-z0-9]", "_")
      val cents = Ann.seedCentroids(points, cells)
      val (graph, buildSecs) = timed {
        Ann.graphBuild(points, cents, graphK = 12, maxDegree = 16)
          .localCheckpoint(true)
      }
      val seeds = Ann.seedCentroids(points, 32).orderBy("cid").collect()
      val ecids = seeds.map(_.getLong(0)).toSeq
      val ecents = seeds.map(_.getSeq[Double](1).toSeq).toSeq
      val maxId = points.agg(max(col("id"))).head().getLong(0)
      val adds = points.filter(col("id") < 2)
        .select((col("id") + maxId + 1000L).as("id"), col("embedding"),
          col("user_id")).localCheckpoint(true)
      val delIds = Seq(maxId - 1).filterNot(ecids.contains)
      val dels = {
        import spark.implicits._
        delIds.toDF("id")
      }
      // bytes actually READ per merge — the 100 TB cost predictor (wall
      // seconds at fixture scale are fixed per-job overhead, ~30 small
      // jobs either way); includes checkpoint/cache re-reads
      val bytesAcc = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null)
            bytesAcc.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
      }
      def mergeRun(pruned: Boolean): (Double, Long) = {
        val p = s"/tmp/graft_probe_gmerge_$san/" +
          (if (pruned) "p" else "l") + "/store"
        val dir = new java.io.File(p).getParentFile
        if (dir.exists) {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
          }
          rm(dir)
        }
        CollectionStore.saveBucketed(points
          .select(col("id"), col("embedding"), col("user_id")), p, nBuckets)
        if (pruned) CollectionStore.saveGraphSidecar(graph, p, nBuckets)
        else Ann.saveGraphBucketed(graph, p + "_graph", nBuckets)
        spark.sparkContext.addSparkListener(listener)
        bytesAcc.set(0L)
        val secs = timed {
          CollectionStore.mergeGraphIndexed(spark, p, adds, Some(dels),
            ecids, ecents, nBuckets, graphK = 12, maxDegree = 16,
            beam = 24, hops = 8)
        }._2
        Thread.sleep(2000) // listener events drain async
        spark.sparkContext.removeSparkListener(listener)
        (secs, bytesAcc.get())
      }
      // GRAFT_GMERGE_SKIP_LEGACY=1 runs only the pruned leg (the sf100
      // claim under test is pruned-bytes-flat; the legacy path's linear
      // bytes are already a two-point measured fact and its sf100 leg
      // would add a ~47 GB full-table read plus a second 51k-dir store
      // write for no new information)
      val (legacySecs, legacyBytes) =
        if (sys.env.contains("GRAFT_GMERGE_SKIP_LEGACY")) (-1.0, -1L)
        else mergeRun(pruned = false)
      val (prunedSecs, prunedBytes) = mergeRun(pruned = true)
      println(s"""{"probe":"gmerge","sf":"$sfDir","n":$n,"cells":$cells,""" +
        s""""n_buckets":$nBuckets,"build_secs":${math.rint(buildSecs * 100) / 100},""" +
        s""""batch_adds":2,"batch_dels":${delIds.size},""" +
        s""""legacy_merge_secs":${math.rint(legacySecs * 100) / 100},""" +
        s""""legacy_merge_mb":${math.rint(legacyBytes / 1e5) / 10},""" +
        s""""pruned_merge_secs":${math.rint(prunedSecs * 100) / 100},""" +
        s""""pruned_merge_mb":${math.rint(prunedBytes / 1e5) / 10}}""")
      spark.stop()
      return
    }
    if (mode == "bpe1k") {
      // REALISTIC-VOCAB batched BPE (the r10/r11 scale question made a
      // measurement): train to a 1024-merge vocabulary on the
      // rich-vocabulary fixture (gen_scale_fixture.py sfbpe — the base
      // fixture's ~120 words exhaust near 91 merges) and report the
      // driver rounds actually used. The per-round cost is bounded by
      // the DISTINCT-WORD table, not the corpus (vocab() aggregates
      // once), so rounds — the genuinely sequential dimension — are the
      // 100 TB cost driver that batching divides by ~merges/round.
      // Sequential cost is extrapolated from a measured 32-round prefix
      // (labelled _est; 1024 sequential rounds would be the whole probe
      // budget), batched cost is measured to the full target.
      import graft.operators.Bpe
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val target = if (nQueries > 100) nQueries else 1024
      // r12 deep-vocab knobs: at 8k+ targets the ranked tail thins and
      // the accept rate falls — the probe reports the per-round accept
      // curve so the regime is measured, not assumed (VERDICT r11 #5)
      val maxRounds = sys.env.getOrElse("GRAFT_BPE_MAXROUNDS", "400").toInt
      val batchW = sys.env.getOrElse("GRAFT_BPE_BATCH", "32").toInt
      val ((mergesB, vocabB), tB) =
        timed(Bpe.learnBatched(docs, nRounds = maxRounds, batch = batchW,
          maxMerges = target))
      val total = mergesB.size
      val sorted = mergesB.sortBy(m => (m.round, m.rank))
      val roundsToTarget =
        if (total >= target) sorted.take(target).map(_.round).max else -1L
      val usedRounds = if (sorted.isEmpty) 0L else sorted.map(_.round).max
      val seqProbe = 32
      val (_, tSeq) = timed(Bpe.learnBatched(docs, nRounds = seqProbe, batch = 1))
      val seqPerRound = tSeq / seqProbe
      val (nTok, tApply) = timed(
        Bpe.tokenize(docs, vocabB)
          .agg(sum(col("n_bpe_tokens"))).head().getLong(0))
      // accept-rate curve: merges accepted per driver round, in round
      // order — the honest shape of the deep-vocab regime
      val acceptCurve = sorted.groupBy(_.round).toSeq.sortBy(_._1)
        .map(_._2.size).mkString("[", ",", "]")
      println(s"""{"probe":"bpe1k","sf":"$sfDir","target_merges":$target,""" +
        s""""batch":$batchW,"max_rounds":$maxRounds,""" +
        s""""accept_per_round":$acceptCurve,""" +
        s""""merges_learned":$total,"rounds_used":$usedRounds,""" +
        s""""rounds_to_target":$roundsToTarget,"b32_secs":${math.rint(tB * 100) / 100},""" +
        s""""seq_secs_per_round":${math.rint(seqPerRound * 1000) / 1000},""" +
        s""""seq_secs_est_${target}":${math.rint(seqPerRound * target * 10) / 10},""" +
        s""""apply_tokens":$nTok,"apply_secs":${math.rint(tApply * 100) / 100}}""")
      spark.stop()
      return
    }
    if (mode == "bpe") {
      // BPE-at-vocab-scale probe (VERDICT r9 #3 follow-through): the
      // sequential learner pays one driver round per merge, so a 32k
      // vocab is 32k Spark jobs; learnBatched accepts up to B disjoint
      // merges per round. This measures BOTH configurations for the SAME
      // round count (arg 2): merges gained and wall seconds — the
      // per-round cost is what scales with corpus size, the merges-per-
      // round ratio is what the batching buys (≈B× fewer driver rounds
      // for a given vocab).
      import graft.operators.Bpe
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val rounds = nQueries
      val (r1, t1) = timed(Bpe.learnBatched(docs, nRounds = rounds, batch = 1))
      val (rB, tB) = timed(Bpe.learnBatched(docs, nRounds = rounds, batch = 32))
      val m1 = r1._1.size
      val mB = rB._1.size
      // rounds actually USED (training stops early when the vocabulary's
      // mergeable pairs exhaust — the fixture corpus tops out near ~90
      // merges), so merges/round is measured against real driver trips
      val used1 = if (r1._1.isEmpty) 0 else r1._1.map(_.round).max
      val usedB = if (rB._1.isEmpty) 0 else rB._1.map(_.round).max
      val perRound = mB.toDouble / math.max(usedB, 1)
      println(s"""{"probe":"bpe","sf":"$sfDir","rounds_requested":$rounds,""" +
        s""""seq_merges":$m1,"seq_rounds":$used1,"seq_secs":${math.rint(t1 * 100) / 100},""" +
        s""""b32_merges":$mB,"b32_rounds":$usedB,"b32_secs":${math.rint(tB * 100) / 100},""" +
        s""""merges_per_round_b32":${math.rint(perRound * 100) / 100},""" +
        s""""rounds_for_1k_vocab_seq":1000,""" +
        s""""rounds_for_1k_vocab_b32":${math.ceil(1000.0 / math.max(perRound, 1e-9)).toInt}}""")
      spark.stop()
      return
    }
    if (mode == "pqpca") {
      // PCA-before-PQ, graded where it can matter: recall@10 of the PQ
      // quantizer under three layouts — identity, straight PCA order,
      // eigval-balanced permutation — at BOTH oversample=1 (pure ADC
      // ranking: the codebook-quality signal) and the serving config
      // (oversample=32 + exact rescore, which masks codebook differences
      // behind the rescore). Run on sf1 (near-isotropic) AND sf1c
      // (clustered, anisotropic) — the spectrum head is printed so the
      // fixture's anisotropy is in the artifact next to the recalls.
      import graft.operators.{Pca, Quantization, Search}
      val pcaM = Pca.train(points, 64)
      val head = pcaM.eigvals.take(8).map(v => math.rint(v * 1e4) / 1e4)
      val variants: Seq[(String, org.apache.spark.sql.DataFrame, Boolean)] = Seq(
        ("pq", points, false),
        ("pq_pca", Pca.rotate(points, pcaM).cache(), true),
        ("pq_pca_bal", Pca.rotateBalanced(points, pcaM, 8).cache(), true),
        ("pq_pca_balp",
          Pca.rotateBalanced(points, pcaM, 8, byProduct = true).cache(), true))
      val qids = (0 until nQueries).map(i => i * (n / nQueries))
      val results = variants.map { case (tag, frame, isBal) =>
        val cb = Quantization.pqCodebookOf(
          Quantization.pqTrain(frame, dim = 64, m = 8, ksub = 16, maxIter = 5))
        val recalls = qids.map { qid =>
          val q = points.filter(col("id") === qid)
            .select(col("embedding").as("qemb"))
          val qv = frame.filter(col("id") === qid)
            .select(col("embedding").as("qemb"))
          val exact = Search.knn(points, q, 10, -1.0)
            .select("id").collect().map(_.getLong(0)).toSet
          def r(os: Double) = {
            val got = Quantization.pqAdcSearch(frame, qv, cb, 10, oversample = os)
              .select("id").collect().map(_.getLong(0)).toSet
            if (exact.isEmpty) 1.0 else (got & exact).size.toDouble / exact.size
          }
          (r(1.0), r(32.0))
        }
        val adc1 = recalls.map(_._1).sum / recalls.size
        val serve = recalls.map(_._2).sum / recalls.size
        s""""${tag}_adc1":${math.rint(adc1 * 1000) / 1000},""" +
          s""""${tag}_serve":${math.rint(serve * 1000) / 1000}"""
      }
      println(s"""{"probe":"pqpca","sf":"$sfDir","n":$n,"nq":$nQueries,""" +
        s""""eigval_head":[${head.mkString(",")}],""" +
        results.mkString(",") + "}")
      spark.stop()
      return
    }
    if (mode == "kmpp") {
      // index-training comparison at scale: MLlib KMeans (single fit,
      // k-means||-init internally, RNG-seeded) vs the engine's
      // deterministic kmeansParallelCentroids (hash-determinized
      // sampling + decimal-exact Lloyd), same C — wall time, cell
      // balance, and recall@10 at the same nprobe on the SAME queries
      import graft.operators.Search
      val qids = (0 until nQueries).map(i => i * (n / nQueries))
      def grade(tag: String, train: () => org.apache.spark.sql.DataFrame)
          : String = {
        val (cents, secs) = timed(train().localCheckpoint())
        val assigned = Ann.ivfAssign(points, cents).cache()
        val sizes = assigned.groupBy("cid").count()
          .select(col("count")).collect().map(_.getLong(0))
        val maxRatio = sizes.max.toDouble * sizes.length / sizes.sum
        val recalls = qids.map { qid =>
          val q = points.filter(col("id") === qid)
            .select(col("embedding").as("qemb"))
          val exact = Search.knn(points, q, 10, -1.0)
            .select("id").collect().map(_.getLong(0)).toSet
          val got = Ann.ivfSearch(assigned, cents, q, nprobe = 4, k = 10)
            .select("id").collect().map(_.getLong(0)).toSet
          if (exact.isEmpty) 1.0 else (got & exact).size.toDouble / exact.size
        }
        val rec = recalls.sum / recalls.size
        assigned.unpersist()
        s""""${tag}_secs":${math.rint(secs * 100) / 100},""" +
          s""""${tag}_maxcell_ratio":${math.rint(maxRatio * 100) / 100},""" +
          s""""${tag}_recall":${math.rint(rec * 1000) / 1000}"""
      }
      // GRAFT_KMPP_SKIP_MLLIB=1 drops the MLlib comparison leg (at sf100
      // the RNG-seeded MLlib fit costs multiples of the engine's own
      // trainer; the sf1/sf10 table already grades the comparison)
      val legs =
        (if (sys.env.contains("GRAFT_KMPP_SKIP_MLLIB")) Seq.empty
         else Seq("mllib" -> (() => Ann.kmeansCentroids(
           points, cells, maxIter = 5)))) ++
        Seq("kmpp" -> (() => Ann.kmeansParallelCentroids(
          points, cells, rounds = 3, maxIter = 5)))
      val out = legs.map { case (tag, train) => grade(tag, train) }
      println(s"""{"probe":"kmpp","sf":"$sfDir","n":$n,"c":$cells,""" +
        out.mkString(",") + "}")
      spark.stop()
      return
    }
    if (mode == "knn") {
      val cents = Ann.seedCentroids(points, cells)
      val rows2 = cents.select(col("cid"), col("ce")).orderBy("cid").collect()
      val cids = rows2.map(_.getLong(0)).toSeq
      val ces = rows2.map(_.getSeq[Double](1).toSeq).toSeq
      // ASSIGNMENT-only comparison (N·C vs ~N·2√C dots). The aggregate
      // over cid forces the argmax column — a bare count() would let
      // Catalyst prune the assignment away and time the scan
      def assignSecs(hier: Boolean): Double = {
        def once(): Double = timed {
          val df = if (hier) Ann.ivfAssignHierarchical(points, cids, ces)
            else Ann.ivfAssign(points, cids, ces)
          df.agg(sum(col("cid"))).head()
        }._2
        once() // warmup
        once()
      }
      val aExact = assignSecs(hier = false)
      val aHier = assignSecs(hier = true)
      def run(hier: Boolean): (Set[(Long, Long)], Double) = {
        val df = Ann.knnJoin(points, cents, k = 12, nprobe = 2,
          hierarchical = hier)
        val (rows, secs) = timed(
          df.select(col("qid"), col("id")).collect())
        (rows.map(r => (r.getLong(0), r.getLong(1))).toSet, secs)
      }
      run(hier = false) // warmup (codegen + centroid collect)
      val (exact, exactSecs) = run(hier = false)
      val (hier, hierSecs) = run(hier = true)
      val overlap =
        if (exact.isEmpty) 1.0
        else (exact intersect hier).size.toDouble / exact.size
      println(s"""{"probe":"knn_join","sf":"$sfDir","n":$n,"cells":$cells,""" +
        s""""assign_exact_secs":${math.rint(aExact * 100) / 100},""" +
        s""""assign_hier_secs":${math.rint(aHier * 100) / 100},""" +
        s""""exact_secs":${math.rint(exactSecs * 100) / 100},""" +
        s""""hier_secs":${math.rint(hierSecs * 100) / 100},""" +
        s""""neighbor_overlap":${math.rint(overlap * 1000) / 1000}}""")
      spark.stop()
      return
    }
    val cents = Ann.seedCentroids(points, cells)
    val (graph, buildSecs) = timed {
      Ann.graphBuild(points, cents, graphK = 12, maxDegree = 16)
        .localCheckpoint()
    }
    val seeds = Ann.seedCentroids(points, 32).orderBy("cid").collect()
    val ecids = seeds.map(_.getLong(0)).toSeq
    val ecents = seeds.map(_.getSeq[Double](1).toSeq).toSeq
    def search(q: org.apache.spark.sql.DataFrame): Long =
      Ann.graphBeamSearch(points, graph, q, k = 10, beam = 24, hops = 8,
        entryCids = ecids, entryCents = ecents).count()
    val soloQ = points.filter(col("id") === 0)
      .select(col("id").as("qid"), col("embedding").as("qemb"))
    search(soloQ) // warmup (codegen)
    val (_, soloSecs) = timed(search(soloQ))
    val qids = (0 until nQueries).map(i => i * (n / nQueries))
    val batchQ = points.filter(col("id").isin(qids.map(Long.box): _*))
      .select(col("id").as("qid"), col("embedding").as("qemb"))
    val (rows, batchSecs) = timed(search(batchQ))
    // serving form: bucket-pruned pointer chasing over the persisted graph
    // (always under /tmp — the fixture dir may be read-only)
    val gPath = "/tmp/graft_probe_graphstore_" +
      sfDir.replaceAll("[^A-Za-z0-9]", "_")
    Ann.saveGraphBucketed(graph, gPath, nBuckets = 64)
    val qemb = points.filter(col("id") === 0)
      .select("embedding").head().getSeq[Double](0).toSeq
    def serve(): Long =
      Ann.graphBeamServe(points, gPath, nBuckets = 64, qemb, k = 10,
        beam = 24, hops = 8, entryCids = ecids, entryCents = ecents).count()
    serve() // warmup
    val (_, serveSecs) = timed(serve())
    println(s"""{"probe":"graph_beam","sf":"$sfDir","n":$n,"cells":$cells,""" +
      s""""build_secs":${math.rint(buildSecs * 100) / 100},""" +
      s""""solo_secs":${math.rint(soloSecs * 100) / 100},""" +
      s""""serve_secs":${math.rint(serveSecs * 100) / 100},""" +
      s""""batch_queries":$nQueries,"batch_rows":$rows,""" +
      s""""batch_secs":${math.rint(batchSecs * 100) / 100},""" +
      s""""batch_ms_per_query":${math.rint(batchSecs / nQueries * 1e5) / 100}}""")
    spark.stop()
  }
}
