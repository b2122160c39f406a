package graft

import graft.operators.Events
import graft.streaming.StreamingOps

/** Streaming/batch unification: the streamed windowed aggregation must be
  * row-identical to the batch operator over the same input. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streamed hourly window equals the batch hourly window") {
    val streamed = StreamingOps.hourlyWindowStream(spark, sf001).collect()
    val batch = Events.hourlyWindow(Events.load(spark, sf001)).collect()
    assert(streamed.length == batch.length && streamed.length > 0)
    assert(streamed.sameElements(batch))
  }

  test("stream-stream join equals the batch time-range join") {
    import org.apache.spark.sql.functions._
    val streamed = StreamingOps.clickErrorJoinStream(spark, sf001, windowMin = 60)
      .as[(Long, Long, Long)].collect().toSet
    val e = Events.load(spark, sf001)
    val batch = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("cts"))
      .join(e.filter(col("event_type") === "error")
          .select(col("event_id").as("error_id"), col("user_id").as("u2"),
            col("ts").as("ets")),
        col("user_id") === col("u2") && col("ets") >= col("cts") &&
          col("ets") <= col("cts") + expr("interval 60 minutes"))
      .select("click_id", "error_id", "user_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed.nonEmpty, "fixture must produce at least one pair")
    assert(streamed == batch,
      s"streamed ${streamed.size} vs batch ${batch.size}")
  }

  test("stream-stream join: late arrivals beyond the watermark are dropped deterministically") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(hhmm: String) = java.sql.Timestamp.valueOf(s"2026-01-01 $hhmm:00")
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val errors = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val cdf = clicks.toDF().toDF("click_id", "user_id", "click_ts")
      .withWatermark("click_ts", "2 hours")
    val edf = errors.toDF().toDF("error_id", "e_user", "error_ts")
      .withWatermark("error_ts", "2 hours")
    // same join predicate as clickErrorJoinStream (60-minute window)
    val joined = cdf.join(edf, expr(
      """user_id = e_user AND
        |error_ts >= click_ts AND
        |error_ts <= click_ts + interval 60 minutes""".stripMargin))
      .select("click_id", "error_id", "user_id")
    val name = "graft_wm_spec"
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      // batch 1: in-window pair matches; out-of-window error (90 min after
      // the click) must NOT match even though it is on time
      clicks.addData((1L, 7L, ts("10:00")))
      errors.addData((100L, 7L, ts("10:10")), (101L, 7L, ts("11:30")))
      q.processAllAvailable()
      // batch 2: advance event time to 16:00 on both sides — the global
      // watermark moves to 14:00 (16:00 − 2 h delay)
      clicks.addData((2L, 8L, ts("16:00")))
      errors.addData((200L, 8L, ts("16:05")))
      q.processAllAvailable()
      // batch 3: a LATE error at 10:05 (behind the 14:00 watermark) would
      // have matched click 1 in-window — it must be dropped, every run
      errors.addData((300L, 7L, ts("10:05")))
      q.processAllAvailable()
      val got = spark.table(name)
        .select("click_id", "error_id").as[(Long, Long)].collect().toSet
      assert(got.contains((1L, 100L)), "in-window on-time pair must match")
      assert(got.contains((2L, 200L)))
      assert(!got.exists(_._2 == 101L),
        "error 90 min after the click is outside the 60-min join window")
      assert(!got.exists(_._2 == 300L),
        "late arrival behind the watermark must be dropped, not joined")
      assert(got.size == 2)
    } finally q.stop()
  }

  test("streaming ingest builds the same collection as batch load; rerun is exactly-once") {
    val dest = tempDir("ingest")
      .resolve("store").toString
    val n1 = StreamingOps.ingestStream(spark, sf001, dest)
    val batch = graft.operators.Collection.load(spark, sf001)
    assert(n1 == batch.count())
    val ids = spark.read.parquet(dest).select("id")
      .as[Long].collect().toSet
    assert(ids == batch.select("id").as[Long].collect().toSet)
    // same checkpoint, no new files: nothing reprocessed, store unchanged
    val n2 = StreamingOps.ingestStream(spark, sf001, dest)
    assert(n2 == n1)
  }

  test("streaming indexed ingest: store lands cell-partitioned, searchable, exactly-once") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Ann, Collection, Search}
    val dest = tempDir("ingest_idx")
      .resolve("store").toString
    val points = Collection.load(spark, sf001)
    val cents = Ann.kmeansCentroids(points, 8, 3)
    val rows = cents.select($"cid", $"ce").orderBy("cid").collect()
    val cids = rows.map(_.getLong(0)).toSeq
    val ces = rows.map(_.getSeq[Double](1).toSeq).toSeq
    val n1 = StreamingOps.ingestIndexedStream(spark, sf001, dest, cids, ces)
    assert(n1 == points.count())
    // the ingested store IS the search layout: cid partition dirs exist
    // and an IVF search over it matches the on-the-fly assignment
    val store = spark.read.parquet(dest)
    assert(Seq("cid", "sig", "pq").forall(store.columns.contains))
    val q = points.filter($"id" === 0).select($"embedding".as("qemb"))
    def top(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "score").as[(Long, Double)].collect().toSeq
    assert(top(Ann.ivfSearch(store.withColumn("cid", $"cid".cast("long")),
        cids, ces, q, nprobe = 8, k = 10)) ==
      top(Search.knn(points, q, 10, -1.0)))
    // same checkpoint, no new files: exactly-once rerun, same count
    val n2 = StreamingOps.ingestIndexedStream(spark, sf001, dest, cids, ces)
    assert(n2 == n1)
  }

  test("CDC stream: upserts + tombstones maintain the indexed store exactly-once") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{Ann, Collection}
    import graft.sources.CollectionStore
    val dir = tempDir("cdc_idx")
    val dest = dir.resolve("store").toString
    val ckpt = dir.resolve("ckpt").toString
    val points = Collection.load(spark, sf001)
    val cents = Ann.kmeansCentroids(points, 8, 3)
    val rows = cents.select($"cid", $"ce").orderBy("cid").collect()
    val cids = rows.map(_.getLong(0)).toSeq
    val ces = rows.map(_.getSeq[Double](1).toSeq).toSeq
    // seed the store with the collection (sidecar included)
    CollectionStore.saveIndexed(points, dest, cents, idSidecarBuckets = Some(8))
    def emb(i: Long): Seq[Double] = points.filter($"id" === i)
      .select($"embedding").as[Seq[Double]].head()
    // one CDC batch: upsert id 5 (new user), insert 90001, delete 7 and 8,
    // and a same-batch add+tombstone for 9 (tombstone must win)
    implicit val sc = spark.sqlContext
    val changes = MemoryStream[(Long, Seq[Double], Int, Double, Boolean)]
    changes.addData(
      (5L, emb(5), 777, 2e9, false),
      (90001L, emb(6), 778, 2e9, false),
      (7L, Seq.empty[Double], 0, 0.0, true),
      (8L, Seq.empty[Double], 0, 0.0, true),
      (9L, emb(9), 779, 2e9, false),
      (9L, Seq.empty[Double], 0, 0.0, true))
    val df = changes.toDF()
      .toDF("id", "embedding", "user_id", "ts", "_deleted")
    StreamingOps.cdcIndexedStream(spark, df, dest, cids, ces,
      nBuckets = 8, checkpoint = ckpt)
    val store = spark.read.parquet(dest)
    val byId = store.select($"id", $"user_id".cast("int"))
      .as[(Long, Int)].collect().toMap
    assert(byId(5L) == 777, "upsert must land")
    assert(byId(90001L) == 778, "insert must land")
    assert(!byId.contains(7L) && !byId.contains(8L), "tombstones must apply")
    assert(!byId.contains(9L), "same-batch tombstone must beat the add")
    assert(byId.size == points.count() - 3 + 1)
    // sidecar agrees (no resurrecting deleted ids on the next merge)
    val sidecarIds = spark.read.parquet(dest + "_ids")
      .select($"id").as[Long].collect().toSet
    assert(!sidecarIds(7L) && !sidecarIds(8L) && !sidecarIds(9L))
    assert(sidecarIds(90001L))
    // exactly-once: same checkpoint reprocesses nothing, store unchanged
    StreamingOps.cdcIndexedStream(spark, df, dest, cids, ces,
      nBuckets = 8, checkpoint = ckpt)
    val again = spark.read.parquet(dest).select($"id", $"user_id".cast("int"))
      .as[(Long, Int)].collect().toMap
    assert(again == byId)
  }

  test("streaming PCA maintenance: per-batch model ≡ batch retrain, bit for bit") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{Collection, Pca}
    val dir = tempDir("pca_stream")
    val state = dir.resolve("moments").toString
    val ckpt = dir.resolve("ckpt").toString
    val points = Collection.load(spark, sf001)
    val all = points.select($"id", $"embedding")
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val (h1, h2) = all.splitAt(all.length / 2)
    def frame(rows: Array[(Long, Seq[Double])]) =
      rows.toSeq.toDF("id", "embedding")
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[Seq[Double]]
    // batch 0: first half
    stream.addData(h1.map(_._2).toSeq)
    StreamingOps.pcaMomentsStream(spark, stream.toDF().toDF("embedding"),
      state, 64, ckpt)
    def stateArrays(st: Pca.MomentState) = (st.n, st.hi.toSeq, st.lo.toSeq)
    assert(stateArrays(StreamingOps.latestMomentState(spark, state, 64)) ==
      stateArrays(Pca.momentState(frame(h1), 64)),
      "batch-0 state diverged from the half-1 moments")
    // batch 1: second half — merged state must equal the FULL single pass
    stream.addData(h2.map(_._2).toSeq)
    StreamingOps.pcaMomentsStream(spark, stream.toDF().toDF("embedding"),
      state, 64, ckpt)
    val full = Pca.momentState(points, 64)
    assert(stateArrays(StreamingOps.latestMomentState(spark, state, 64)) ==
      stateArrays(full), "merged streamed state diverged from batch moments")
    // the persisted model is the bit-identical batch retrain
    def modelRows(df: org.apache.spark.sql.DataFrame) =
      df.select($"comp", $"eigval", $"vec", $"mu_proj")
        .as[(Int, Double, Seq[Double], Double)].collect().sortBy(_._1).toSeq
    assert(modelRows(spark.read.parquet(state + "_model")) ==
      modelRows(Pca.modelTable(spark, Pca.train(points, 64))))
    // at-least-once replay converges: re-applying the last batch id
    // recomputes the same version from the same predecessor
    StreamingOps.mergeMomentBatch(spark, state,
      frame(h2).select($"embedding"), 1L, 64)
    assert(stateArrays(StreamingOps.latestMomentState(spark, state, 64)) ==
      stateArrays(full), "replayed batch changed the state")
    assert(modelRows(spark.read.parquet(state + "_model")) ==
      modelRows(Pca.modelTable(spark, Pca.train(points, 64))),
      "replayed batch changed the model")
  }

  test("bucketed merge rewrites ONLY the buckets containing batch ids") {
    import org.apache.spark.sql.functions._
    import graft.sources.CollectionStore
    val dest = tempDir("bucketed")
      .resolve("store").toString
    val base = graft.operators.Collection.load(spark, sf001)
    CollectionStore.saveBucketed(base, dest, nBuckets = 8)
    // file inventory: path -> (size, mtime)
    def files(): Map[String, (Long, Long)] = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dest))
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString ->
          (java.nio.file.Files.size(p),
            java.nio.file.Files.getLastModifiedTime(p).toMillis))
        .toMap
      finally s.close()
    }
    val before = files()
    assert(before.nonEmpty)
    // batch touching only bucket 3 (ids ≡ 3 mod 8), newer ts wins
    val adds = base.filter($"id" % 8 === 3)
      .withColumn("ts", $"ts" + 10000.0)
      .withColumn("user_id", lit(777).cast("int"))
    CollectionStore.mergeBucketed(spark, dest, adds, nBuckets = 8)
    val after = files()
    def bucketOf(p: String): String =
      "bucket=(\\d+)".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("?")
    for (b <- 0 until 8 if b != 3) {
      val bs = b.toString
      assert(before.filter(kv => bucketOf(kv._1) == bs) ==
        after.filter(kv => bucketOf(kv._1) == bs),
        s"untouched bucket $b was rewritten")
    }
    assert(before.keySet.filter(p => bucketOf(p) == "3") !=
      after.keySet.filter(p => bucketOf(p) == "3"),
      "affected bucket 3 must have new files")
    // LWW applied, count unchanged
    val merged = CollectionStore.loadBucketed(spark, dest)
    assert(merged.count() == base.count())
    val u = merged.filter($"id" % 8 === 3)
      .select($"user_id".cast("long")).distinct().as[Long].collect().toSeq
    assert(u == Seq(777L), s"bucket-3 rows not upserted: $u")
  }

  test("curationStream: bloom carries history across micro-batches; " +
      "quality/dup/contaminated docs drop; restart is incremental") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    val tB = "ash birch cedar cypress elm fir hazel juniper larch maple " +
      "oak pine rowan spruce walnut willow acacia alder aspen beech " +
      "chestnut dogwood ebony ginkgo"
    val lowQ = "the and of to in a is it for on"
    val tE = "zeus hera poseidon demeter athena apollo artemis ares " +
      "aphrodite hephaestus hermes hestia dionysus hades persephone nike " +
      "iris helios selene eos pan nemesis tyche eros"
    val tF = "iron copper zinc tin lead gold silver platinum nickel " +
      "cobalt chromium titanium tungsten mercury aluminium magnesium " +
      "calcium sodium potassium lithium barium radium cesium rubidium"
    val evalText = "quark lepton boson photon gluon neutrino muon tauon " +
      "positron electron"
    // shares the 3 leading eval shingles, padded to quality-passing length
    val tG = "quark lepton boson photon gluon basalt granite marble " +
      "slate quartz feldspar mica gypsum talc pumice obsidian shale " +
      "limestone sandstone dolomite chalk flint"
    val evalSet = Seq((100L, evalText, "eval")).toDF("doc_id", "text", "source")
    val root = tempDir("graft_curation_stream").toString
    val dest = s"$root/curated"
    val bloomPath = s"$root/bloom"
    val docs = MemoryStream[(Long, String, String)]
    val sdf = docs.toDF().toDF("doc_id", "text", "source")
    docs.addData((1L, tA, "s1"), (2L, tB, "s1"), (3L, lowQ, "s1"))
    StreamingOps.curationStream(spark, sdf, evalSet, dest, bloomPath)
    val after1 = spark.read.parquet(dest)
      .select($"doc_id").as[Long].collect().toSet
    assert(after1 == Set(1L, 2L),
      s"batch 1: quality floor must drop doc 3, got $after1")
    // batch 2: a content-dup of doc 1 (different id), a novel doc, a
    // within-batch dup pair, and an eval-contaminated doc
    docs.addData((10L, tA, "s2"), (11L, tE, "s2"), (12L, tF, "s2"),
      (13L, tF, "s2"), (14L, tG, "s2"))
    StreamingOps.curationStream(spark, sdf, evalSet, dest, bloomPath)
    val after2 = spark.read.parquet(dest)
      .select($"doc_id", $"batch".cast("long")).as[(Long, Long)]
      .collect().toMap
    assert(after2.keySet == Set(1L, 2L, 11L, 12L),
      s"batch 2 must keep only the novel + first-occurrence docs: $after2")
    assert(after2(11L) == 1L && after2(12L) == 1L && after2(1L) == 0L,
      s"survivors must sit in their arrival batch dir: $after2")
    // the filter now holds ALL accepted content keys: replaying every
    // accepted text against it (fresh ids) yields zero novel docs
    val replay = Seq((20L, tA, "x"), (21L, tB, "x"), (22L, tE, "x"),
      (23L, tF, "x")).toDF("doc_id", "text", "source")
    val bloom = spark.read.parquet(bloomPath)
    assert(graft.operators.Dedup.bloomNovel(replay, bloom, 65536, 3).isEmpty,
      "every accepted key must be caught by the merged filter")
    // restart with nothing new: checkpointed offsets make it a no-op
    StreamingOps.curationStream(spark, sdf, evalSet, dest, bloomPath)
    assert(spark.read.parquet(dest).count() == 4)
  }

  test("graph CDC stream: inserts navigable, tombstones isolated, restart no-op") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{Ann, Collection}
    val dir = tempDir("cdc_graph")
    val storePath = dir.resolve("store").toString
    val graphPath = dir.resolve("graph").toString
    val ckpt = dir.resolve("ckpt").toString
    val points = Collection.load(spark, sf001)
      .select($"id", $"embedding", $"user_id")
    val base = points.filter($"id" < 400)
    val cents = Ann.seedCentroids(base, 16)
    val rows = cents.select($"cid", $"ce").orderBy("cid").collect()
    val cids = rows.map(_.getLong(0)).toSeq
    val ces = rows.map(_.getSeq[Double](1).toSeq).toSeq
    base.write.parquet(storePath)
    Ann.graphBuild(base, cents, graphK = 12, maxDegree = 16)
      .write.parquet(graphPath)
    // one CDC batch: insert ids 400-419 (fixture vectors), delete 100-102
    val fresh = points.filter($"id" >= 400 && $"id" < 420)
      .as[(Long, Seq[Double], Int)].collect().toSeq
    implicit val sc = spark.sqlContext
    val changes = MemoryStream[(Long, Seq[Double], Int, Boolean)]
    changes.addData(fresh.map { case (i, e, u) => (i, e, u, false) }: _*)
    changes.addData((100L, Seq.empty[Double], 0, true),
      (101L, Seq.empty[Double], 0, true), (102L, Seq.empty[Double], 0, true))
    val df = changes.toDF().toDF("id", "embedding", "user_id", "_deleted")
    StreamingOps.graphCdcStream(spark, df, storePath, graphPath,
      cids, ces, checkpoint = ckpt)
    val store = spark.read.parquet(storePath)
    val graph = spark.read.parquet(graphPath)
    // tombstones: gone from the store, no incident edge remains
    assert(store.filter($"id".isin(100L, 101L, 102L)).count() == 0)
    assert(graph.filter($"src".isin(100L, 101L, 102L) ||
      $"dst".isin(100L, 101L, 102L)).count() == 0)
    // degree caps hold after the insert merge — AND the build cap is
    // PRESERVED: the stream must re-cap at the sidecar's build value
    // (16), not graphInsert's default 12, which would silently trim
    // every src on the first batch containing adds (ADVICE r10)
    val degrees = graph.groupBy("src").agg(count(lit(1)).as("d"))
    assert(degrees.filter($"d" > 16).count() == 0)
    assert(degrees.agg(max($"d")).head().getLong(0) == 16,
      "CDC re-cap trimmed the degree-16 sidecar below its build cap")
    // inserted points are navigable: each self-found via the graded config
    val insQ = store.filter($"id" >= 400)
      .select($"id".as("qid"), $"embedding".as("qemb"))
    val hits = Ann.graphBeamSearch(store, graph, insQ, k = 10,
        beam = 24, hops = 8, entryCids = cids, entryCents = ces)
      .filter($"qid" === $"id").count()
    assert(hits >= 18, s"only $hits/20 inserted points self-found")
    // exactly-once: rerun with the same checkpoint is a no-op
    val edgesBefore = graph.orderBy("src", "dst").collect().toSeq
    StreamingOps.graphCdcStream(spark, df, storePath, graphPath,
      cids, ces, checkpoint = ckpt)
    val edgesAfter = spark.read.parquet(graphPath)
      .orderBy("src", "dst").collect().toSeq
    assert(edgesBefore == edgesAfter)
    assert(spark.read.parquet(storePath).count() == store.count())
  }

  test("bucketed graph CDC stream: pruned maintenance ≡ direct merge, restart no-op") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{Ann, Collection}
    import graft.sources.CollectionStore
    val dir = tempDir("cdc_graph_bkt")
    val path = dir.resolve("store").toString
    val ckpt = dir.resolve("ckpt").toString
    val nBuckets = 16
    val points = Collection.load(spark, sf001)
      .select($"id", $"embedding", $"user_id")
    val base = points.filter($"id" < 400)
    val cents = Ann.seedCentroids(base, 16)
    val rows = cents.select($"cid", $"ce").orderBy("cid").collect()
    val cids = rows.map(_.getLong(0)).toSeq
    val ces = rows.map(_.getSeq[Double](1).toSeq).toSeq
    CollectionStore.saveBucketed(base, path, nBuckets)
    val graph0 = Ann.graphBuild(base, cents, graphK = 12, maxDegree = 16)
      .localCheckpoint(true)
    CollectionStore.saveGraphSidecar(graph0, path, nBuckets)
    // one CDC batch: insert ids 400-407, upsert id 50 (id-450's vector),
    // tombstone 100-101 — through the streaming pruned-merge path
    val fresh = points.filter($"id" >= 400 && $"id" < 408)
      .as[(Long, Seq[Double], Int)].collect().toSeq
    val newEmb = points.filter($"id" === 450)
      .select($"embedding").as[Seq[Double]].head()
    implicit val sc = spark.sqlContext
    val changes = MemoryStream[(Long, Seq[Double], Int, Boolean)]
    changes.addData(fresh.map { case (i, e, u) => (i, e, u, false) }: _*)
    changes.addData((50L, newEmb, 7, false))
    changes.addData((100L, Seq.empty[Double], 0, true),
      (101L, Seq.empty[Double], 0, true))
    val df = changes.toDF().toDF("id", "embedding", "user_id", "_deleted")
    StreamingOps.graphCdcStreamBucketed(spark, df, path, cids, ces,
      nBuckets, checkpoint = ckpt)
    // ≡ one direct mergeGraphIndexed of the same batch on a pristine copy
    val dir2 = tempDir("cdc_graph_bkt_ref")
    val path2 = dir2.resolve("store").toString
    CollectionStore.saveBucketed(base, path2, nBuckets)
    CollectionStore.saveGraphSidecar(graph0, path2, nBuckets)
    val adds = points.filter($"id" >= 400 && $"id" < 408)
      .unionByName(Seq((50L, newEmb, 7)).toDF("id", "embedding", "user_id"))
    CollectionStore.mergeGraphIndexed(spark, path2, adds,
      Some(Seq(100L, 101L).toDF("id")), cids, ces, nBuckets,
      graphK = 12, maxDegree = 16, beam = 24, hops = 8)
    def edges(p: String) = spark.read.parquet(p + "_graph").drop("bucket")
      .select("src", "dst", "score").orderBy("src", "dst")
      .as[(Long, Long, Double)].collect().toSeq
    assert(edges(path) == edges(path2),
      "streamed pruned maintenance diverged from the direct merge")
    val store = CollectionStore.loadBucketed(spark, path)
    assert(store.filter($"id".isin(100L, 101L)).count() == 0)
    assert(store.filter($"id" === 50).select($"user_id".cast("int"))
      .as[Int].head() == 7)
    assert(store.filter($"id" >= 400 && $"id" < 408).count() == 8)
    // rev sidecar stays consistent with the forward table through CDC
    val fwd = spark.read.parquet(path + "_graph").drop("bucket")
      .select("src", "dst", "score").as[(Long, Long, Double)].collect().toSet
    val rev = spark.read.parquet(path + "_graph_rev").drop("bucket")
      .select("src", "dst", "score").as[(Long, Long, Double)].collect().toSet
    assert(fwd == rev, "reverse sidecar diverged through streamed CDC")
    // exactly-once: rerun with the same checkpoint is a no-op
    val before = edges(path)
    StreamingOps.graphCdcStreamBucketed(spark, df, path, cids, ces,
      nBuckets, checkpoint = ckpt)
    assert(edges(path) == before)
  }

  test("graph CDC stream: upserting an existing id rebuilds its incident edges") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{Ann, Collection}
    val dir = tempDir("cdc_graph_upsert")
    val storePath = dir.resolve("store").toString
    val graphPath = dir.resolve("graph").toString
    val ckpt = dir.resolve("ckpt").toString
    val points = Collection.load(spark, sf001)
      .select($"id", $"embedding", $"user_id")
    val base = points.filter($"id" < 400)
    val cents = Ann.seedCentroids(base, 16)
    val crows = cents.select($"cid", $"ce").orderBy("cid").collect()
    val cids = crows.map(_.getLong(0)).toSeq
    val ces = crows.map(_.getSeq[Double](1).toSeq).toSeq
    base.write.parquet(storePath)
    val graph0 = Ann.graphBuild(base, cents, graphK = 12, maxDegree = 16)
      .localCheckpoint(true)
    graph0.write.parquet(graphPath)
    // LWW upsert: id 50 arrives AGAIN with a different vector (fixture
    // id 450's) — its old edges were scored against the superseded
    // embedding and must be dropped before re-linking (ADVICE r9: the
    // pre-fix stream only deleted edges for tombstoned ids, so stale
    // edges survived the degree re-cap and could evict correct links)
    val newEmb = points.filter($"id" === 450)
      .select($"embedding").as[Seq[Double]].head()
    implicit val sc = spark.sqlContext
    val changes = MemoryStream[(Long, Seq[Double], Int, Boolean)]
    changes.addData((50L, newEmb, 7, false))
    val df = changes.toDF().toDF("id", "embedding", "user_id", "_deleted")
    StreamingOps.graphCdcStream(spark, df, storePath, graphPath,
      cids, ces, checkpoint = ckpt)
    val store = spark.read.parquet(storePath)
    // LWW: exactly one row for the id, carrying the NEW embedding/payload
    val r = store.filter($"id" === 50)
      .as[(Long, Seq[Double], Int)].collect()
    assert(r.length == 1 && r(0)._2 == newEmb && r(0)._3 == 7)
    // the whole graph equals a replay of the fixed semantics: delete
    // every edge incident to the upserted id, then insert it against the
    // surviving store with its new embedding (both ops deterministic)
    val g1 = Ann.graphDelete(graph0, Seq(50L).toDF("id"))
    val adds = Seq((50L, newEmb, 7)).toDF("id", "embedding", "user_id")
    val expected = Ann.graphInsert(base.filter($"id" =!= 50), g1, adds,
        graphK = 12, maxDegree = 16, beam = 24, hops = 8,
        entryCids = cids, entryCents = ces)
      .orderBy("src", "dst").collect().toSeq
    val got = spark.read.parquet(graphPath)
      .orderBy("src", "dst").collect().toSeq
    assert(got == expected,
      s"graph after upsert must equal delete+insert replay " +
        s"(got ${got.size} edges, expected ${expected.size})")
    // in particular: no edge may keep the OLD embedding's score — every
    // edge touching id 50 must be scored against the new vector
    val emb = newEmb.toArray
    val nbrEmb = store.filter(!($"id" === 50))
      .as[(Long, Seq[Double], Int)].collect()
      .map(t => t._1 -> t._2.toArray).toMap
    def round6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    spark.read.parquet(graphPath)
      .filter($"src" === 50 || $"dst" === 50).collect().foreach { e =>
        val other = if (e.getLong(0) == 50L) e.getLong(1) else e.getLong(0)
        val expectScore =
          round6(emb.zip(nbrEmb(other)).map { case (a, b) => a * b }.sum)
        assert(math.abs(e.getDouble(2) - expectScore) < 1e-9,
          s"edge ${e.getLong(0)}->${e.getLong(1)} score ${e.getDouble(2)} " +
            s"not scored against the new embedding ($expectScore)")
      }
  }

  test("streamed dedup distinct-users equals batch count(DISTINCT)") {
    import org.apache.spark.sql.functions._
    val streamed = StreamingOps.distinctUsersStream(spark, sf001).collect()
    val batch = Events.load(spark, sf001)
      .groupBy("event_type")
      .agg(countDistinct("user_id").cast("long").as("n_users"))
      .orderBy("event_type").collect()
    assert(streamed.length == batch.length && streamed.length > 0)
    assert(streamed.sameElements(batch))
  }
}
