package graft

import org.apache.spark.sql.functions._
import graft.operators.Collection
import graft.sources.CollectionStore

/** API-contract validation (reference schemas.py k/threshold bounds) and
  * bulk migration with search-back verification (migrate_from_faiss.py). */
class ApiSpec extends SparkSpec {
  import spark.implicits._

  private lazy val points = Collection.load(spark, sf001).cache()
  private def q0 = points.filter($"id" === 0).select($"embedding".as("qemb"))

  test("search validates k in [1,100] and threshold in [0,1]") {
    intercept[IllegalArgumentException](Api.search(points, q0, k = 0))
    intercept[IllegalArgumentException](Api.search(points, q0, k = 101))
    intercept[IllegalArgumentException](
      Api.search(points, q0, k = 10, scoreThreshold = Some(1.5)))
    intercept[IllegalArgumentException](
      Api.search(points, q0, k = 10, scoreThreshold = Some(-0.1)))
    assert(Api.search(points, q0, k = 10, scoreThreshold = Some(0.1)).count() > 0)
  }

  test("default threshold is the reference's 0.65") {
    val d = Api.search(points, q0).collect()
    val e = Api.search(points, q0, scoreThreshold = Some(0.65)).collect()
    assert(d.sameElements(e))
  }

  test("addVectors rejects the whole batch on any empty embedding") {
    val mixed = Seq(
      (Option.empty[Long], Seq(3.0, 4.0) ++ Seq.fill(62)(0.0), 7, 99999.0),
      (Option.empty[Long], Seq.empty[Double], 7, 99999.0) // invalid row
    ).toDF("id", "embedding", "user_id", "ts")
    val e = intercept[IllegalArgumentException](Api.addVectors(points, mixed))
    assert(e.getMessage.contains("batch rejected"))
  }

  test("addVectors normalizes, derives stable ids, upserts") {
    val adds = Seq(
      (Option.empty[Long], Seq(3.0, 4.0) ++ Seq.fill(62)(0.0), 7, 99999.0),
      (Some(0L), Seq(1.0) ++ Seq.fill(63)(0.0), 42, 1e9)   // replaces id 0
    ).toDF("id", "embedding", "user_id", "ts")
    val after = Api.addVectors(points, adds)
    assert(after.count() == points.count() + 1) // 1 new, 1 replaced
    assert(after.filter($"id" === 0).select("user_id").as[Int].head() == 42)
    // derived id is deterministic: re-adding yields the same id (no growth)
    val again = Api.addVectors(after, adds)
    assert(again.count() == after.count())
    // ingest normalized the new vector
    val newId = after.select("id").except(points.select("id"))
      .filter($"id" =!= 0).as[Long].head()
    val nrm = after.filter($"id" === newId)
      .select(graft.functions.VectorOps.l2Norm($"embedding")).as[Double].head()
    assert(math.abs(nrm - 1.0) < 1e-9)
  }

  test("migration round-trips the collection and search-back finds itself") {
    val dest = tempDir("graft_migrate")
      .resolve("store").toString
    val n = CollectionStore.migrate(spark, sf001, dest)
    assert(n == points.count())
    val back = CollectionStore.verifyMigration(spark, dest, n = 10)
      .select("self_found", "top_score").as[(Int, Double)].collect()
    assert(back.length == 10)
    assert(back.forall(_._1 == 1), "every sample must find itself")
    assert(back.forall(r => math.abs(r._2 - 1.0) < 1e-5))
  }

  test("compaction rewrites the store without deleted rows") {
    val dest = tempDir("graft_compact")
      .resolve("store").toString
    CollectionStore.save(points, dest)
    val doomed = points.filter($"user_id" === 4).count()
    val remaining = CollectionStore.compact(spark, dest, col("user_id") === 4)
    assert(remaining == points.count() - doomed)
    assert(CollectionStore.load(spark, dest).filter($"user_id" === 4).count() == 0)
  }

  test("saved store is sorted by user_id within files (row-group skipping)") {
    val dest = tempDir("graft_sorted")
      .resolve("store").toString
    CollectionStore.save(points, dest, numFiles = 2)
    // per input-file ordering check: user_id must be non-decreasing
    val ok = CollectionStore.load(spark, dest)
      .select(input_file_name().as("f"), $"user_id")
      .withColumn("prev", lag($"user_id", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("f")
          .orderBy(monotonically_increasing_id())))
      .filter($"prev".isNotNull && $"prev" > $"user_id")
      .count()
    assert(ok == 0)
  }

  test("z-ordered layout localizes BOTH dimensions; single-sort only one") {
    // synthetic 2-d grid: two independent uniform dims
    val grid = spark.range(4096).select(
      (col("id") % 64).as("a"), (col("id") / 64).cast("long").as("b"))
    def avgSpread(path: String, dim: String): Double = {
      val per = spark.read.parquet(path)
        .groupBy(input_file_name()).agg((max(dim) - min(dim)).as("s"))
        .select(avg("s")).first().getDouble(0)
      per
    }
    val zDir = tempDir("zord").toString + "/z"
    val sDir = tempDir("zord").toString + "/s"
    CollectionStore.saveZOrdered(grid, zDir, "a", "b", numFiles = 16)
    grid.repartitionByRange(16, $"a").sortWithinPartitions("a")
      .write.parquet(sDir)
    // single-sort: a localizes, b spans its full range in every file
    assert(avgSpread(sDir, "a") < 16.0)
    assert(avgSpread(sDir, "b") > 48.0)
    // z-order: BOTH dims localized well below their global range (63)
    assert(avgSpread(zDir, "a") < 32.0, s"z a-spread ${avgSpread(zDir, "a")}")
    assert(avgSpread(zDir, "b") < 32.0, s"z b-spread ${avgSpread(zDir, "b")}")
    // and the z layout loses nothing: same rows
    assert(spark.read.parquet(zDir).count() == 4096)
  }

  test("z-ordered collection store localizes BOTH confidence and time per file") {
    val raw = Collection.loadWithPayload(spark, sf001)
    val maxTs = raw.agg(max($"ts")).first().getDouble(0)
    // both dims min-max scaled to the full 16-bit width — a dim using
    // fewer bits surrenders the Morton curve's high bits to the other
    val pts = raw
      .withColumn("cbin", least(lit(65535L),
        floor($"confidence_score" * 65536.0d).cast("long")))
      .withColumn("tbin", least(lit(65535L),
        floor($"ts" / (maxTs + 1.0d) * 65536.0d).cast("long")))
    val dest = tempDir("zcoll").toString + "/store"
    CollectionStore.saveZOrdered(pts, dest, "cbin", "tbin", numFiles = 8)
    val stored = spark.read.parquet(dest)
    def avgSpread(dim: String): Double = stored
      .groupBy(input_file_name()).agg((max(dim) - min(dim)).as("s"))
      .select(avg("s")).first().getDouble(0)
    def globalRange(dim: String): Double = stored
      .agg((max(dim) - min(dim)).cast("double")).first().getDouble(0)
    // both dims localized well below their global ranges (a single-sort
    // layout localizes one and leaves the other at ~full range per file)
    assert(avgSpread("cbin") < globalRange("cbin") * 0.55,
      s"cbin spread ${avgSpread("cbin")} vs range ${globalRange("cbin")}")
    assert(avgSpread("tbin") < globalRange("tbin") * 0.55,
      s"tbin spread ${avgSpread("tbin")} vs range ${globalRange("tbin")}")
    assert(stored.count() == pts.count())
  }

  test("serveBatched: per-request results identical to solo search, across flushes") {
    val embs = points.orderBy("id").limit(24)
      .select("embedding").as[Seq[Double]].collect().toSeq
    // maxBatch=7 forces 4+ flushes over the 24-request queue
    val batched = Api.serveBatched(points, embs, k = 10,
      scoreThreshold = Some(0.1), maxBatch = 7)
    assert(batched.length == embs.length)
    embs.zip(batched).foreach { case (e, hits) =>
      val solo = Api.search(points, Seq(e).toDF("qemb"), k = 10,
        scoreThreshold = Some(0.1)).collect()
      assert(hits.length == solo.length)
      hits.zip(solo).foreach { case (h, s) =>
        assert(h.get(0) == s.get(0), "id parity")      // id
        assert(h.get(1) == s.get(1), "score parity")   // score
        assert(h.get(2) == s.get(2), "user_id parity") // user_id
      }
    }
  }

  test("batchedServer: concurrent submitters each get their own top-k") {
    intercept[IllegalArgumentException](Api.batchedServer(points, k = 0))
    val embs = points.orderBy("id").limit(16)
      .select("embedding").as[Seq[Double]].collect()
    val srv = Api.batchedServer(points, k = 5, scoreThreshold = Some(0.1),
      maxBatch = 16)
    try {
      import scala.concurrent.Await
      import scala.concurrent.duration._
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val futures = embs.map { e =>
        pool.submit(new java.util.concurrent.Callable[Array[org.apache.spark.sql.Row]] {
          def call() = Await.result(srv.submit(e), 2.minutes)
        })
      }
      val results = futures.map(_.get())
      pool.shutdown()
      embs.zip(results).foreach { case (e, hits) =>
        val solo = Api.search(points, Seq(e.toSeq).toDF("qemb"), k = 5,
          scoreThreshold = Some(0.1)).collect()
        assert(hits.map(_.get(0)).toSeq == solo.map(_.get(0)).toSeq)
        assert(hits.map(_.get(1)).toSeq == solo.map(_.get(1)).toSeq)
      }
      intercept[IllegalArgumentException](srv.submit(Seq.empty[Double]))
    } finally srv.close()
    // closed server refuses new work
    intercept[IllegalArgumentException](srv.submit(embs(0)))
  }

  test("batchedServer: a failing flush fails the futures and close() returns") {
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val e = points.orderBy("id").limit(1)
      .select("embedding").as[Seq[Double]].head()
    // a collection whose execution throws: every flush over it must FAIL
    // the submitted futures (not hang them) and leave the flusher alive
    val poisoned = points.filter(expr("raise_error('graft-test-boom') IS NULL"))
    val bad = Api.batchedServer(poisoned, k = 3, scoreThreshold = Some(0.1),
      maxBatch = 4)
    try {
      val fails = (0 until 3).map(_ => bad.submit(e))
      fails.foreach { f =>
        val err = intercept[Exception](Await.result(f, 2.minutes))
        assert(err.toString.contains("boom") || err.getCause != null)
      }
    } finally bad.close() // must return promptly, not hang on a dead flush
    // the session survives; a fresh server over good points serves fine
    val good = Api.batchedServer(points, k = 3, scoreThreshold = Some(0.1),
      maxBatch = 4)
    try assert(Await.result(good.submit(e), 2.minutes).nonEmpty)
    finally good.close()
  }

  test("batchedServer latency bound: a lone request does not wait for maxBatch") {
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val e = points.orderBy("id").limit(1)
      .select("embedding").as[Seq[Double]].head()
    val srv = Api.batchedServer(points, k = 3, scoreThreshold = Some(0.1),
      maxBatch = 100000) // batch can never fill
    try {
      Await.result(srv.submit(e), 2.minutes) // warm the plan
      val t0 = System.nanoTime()
      val hits = Await.result(srv.submit(e), 2.minutes)
      val ms = (System.nanoTime() - t0) / 1e6
      assert(hits.nonEmpty)
      // bound = one warmed batched job + slack; what it must NOT be is
      // "forever, waiting for 99,999 more requests"
      assert(ms < 5000, s"lone request took ${ms}ms — waiting for maxBatch?")
    } finally srv.close()
  }

  test("batchedServer pipelines: an in-flight flush does not block the next one") {
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val embs = points.orderBy("id").limit(8)
      .select("embedding").as[Seq[Double]].collect()
    // maxBatch=2 over a 64-request burst forces many flushes; depth 2 lets
    // the flusher hand flush N+1 to the pool while flush N's job runs.
    // localReplicaMaxRows=0 forces the Spark-job tier — replica flushes
    // are sub-ms, too short to reliably observe an overlap
    val srv = Api.batchedServer(points, k = 3, scoreThreshold = Some(0.1),
      maxBatch = 2, localReplicaMaxRows = 0)
    try {
      val futures = (0 until 64).map(i => srv.submit(embs(i % embs.length)))
      futures.foreach(f => assert(Await.result(f, 2.minutes).nonEmpty))
      import scala.jdk.CollectionConverters._
      val intervals = srv.flushLog.asScala.toVector
      assert(intervals.size >= 4, s"expected many flushes, got ${intervals.size}")
      // pipelining evidence: some flush STARTED while another was in flight
      val overlap = intervals.combinations(2).exists {
        case Vector((s1, e1), (s2, e2)) => s1 < e2 && s2 < e1
        case _ => false
      }
      assert(overlap, "no two flush intervals overlapped — flushes are serial")
    } finally srv.close()
  }

  test("batchedServer replica tier ≡ Spark-job tier, row for row") {
    val base = points.orderBy("id").limit(12)
      .select("embedding").as[Seq[Double]].collect().toSeq
    // ragged queries ride along: one SHORTER than the rows (32 of 64
    // dims) and one LONGER (128) — both kernels score min(rowLen, qLen)
    // dims, and the blocked replica kernel must fall back to its exact
    // ragged path for them, row-identical to the job tier
    val embs = base :+ base.head.take(32) :+ (base.head ++ base.head)
    // same requests through both tiers: the default server replicates the
    // small fixture locally; localReplicaMaxRows=0 forces the job path
    val viaReplica = Api.serveBatched(points, embs, k = 7,
      scoreThreshold = Some(0.1), maxBatch = 5)
    val viaJob = Api.serveBatched(points, embs, k = 7,
      scoreThreshold = Some(0.1), maxBatch = 5, localReplicaMaxRows = 0)
    viaReplica.zip(viaJob).foreach { case (r, j) =>
      assert(r.length == j.length)
      r.zip(j).foreach { case (a, b) =>
        assert(a.get(0) == b.get(0), "id parity")
        assert(a.get(1) == b.get(1), "score parity")
        assert(a.get(2) == b.get(2), "user_id parity")
      }
    }
  }

  test("batchedServer INT8 replica ≡ float replica, row for row (and the " +
      "byte slab is 8x smaller)") {
    // the quantized serving replica (VERDICT r13 #3, the reference's
    // always-RAM INT8 config): phase 1 scans int8 codes, phase 2 rescores
    // the k·3 survivors from the float slab — output must equal the
    // float replica tier exactly on the fixture (the reference's own
    // claim for its INT8+rescore path). Driven BOTH through the flush
    // path (batched) and the direct tier (solo submits).
    val base = points.orderBy("id").limit(12)
      .select("embedding").as[Seq[Double]].collect().toSeq
    val embs = base :+ base.head.take(32) :+ (base.head ++ base.head)
    val viaFloat = Api.serveBatched(points, embs, k = 7,
      scoreThreshold = Some(0.1), maxBatch = 5)
    val viaInt8 = Api.serveBatched(points, embs, k = 7,
      scoreThreshold = Some(0.1), maxBatch = 5, int8Replica = true)
    viaFloat.zip(viaInt8).foreach { case (f, q) =>
      assert(f.length == q.length)
      f.zip(q).foreach { case (a, b) =>
        assert(a.get(0) == b.get(0), "id parity (int8 vs float replica)")
        assert(a.get(1) == b.get(1), "score parity (int8 vs float replica)")
        assert(a.get(2) == b.get(2), "user_id parity (int8 vs float replica)")
      }
    }
    // solo direct-tier submits agree too, and the slab accounting holds
    val srv = Api.batchedServer(points, k = 7, scoreThreshold = Some(0.1),
      int8Replica = true)
    try {
      import scala.concurrent.Await
      import scala.concurrent.duration._
      val direct = embs.map(e => Await.result(srv.submit(e), 2.minutes))
      viaFloat.zip(direct).foreach { case (f, d) =>
        assert(f.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
          d.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
      }
      val (floatBytes, int8Bytes) = srv.replicaSlabBytes
      assert(int8Bytes > 0 && floatBytes >= 8 * int8Bytes,
        s"int8 slab must be ≥8x smaller: float=$floatBytes int8=$int8Bytes")
    } finally srv.close()
  }

  test("submitFiltered ≡ Search.knn(preFilter) row for row on the replica, " +
      "int8, job, and sharded tiers; verify/detect run end-to-end against " +
      "a served tier (VERDICT r16 #1)") {
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val k = 7
    val th = 0.1
    val base = points.orderBy("id").limit(3)
      .select("embedding").as[Seq[Double]].collect().toSeq
    val filters = Seq(Seq(3), Seq(1, 4, 7), Seq(0, 2, 5, 8, 9))
    def oracle(emb: Seq[Double], us: Seq[Int]): Seq[(Long, Double, Int)] = {
      val qdf = Seq(emb).toDF("qemb")
      graft.operators.Search.knn(points, qdf, k, th,
        preFilter = Some($"user_id".isin(us.map(Int.box): _*)))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    }
    def drive(srv: AutoCloseable, name: String,
        call: (Seq[Double], Seq[Int]) => scala.concurrent.Future[Array[org.apache.spark.sql.Row]]): Unit =
      try {
        base.foreach { emb =>
          filters.foreach { us =>
            val got = Await.result(call(emb, us), 2.minutes)
              .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
            assert(got == oracle(emb, us),
              s"$name filtered must equal Search.knn(preFilter) for users $us")
          }
        }
      } finally srv.close()
    val replica = Api.batchedServer(points, k, Some(th))
    drive(replica, "replica", replica.submitFiltered)
    val int8 = Api.batchedServer(points, k, Some(th), int8Replica = true)
    drive(int8, "int8-replica", int8.submitFiltered)
    val job = Api.batchedServer(points, k, Some(th), localReplicaMaxRows = 0)
    drive(job, "job-tier", job.submitFiltered)
    val sharded = Api.shardedServer(points, k, Some(th), shardMaxRows = 300)
    assert(sharded.nShards > 1, "fixture must actually shard")
    drive(sharded, "sharded", sharded.submitFiltered)
    // empty filter is an API error (unfiltered search is submit())
    val guard = Api.batchedServer(points, k, Some(th))
    try intercept[IllegalArgumentException](
      Await.result(guard.submitFiltered(base.head, Seq.empty), 2.minutes))
    finally guard.close()
    // ---- the reference's verify flow (api_spec.md:739-762) against a
    // SERVED tier: filtered top-1 by user_id = the user's best score;
    // verified = best ≥ threshold — must agree with the batch operator
    val verifyTh = 0.65
    val vSrv = Api.batchedServer(points, k = 1, Some(0.0))
    try {
      val someUser = points.orderBy("id").limit(1)
        .select("user_id").as[Int].head()
      base.foreach { emb =>
        val top = Await.result(
          vSrv.submitFiltered(emb, Seq(someUser)), 2.minutes)
        val qdf = Seq(emb).toDF("qemb")
        val want = graft.operators.Search.verify(
          points, qdf, lit(someUser), verifyTh).collect().head
        assert(top.nonEmpty, "user has rows, so the filtered top-1 exists")
        assert(top.head.getDouble(1) == want.getAs[Double]("best_score"),
          "served verify best_score must equal the batch verify operator")
        assert((top.head.getDouble(1) >= verifyTh) ==
          (want.getAs[Int]("verified") == 1))
      }
    } finally vSrv.close()
    // ---- the detect flow (api_spec.md:764-801) against a served tier:
    // top-N ≥ threshold grouped per user, users ranked by best hit —
    // equal to the batch detect operator whenever the served top-N
    // captures every row over the threshold (asserted, not assumed)
    val dTh = 0.65
    val dK = 100
    val dSrv = Api.batchedServer(points, dK, Some(dTh))
    try {
      base.foreach { emb =>
        val qdf = Seq(emb).toDF("qemb")
        // count of rows over the threshold via the unfiltered knn at the
        // same k — knn caps at dK, so "result shorter than dK" proves the
        // served top-dK covered every match
        val matches = graft.operators.Search.knn(points, qdf, dK, dTh).count()
        assert(matches < dK, s"fixture: served top-$dK must cover all matches")
        val served = Await.result(dSrv.submit(emb), 2.minutes)
        val got = served.groupBy(_.getInt(2)).map { case (u, rows) =>
          (u, rows.map(_.getDouble(1)).max, rows.length.toLong)
        }.toSeq.sortBy { case (u, best, _) => (-best, u) }.take(5)
        val want = graft.operators.Search.detect(points, qdf, 5, dTh)
          .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).toSeq
        assert(got == want,
          "served detect (group top-N per user) must equal batch detect")
      }
    } finally dSrv.close()
  }

  test("decision gauges survive a refresh swap on the metrics surface " +
      "(VERDICT r16 #7)") {
    val srv = Api.batchedServer(points, k = 5, Some(0.1),
      recallTarget = Some(0.9))
    try {
      srv.servingDecision // force the replica decision (lazy by design)
      val before = srv.metricsSnapshot
      assert(before.contains("serving_family_int8") &&
        before.contains("serving_oversample"))
      srv.refresh(points.limit(500))
      val after = srv.metricsSnapshot
      assert(after.contains("serving_family_int8") &&
        after.contains("serving_oversample") &&
        after.contains("serving_recall_target"),
        s"decision gauges must survive the generation swap: $after")
      // and the HTTP exposition still renders them
      val http = srv.serveMetricsHttp()
      try {
        val url = new java.net.URI(
          s"http://127.0.0.1:${http.boundPort}/metrics").toURL
        val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setConnectTimeout(5000); conn.setReadTimeout(5000)
        val body = try scala.io.Source.fromInputStream(
          conn.getInputStream).mkString finally conn.disconnect()
        assert(body.contains("graft_serving_family_int8"), body)
      } finally http.close()
    } finally srv.close()
  }

  // Fixture with a STRUCTURAL int8 failure mode (VERDICT r15 #2/#3):
  // 150 rows share one int8 code block (component deltas below the
  // quantization bin width) while their float scores strictly increase
  // with id — int8 phase 1 sees identical dots, tie-keeps the LOWEST
  // ids, and misses the true (highest-id) top-k at EVERY ladder rung
  // (150 > k·8). 350 normal rows keep the easy regime the int8 family
  // wins. So a low stated target calibrates to int8; a high one must
  // degrade to the exact float family.
  private def int8TieFixture = {
    val d = 8
    val rnd = new scala.util.Random(61)
    val normal = (0 until 350).map { j =>
      val v = Array.fill(d)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      (j.toLong, v.map(_ / n).toSeq, j % 10)
    }
    val group = (0 until 150).map { i =>
      val v = Array.fill(d)(0.3)
      v(0) = 0.3 + i * 2e-5 // same int8 code (0.3·127=38.1 .. 38.48)
      ((350 + i).toLong, v.toSeq, i % 10)
    }
    (normal, group, (normal ++ group).toDF("id", "embedding", "user_id"))
  }

  test("calibrated serving decision: the stated recall target picks the " +
      "served family/oversample, the decision rides the metrics, and " +
      "the served plan actually changes") {
    val (normal, group, fixture) = int8TieFixture
    def exactTopK(q: Seq[Double], k: Int): Seq[(Long, Double)] =
      (normal ++ group).map { case (id, e, _) =>
        val s = e.zip(q).map { case (a, b) => a * b }.sum
        (id, graft.plans.Num.round6(s))
      }.sortBy { case (id, s) => (-s, id) }.take(k)
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val qGroup = group(145)._2 // true top-k = the highest-id group rows
    // LOW target: int8 clears it — family int8, a ladder oversample,
    // and the plan is REAL: the structural group query now misses the
    // highest-id rows (the documented approximation, not a label)
    val srvLow = Api.batchedServer(fixture, k = 10,
      scoreThreshold = Some(0.0), recallTarget = Some(0.4))
    try {
      val dec = srvLow.servingDecision
      assert(dec.family == "int8", s"low target must calibrate to int8: $dec")
      assert(ServingCalibration.OversampleLadder.contains(dec.oversample))
      assert(dec.sampleRecall >= 0.4 && dec.targetRecall == 0.4)
      val snap = srvLow.metricsSnapshot
      assert(snap("serving_family_int8") == 1.0 &&
        snap("serving_oversample") == dec.oversample.toDouble &&
        snap("serving_recall_target") == 0.4 &&
        snap("serving_sample_recall") == dec.sampleRecall,
        s"decision columns must ride the metrics surface: $snap")
      val got = Await.result(srvLow.submit(qGroup), 2.minutes)
      val exact = exactTopK(qGroup, 10)
      assert(got.map(_.getLong(0)).toSeq != exact.map(_._1),
        "int8 family must actually serve the quantized plan " +
          "(the structural tie group exposes it)")
    } finally srvLow.close()
    // HIGH target: no rung's LCB clears it (the structural misses cap
    // the sample mean) — family degrades to exact and answers match
    // brute force row for row
    val srvHigh = Api.batchedServer(fixture, k = 10,
      scoreThreshold = Some(0.0), recallTarget = Some(0.95))
    try {
      val dec = srvHigh.servingDecision
      assert(dec.family == "exact", s"high target must degrade to exact: $dec")
      assert(dec.sampleRecall == 1.0 && dec.oversample == 0)
      assert(srvHigh.metricsSnapshot("serving_family_int8") == 0.0)
      val got = Await.result(srvHigh.submit(qGroup), 2.minutes)
      assert(got.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
        exactTopK(qGroup, 10),
        "exact family must serve brute-force answers")
    } finally srvHigh.close()
    // sharded router: the same target threads through to every shard
    val shSrv = Api.shardedServer(fixture, k = 10,
      scoreThreshold = Some(0.0), shardMaxRows = 200,
      recallTarget = Some(0.95))
    try {
      assert(shSrv.nShards > 1)
      assert(shSrv.shardDecisions.forall(_.targetRecall == 0.95))
    } finally shSrv.close()
  }

  test("submitFiltered on an int8 generation ≡ Search.knn(preFilter) row " +
      "for row: the matched rows are scored exactly, not int8-ranked") {
    // on the tie fixture int8 phase 1 at oversample 1 keeps the LOWEST
    // group ids, so any int8 ranking of the matched rows misses the true
    // (highest-id) filtered top-k
    val (_, group, fixture) = int8TieFixture
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val qGroup = group(145)._2
    val srv = Api.batchedServer(fixture, k = 10,
      scoreThreshold = Some(0.0), recallTarget = Some(0.4))
    try {
      val dec = srv.servingDecision
      assert(dec.family == "int8" && dec.oversample == 1,
        s"fixture must serve int8 at oversample 1: $dec")
      def oracle(pred: org.apache.spark.sql.Column): Seq[(Long, Double, Int)] =
        graft.operators.Search.knn(fixture, Seq(qGroup).toDF("qemb"), 10, 0.0,
          preFilter = Some(pred))
          .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
      def served(us: Seq[Int]): Seq[(Long, Double, Int)] =
        Await.result(srv.submitFiltered(qGroup, us), 2.minutes)
          .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
      assert(served(Seq(5)) == oracle($"user_id" === 5),
        "user_id = 5 must equal the exact filtered search")
      val all = 0 until 10
      assert(served(all) == oracle($"user_id".isin(all.map(Int.box): _*)),
        "user_id IN (0..9) must equal the exact filtered search")
    } finally srv.close()
  }

  test("serving metrics: request/flush counters, cumulative latency " +
      "histogram, and the Prometheus text surface") {
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val embs = points.orderBy("id").limit(6)
      .select("embedding").as[Seq[Double]].collect().toSeq
    // direct tier (replica resident, solo submits): requests counted,
    // nothing flushes
    val direct = Api.batchedServer(points, k = 5, scoreThreshold = Some(0.1))
    try {
      embs.foreach(e => Await.result(direct.submit(e), 2.minutes))
      val s = direct.metricsSnapshot
      assert(s("requests_total") == 6.0 && s("requests_failed_total") == 0.0)
      // the FIRST request rides a flush (the replica decision is lazy —
      // made inside the first flush); every later solo submit is direct
      assert(s("flushes_total") <= 1.0,
        "after the replica decision, direct-tier requests never flush")
      assert(s("request_latency_ms_count") == 6.0)
      assert(s("request_latency_ms_bucket_le_inf") == 6.0)
      val bks = direct.metrics.BucketsMs
        .map(b => s(s"request_latency_ms_bucket_le_$b"))
      assert(bks.zip(bks.tail).forall { case (a, b) => a <= b },
        "cumulative histogram must be monotone")
      assert(s("request_latency_ms_sum") > 0.0)
    } finally direct.close()
    // job tier (replica off): every request rides a flush; batch-row
    // accounting reconciles with the request count
    val job = Api.batchedServer(points, k = 5, scoreThreshold = Some(0.1),
      localReplicaMaxRows = 0)
    try {
      embs.foreach(e => Await.result(job.submit(e), 2.minutes))
      val s = job.metricsSnapshot
      assert(s("requests_total") == 6.0)
      assert(s("flushes_total") >= 1.0)
      assert(s("flush_batch_rows_total") == 6.0,
        "flushed rows must reconcile with completed requests")
      val text = job.metrics.prometheusText(queueDepth = 0)
      assert(text.contains("# TYPE graft_serving_requests_total counter"))
      assert(text.contains("graft_serving_requests_total 6"))
      assert(text.contains(
        "# TYPE graft_serving_request_latency_ms histogram"))
      assert(text.contains("le=\"+Inf\"} 6"))
    } finally job.close()
    // /metrics over HTTP (VERDICT r15 #5): scrape the mounted endpoint
    // and PARSE the exposition — every non-comment line must be
    // `name[{labels}] value`, the counters must match the snapshot, and
    // the served-plan decision gauges must ride along; non-/metrics
    // paths 404
    val srv = Api.batchedServer(points, k = 5, scoreThreshold = Some(0.1),
      recallTarget = Some(0.9))
    val http = srv.serveMetricsHttp()
    try {
      embs.foreach(e => Await.result(srv.submit(e), 2.minutes))
      def get(path: String): (Int, String) = {
        val url = java.net.URI
          .create(s"http://127.0.0.1:${http.boundPort}$path").toURL
        val conn = url.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        try {
          val code = conn.getResponseCode
          val is = if (code == 200) conn.getInputStream else conn.getErrorStream
          val body = scala.io.Source.fromInputStream(is, "UTF-8").mkString
          (code, body)
        } finally conn.disconnect()
      }
      val (code, body) = get("/metrics")
      assert(code == 200)
      val lines = body.linesIterator.toSeq
      val metricLine = "^([a-zA-Z_:][a-zA-Z0-9_:]*(\\{[^}]*\\})?) (-?[0-9.eE+-]+|NaN)$".r
      lines.filterNot(_.startsWith("#")).filter(_.nonEmpty).foreach { l =>
        assert(metricLine.findFirstIn(l).isDefined,
          s"unparseable exposition line: $l")
      }
      assert(lines.contains("graft_serving_requests_total 6"),
        s"request counter must be live in the scrape")
      val snap = srv.metricsSnapshot
      Seq("family_int8", "oversample", "recall_target", "sample_recall")
        .foreach { g =>
          val scraped = lines.collect {
            case l if l.startsWith(s"graft_serving_$g ") => l.split(' ')(1).toDouble
          }
          assert(scraped == Seq(snap(s"serving_$g")),
            s"served-plan decision gauge $g must ride the exposition: $scraped")
        }
      assert(get("/other")._1 == 404)
    } finally {
      http.close()
      srv.close()
    }
  }

  test("refresh: the served generation swaps atomically under load, a " +
      "sharded roll updates every shard, the job tier refuses") {
    import scala.concurrent.Await
    import scala.concurrent.duration._
    // probe query: a unit vector NOT in the collection; v2 adds a
    // sentinel row exactly equal to it, so post-refresh top-1 must be
    // the sentinel at score 1.0 (v1's best is strictly below 1)
    val dim = points.select("embedding").as[Seq[Double]].head().length
    val qRaw = (0 until dim).map(i => math.sin(i * 0.37 + 0.5))
    val norm = math.sqrt(qRaw.map(x => x * x).sum)
    val q = qRaw.map(_ / norm)
    val sentinel = Seq((990001L, q, 3)).toDF("id", "embedding", "user_id")
    val v2 = points.select("id", "embedding", "user_id").unionByName(sentinel)
    val srv = new BatchedServer(points, k = 5, threshold = 0.0)
    try {
      val before = Await.result(srv.submit(q), 2.minutes)
      assert(before.head.getLong(0) != 990001L && before.head.getDouble(1) < 1.0)
      // storm THROUGH the swap: zero failed futures, and every answer is
      // a coherent generation (v1's top-1 or the sentinel — a torn
      // replica/codes pairing would crash or emit garbage rows)
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val errs = new java.util.concurrent.atomic.AtomicInteger(0)
      val served = new java.util.concurrent.atomic.AtomicInteger(0)
      val stormers = (0 until 3).map { _ =>
        val t = new Thread(new Runnable {
          def run(): Unit = while (!stop.get()) {
            try {
              val r = Await.result(srv.submit(q), 2.minutes)
              val top = r.head.getLong(0)
              assert(top == before.head.getLong(0) || top == 990001L,
                s"incoherent generation: top-1 $top")
              served.incrementAndGet()
            } catch { case _: Throwable => errs.incrementAndGet() }
          }
        })
        t.setDaemon(true); t.start(); t
      }
      Thread.sleep(200)
      val d = srv.refresh(v2)
      assert(srv.servingDecision == d)
      Thread.sleep(200)
      stop.set(true)
      stormers.foreach(_.join(5000))
      assert(errs.get() == 0, s"refresh under load failed ${errs.get()} requests")
      assert(served.get() > 0)
      val after = Await.result(srv.submit(q), 2.minutes)
      assert(after.head.getLong(0) == 990001L && after.head.getDouble(1) == 1.0,
        s"sentinel must lead post-refresh, got ${after.head}")
    } finally srv.close()
    // sharded ROLL: every shard re-splits on the same hash and refreshes
    val sh = Api.shardedServer(points, k = 5, scoreThreshold = Some(0.0),
      shardMaxRows = 150)
    try {
      assert(sh.nShards > 1)
      assert(Await.result(sh.submit(q), 2.minutes).head.getLong(0) != 990001L)
      val ds = sh.refresh(v2)
      assert(ds.length == sh.nShards)
      val hits = Await.result(sh.submit(q), 2.minutes)
      assert(hits.head.getLong(0) == 990001L, "roll must surface the sentinel")
      // post-roll router ≡ solo search over v2, row for row
      val solo = Api.search(v2, Seq(q).toDF("qemb"), k = 5,
        scoreThreshold = Some(0.0)).collect()
      assert(hits.map(_.get(0)).toSeq == solo.map(_.get(0)).toSeq)
      assert(hits.map(_.get(1)).toSeq == solo.map(_.get(1)).toSeq)
    } finally sh.close()
    // the job tier serves its pinned template — refresh must refuse loud
    val job = new BatchedServer(points, k = 5, threshold = 0.0,
      localReplicaMaxRows = 0L)
    try {
      val ex = intercept[IllegalArgumentException](job.refresh(v2))
      assert(ex.getMessage.contains("replica-tier"))
    } finally job.close()
  }

  test("batchedServer job tier ≡ replica tier at extreme magnitudes (gate slack scales)") {
    // unnormalized rows with |aᵢbᵢ| products ~1e8+: the job tier's pinned
    // partitions score with the replica's own kernel and its gates (the
    // rounding gate and the certified f32 gate, whose bound scales with
    // the row and query norms), so both tiers must stay row-identical
    // far from unit norm too.
    val rnd = new scala.util.Random(31L)
    val dim = 64
    val big = (0 until 60).map { i =>
      (i.toLong, Seq.fill(dim)(rnd.nextGaussian() * 1e4), i % 4)
    }.toDF("id", "embedding", "user_id")
    val embs = (0 until 6).map(_ => Seq.fill(dim)(rnd.nextGaussian() * 1e4))
    // threshold below every score so ALL rows travel through the gate
    // (constructed directly: Api validates thresholds into [0,1])
    def serveAll(replicaRows: Long) = {
      import scala.concurrent.Await
      import scala.concurrent.duration._
      val srv = new BatchedServer(big, k = 9, threshold = -1e18,
        maxBatch = 3, localReplicaMaxRows = replicaRows)
      try embs.map(e => Await.result(srv.submit(e), 2.minutes))
      finally srv.close()
    }
    val viaReplica = serveAll(BatchedServer.DefaultReplicaMaxRows)
    val viaJob = serveAll(0L)
    viaReplica.zip(viaJob).foreach { case (r, j) =>
      assert(r.length == j.length, "row-count parity at extreme magnitudes")
      r.zip(j).foreach { case (a, b) =>
        assert(a.get(0) == b.get(0), "id parity at extreme magnitudes")
        assert(a.get(1) == b.get(1), "score parity at extreme magnitudes")
      }
    }
  }

  test("batchedServer job tier ≡ replica tier with a NaN row in the template") {
    // a NaN dot never places: both tiers skip the row and serve the rest
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val rnd = new scala.util.Random(41L)
    val dim = 16
    val rows = (0 until 40).map { i =>
      val e = Seq.fill(dim)(rnd.nextGaussian())
      (i.toLong, if (i == 13) e.updated(3, Double.NaN) else e, i % 3)
    }.toDF("id", "embedding", "user_id")
    val embs = (0 until 5).map(_ => Seq.fill(dim)(rnd.nextGaussian()))
    def serveAll(replicaRows: Long) = {
      val srv = new BatchedServer(rows, k = 9, threshold = -1e18,
        maxBatch = 3, localReplicaMaxRows = replicaRows)
      try embs.flatMap(e => Seq(Await.result(srv.submit(e), 2.minutes),
          Await.result(srv.submitFiltered(e, Seq(1, 2)), 2.minutes)))
        .map(_.map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq)
      finally srv.close()
    }
    val viaReplica = serveAll(BatchedServer.DefaultReplicaMaxRows)
    val viaJob = serveAll(0L)
    assert(viaReplica.forall(_.size == 9) && !viaReplica.flatten.exists(_._1 == 13L))
    assert(viaJob == viaReplica, "job tier diverged from the replica tier")
  }

  test("shardedServer: router over replica-sized shards ≡ solo search, row for row") {
    import scala.concurrent.Await
    import scala.concurrent.duration._
    intercept[IllegalArgumentException](Api.shardedServer(points, k = 0))
    val embs = points.orderBy("id").limit(12)
      .select("embedding").as[Seq[Double]].collect().toSeq
    // shardMaxRows far below the fixture size forces a REAL multi-shard
    // split — the replica-too-big regime at test scale; every shard's
    // slice fits its own BatchedServer replica tier
    val srv = Api.shardedServer(points, k = 7, scoreThreshold = Some(0.1),
      shardMaxRows = 150)
    try {
      assert(srv.nShards > 1, s"fixture must split, got ${srv.nShards} shard(s)")
      val results = embs.map(e => Await.result(srv.submit(e), 2.minutes))
      embs.zip(results).foreach { case (e, hits) =>
        val solo = Api.search(points, Seq(e).toDF("qemb"), k = 7,
          scoreThreshold = Some(0.1)).collect()
        assert(hits.map(_.get(0)).toSeq == solo.map(_.get(0)).toSeq, "id parity")
        assert(hits.map(_.get(1)).toSeq == solo.map(_.get(1)).toSeq, "score parity")
        assert(hits.map(_.get(2)).toSeq == solo.map(_.get(2)).toSeq, "user parity")
      }
      // concurrent submitters keep their own top-k through the router
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val futures = embs.map { e =>
        pool.submit(new java.util.concurrent.Callable[Array[org.apache.spark.sql.Row]] {
          def call() = Await.result(srv.submit(e), 2.minutes)
        })
      }
      val concurrent = futures.map(_.get())
      pool.shutdown()
      results.zip(concurrent).foreach { case (a, b) =>
        assert(a.map(_.get(0)).toSeq == b.map(_.get(0)).toSeq)
        assert(a.map(_.get(1)).toSeq == b.map(_.get(1)).toSeq)
      }
    } finally srv.close()
  }

  test("cross-shard ties: identical rows in different pmod buckets come back " +
      "in ascending id order through ShardedServer and RemoteShardedRouter") {
    import scala.concurrent.Await
    import scala.concurrent.duration._
    // 40 identical rows: pmod(id, 2) puts the even ids on one shard and
    // the odd ids on the other, so every shard's top-k ties with the
    // other's on every score and only the id order decides the merge
    val v = Seq(0.6, 0.8, 0.0, 0.0)
    val rows = (0 until 40).map(i => (i.toLong, v.toArray, i % 3))
    val k = 7
    val want = (0L until k.toLong).toSeq
    val users = Seq(0, 1, 2)
    def tiedIds(hits: Seq[(Long, Double)]): Unit = {
      assert(hits.map(_._1) == want, s"tie order broken: $hits")
      assert(hits.map(_._2).distinct.length == 1)
    }
    val srv = ShardedServer(rows.map { case (id, e, u) => (id, e.toSeq, u) }
      .toDF("id", "embedding", "user_id"), k, 0.1, shardMaxRows = 20)
    try {
      assert(srv.nShards == 2)
      for (hits <- Seq(srv.submit(v), srv.submitFiltered(v, users)))
        tiedIds(Await.result(hits, 2.minutes).toSeq.map(r => (r.getLong(0), r.getDouble(1))))
    } finally srv.close()
    // the same split over two in-spec shard workers
    val dir = tempDir("slab_ties").toString
    val ports = (0 until 2).map { s =>
      val slab = s"$dir/shard$s.slab"
      SlabIO.write(slab, rows.filter(_._1 % 2 == s).toArray)
      val port = {
        val sock = new java.net.ServerSocket(0)
        try sock.getLocalPort finally sock.close()
      }
      val t = new Thread(new Runnable {
        def run(): Unit = ShardWorker.run(
          Array(slab, port.toString, k.toString, "0.1", "threads=2"), _ => ())
      })
      t.setDaemon(true)
      t.start()
      port
    }
    val router = Drive.whenUp(new RemoteShardedRouter(
      ports.map(p => ("127.0.0.1", p)), k, connsPerShard = 2))
    try {
      val q = v.toArray
      for (hits <- Seq(router.search(q), router.searchFiltered(q, users.toArray),
          router.searchPartial(q, 60000).hits, router.searchHedged(q, 5, 60000).hits))
        tiedIds(hits.toSeq.map(h => (h._1, h._2)))
    } finally router.close()
  }

  test("withTimeout: fast queries pass through, runaway queries are cancelled") {
    // generous deadline: result returned untouched
    val n = Api.withTimeout(spark, timeoutSec = 60.0, tag = "fast") {
      points.limit(5).count()
    }
    assert(n == 5L)
    // tight deadline on a deliberately huge job: cancelled, not hung
    val err = intercept[RuntimeException] {
      Api.withTimeout(spark, timeoutSec = 0.5, tag = "runaway") {
        spark.range(Long.MaxValue / 4).selectExpr("sum(id * id)").count()
      }
    }
    assert(err.getMessage.contains("deadline"))
    // the session is still usable afterwards (group cancel, not ctx stop)
    assert(points.limit(1).count() == 1L)
  }
}
